package graft

import java.sql.Timestamp

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GeoMath
import graft.query.Geofence
import graft.query.Geofence.{Fence, FenceGrid}
import graft.streaming.GeofenceStream

/**
 * [[FenceGrid.nearest]], the one nearest-fence index of the batch operator
 * past [[Geofence.LiteralFenceMax]] fences and of the streaming operator,
 * against brute force in (GeoMath distance, key) order. Fence sets are
 * clustered around one site or spread over a continent-sized band, mixed
 * with fences at |lat| > 89.5 and lon within 0.05 of ±180, where the probe
 * disks wrap and the stop bound goes to 0, and with duplicate centres,
 * which tie by key.
 */
class FenceGridSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Somewhere near a pole, near the antimeridian, or anywhere else. */
  private val site: Gen[(Double, Double)] = Gen.oneOf(
    for (lat <- Gen.choose(89.5, 90.0); s <- Gen.oneOf(1.0, -1.0); lon <- Gen.choose(-180.0, 180.0))
      yield (s * lat, lon),
    for (lat <- Gen.choose(-60.0, 60.0); s <- Gen.oneOf(1.0, -1.0); d <- Gen.choose(0.0, 0.05))
      yield (lat, s * (180.0 - d)),
    for (lat <- Gen.choose(-80.0, 80.0); lon <- Gen.choose(-180.0, 180.0)) yield (lat, lon))

  private def near(c: (Double, Double), km: Double): Gen[(Double, Double)] =
    for (b <- Gen.choose(0.0, 360.0); d <- Gen.choose(0.0, km))
      yield GeoMath.destinationPoint(c._1, c._2, b, d)

  private val band: Gen[(Double, Double)] =
    for (lat <- Gen.choose(-60.0, 60.0); lon <- Gen.choose(-180.0, 180.0)) yield (lat, lon)

  /** 65-300 fences, clustered within 30 km of a site or continent-sparse,
   *  a seventh of them at edge sites, plus up to 5 duplicate centres. Keys
   *  are scrambled so that key order is not position order. Also returns
   *  the cluster site. */
  private val fenceSet: Gen[(Seq[Fence], (Double, Double))] = for {
    c <- site
    clustered <- Gen.oneOf(true, false)
    n <- Gen.choose(65, 300)
    locs <- Gen.listOfN(n, Gen.frequency(6 -> (if (clustered) near(c, 30.0) else band), 1 -> site))
    dups <- Gen.choose(0, 5)
  } yield {
    val all = locs ++ locs.take(dups)
    (all.zipWithIndex.map { case ((la, lo), i) => Fence(f"f${i * 7919 % 1000}%04d", la, lo, 2.0) }, c)
  }

  private def brute(fences: Seq[Fence], lat: Double, lon: Double, k: Int): Seq[String] =
    fences.sortBy(f => (GeoMath.haversineKm(lat, lon, f.lat, f.lon), f.key)).take(k).map(_.key)

  private def check(prop: Prop, n: Int): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("FenceGrid.nearest == brute force for clustered, sparse, edge and far points") {
    val args = for {
      (fences, c) <- fenceSet
      pts <- Gen.listOfN(8, Gen.frequency(3 -> near(c, 50.0), 2 -> site, 1 -> band))
      antipode = (-c._1, if (c._2 > 0) c._2 - 180.0 else c._2 + 180.0)
    } yield (fences, pts :+ antipode :+ ((fences.head.lat, fences.head.lon)))
    check(Prop.forAllNoShrink(args) { case (fences, pts) =>
      val grid = FenceGrid.build(fences)
      val failures = for {
        (lat, lon) <- pts
        k <- Seq(1, 3, 7, fences.size + 2)
        got = grid.nearest(lat, lon, k).map(_.key)
        exp = brute(fences, lat, lon, k)
        if got != exp
      } yield s"($lat, $lon) k=$k: got ${got.take(8)} expected ${exp.take(8)}"
      Prop(failures.isEmpty) :| failures.take(3).mkString("; ")
    }, 150)
  }

  test("duplicate centres tie by key") {
    val fences = Seq("d", "b", "c", "a").map(Fence(_, 89.8, 179.99, 1.0)) ++
      (0 until 70).map(i => Fence(f"z$i%02d", -30.0 + i, 10.0, 1.0))
    val grid = FenceGrid.build(fences)
    assert(grid.nearest(89.8, 179.99, 3).map(_.key) == Seq("a", "b", "c"))
    val five = grid.nearest(89.9, -179.99, 5).map(_.key)
    assert(five.take(4) == Seq("a", "b", "c", "d") && five == brute(fences, 89.9, -179.99, 5))
  }

  test("grid-path fenceStatus == GeofenceStream on one input with edge fences") {
    val rng = new scala.util.Random(7)
    val fences = (0 until 120).map { i =>
      val (lat, lon) = i % 4 match {
        case 0 => (89.6 + rng.nextDouble() * 0.4, rng.nextDouble() * 360 - 180)
        case 1 => (rng.nextDouble() * 120 - 60, 179.96 + rng.nextDouble() * 0.04)
        case _ => (-7.5 + rng.nextDouble() * 2, 110.0 + rng.nextDouble() * 2)
      }
      Fence(f"e$i%03d", lat, lon, 5.0 + rng.nextDouble() * 40)
    }
    val track = (0 until 40).map { i =>
      val f = fences(rng.nextInt(fences.size))
      val (lat, lon) = GeoMath.destinationPoint(f.lat, f.lon, rng.nextDouble() * 360, rng.nextDouble() * 60)
      (i.toLong, (i % 5).toLong, new Timestamp(1700000000000L + i * 60000L), lat, lon)
    }.toDF("event_id", "user_id", "ts", "lat", "lon")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "fence_key", "seq", "status").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(fences.size > Geofence.LiteralFenceMax)
    val batch = keys(Geofence.fenceStatus(track, fences))
    val stream = keys(GeofenceStream.runBatchAsStream(spark, track, fences,
      queryName = "fence_grid_edges"))
    assert(batch.exists(_._4 != "OUTSIDE"), "no track point came inside a fence")
    assert(batch.nonEmpty && stream == batch,
      s"stream/batch diverged: ${stream.diff(batch).take(3)} vs ${batch.diff(stream).take(3)}")
  }
}
