package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Cells, GeoMath}
import graft.functions.GeoFunctions
import graft.query.Spatial
import graft.sources.Derived

/**
 * The neighbour plan ([[Spatial.knnJoin]]) against brute-force haversine in
 * (dist, id) order: capped through its three wrappers — [[Spatial.knn]]
 * with a radius, [[Spatial.reverseGeocode]] and [[Spatial.nearestJoin]] —
 * and uncapped, where each query's cap comes from the cell-count
 * histogram, through `knnJoin` itself and [[Spatial.knn]] without a radius;
 * and [[Spatial.nearestWayJoin]], the capped plan with ways as its queries,
 * against brute-force polyline distance in (dist, way_id) order.
 * Points and queries mix in the edges where a cover that clamps longitude,
 * or takes its span from the centre's cos(lat), misses true neighbours:
 * |lat| > 89.5 and lon within 0.05 of ±180.
 */
class CappedNeighbourSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  type Pt = (Long, Double, Double, String)

  /** Somewhere near a pole, near the antimeridian, or anywhere else. */
  private val site: Gen[(Double, Double)] = Gen.oneOf(
    for (lat <- Gen.choose(89.5, 90.0); s <- Gen.oneOf(1.0, -1.0); lon <- Gen.choose(-180.0, 180.0))
      yield (s * lat, lon),
    for (lat <- Gen.choose(-60.0, 60.0); s <- Gen.oneOf(1.0, -1.0); d <- Gen.choose(0.0, 0.05))
      yield (lat, s * (180.0 - d)),
    for (lat <- Gen.choose(-80.0, 80.0); lon <- Gen.choose(-180.0, 180.0)) yield (lat, lon))

  private def near(c: (Double, Double)): Gen[(Double, Double)] =
    for (b <- Gen.choose(0.0, 360.0); d <- Gen.choose(0.0, 25.0))
      yield GeoMath.destinationPoint(c._1, c._2, b, d)

  /** A cluster around one site, a few edge points anywhere, and two exact
   *  duplicates so (dist, id) ties occur. */
  private val world: Gen[(Seq[Pt], (Double, Double))] = for {
    c <- site
    n <- Gen.choose(3, 40)
    locs <- Gen.listOfN(n, Gen.frequency(4 -> near(c), 1 -> site))
    feats <- Gen.listOfN(n, Gen.oneOf("f0", "f1"))
  } yield {
    val pts = locs.zip(feats).zipWithIndex.map { case (((la, lo), f), i) => (i + 1L, la, lo, f) }
    (pts ++ pts.take(2).map(p => p.copy(_1 = p._1 + 1000)), c)
  }

  private val capKm: Gen[Double] = Gen.oneOf(Gen.const(0.35), Gen.choose(0.05, 30.0))

  /** Anywhere on the sphere: mostly far from a cluster. */
  private val anywhere: Gen[(Double, Double)] =
    for (lat <- Gen.choose(-90.0, 90.0); lon <- Gen.choose(-180.0, 180.0)) yield (lat, lon)

  private def brute(pts: Seq[Pt], lat: Double, lon: Double,
                    km: Double = Double.MaxValue): Seq[(Long, Double)] =
    pts.map(p => (p._1, GeoMath.haversineKm(lat, lon, p._2, p._3)))
      .filter(_._2 <= km).sortBy(p => (p._2, p._1))

  /** Same ids and distances, up to order among near-equal distances. */
  private def same(got: Seq[(Long, Double)], exp: Seq[(Long, Double)]): Boolean =
    got.size == exp.size && got.zip(exp).forall { case ((gi, gd), (ei, ed)) =>
      math.abs(gd - ed) < 1e-6 && (gi == ei || math.abs(gd - ed) < 1e-6)
    }

  private def check(prop: Prop, n: Int): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  private def frame(pts: Seq[Pt]) = pts.toDF("id", "lat", "lon", "feature")
    .withColumn("cell", GeoFunctions.cellEncode(col("lat"), col("lon"), Cells.DefaultLevel))

  test("knn with radius, feature and offset == brute force") {
    val args = for {
      (pts, c) <- world
      q <- near(c)
      r <- capKm
      f <- Gen.option(Gen.oneOf("f0", "f1"))
      k <- Gen.choose(1, 8)
      off <- Gen.choose(0, 3)
    } yield (pts, q, r, f, k, off)
    check(Prop.forAll(args) { case (pts, (lat, lon), r, f, k, off) =>
      val got = Spatial.knn(frame(pts), lat, lon, k, radiusKm = Some(r), feature = f, offset = off)
        .collect()
      val exp = brute(pts.filter(p => f.forall(_ == p._4)), lat, lon, r).slice(off, off + k)
      same(got.map(x => (x.getAs[Long]("id"), x.getAs[Double]("dist_km"))).toSeq, exp) &&
        f.forall(v => got.forall(_.getAs[String]("feature") == v))
    }, 20)
  }

  test("reverseGeocode and nearestJoin == brute-force nearest within the cap") {
    val args = for {
      (pts, c) <- world
      qs <- Gen.listOfN(8, Gen.frequency(3 -> near(c), 1 -> site))
      km <- capKm
    } yield (pts, qs, km)
    check(Prop.forAll(args) { case (pts, qs, km) =>
      val queries = qs.zipWithIndex.map { case ((la, lo), i) => (i.toLong, la, lo) }
      val exp = queries.map(q => q._1 -> brute(pts, q._2, q._3, km).headOption).toMap
      val rev = Spatial.reverseGeocode(frame(pts), queries.toDF("qid", "qlat", "qlon"), capKm = km)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val join = Spatial.nearestJoin(queries.toDF("id", "lat", "lon"), frame(pts), km)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      Seq(rev, join).forall(got => queries.forall(q =>
        same(got.get(q._1).toSeq, exp(q._1).toSeq)))
    }, 12)
  }

  /** Each query's (id, dist_km) from `knnJoin` without a cap, in rn order,
   *  and whether every query's rn runs 1..n. */
  private def uncapped(pts: Seq[Pt], queries: Seq[(Long, Double, Double)], k: Int) = {
    val rows = Spatial.knnJoin(frame(pts), queries.toDF("qid", "qlat", "qlon"), k).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rn")).toSeq }
    queries.map(q => q._1 -> byQ.getOrElse(q._1, Seq.empty).map(r =>
      (r.getAs[Long]("id"), r.getAs[Double]("dist_km"))))
      .toMap -> byQ.values.forall(rs => rs.map(_.getAs[Int]("rn")) == (1 to rs.size))
  }

  test("knnJoin without a cap == brute force for dense, pole, antimeridian and far queries") {
    val args = for {
      (pts, c) <- world
      qs <- Gen.listOfN(6, Gen.frequency(3 -> near(c), 2 -> site, 1 -> anywhere))
      k <- Gen.choose(1, 8)
    } yield (pts, qs, k)
    check(Prop.forAll(args) { case (pts, qs, k) =>
      val queries = qs.zipWithIndex.map { case ((la, lo), i) => (i.toLong, la, lo) }
      val (got, ranked) = uncapped(pts, queries, k)
      ranked && queries.forall(q => same(got(q._1), brute(pts, q._2, q._3).take(k)))
    }, 10)
  }

  test("knn without a radius, with feature and offset == brute force") {
    val args = for {
      (pts, c) <- world
      q <- Gen.frequency(3 -> near(c), 1 -> site, 1 -> anywhere)
      f <- Gen.option(Gen.oneOf("f0", "f1"))
      k <- Gen.choose(1, 8)
      off <- Gen.choose(0, 3)
    } yield (pts, q, f, k, off)
    check(Prop.forAll(args) { case (pts, (lat, lon), f, k, off) =>
      val got = Spatial.knn(frame(pts), lat, lon, k, feature = f, offset = off).collect()
      val exp = brute(pts.filter(p => f.forall(_ == p._4)), lat, lon).slice(off, off + k)
      same(got.map(x => (x.getAs[Long]("id"), x.getAs[Double]("dist_km"))).toSeq, exp) &&
        f.forall(v => got.forall(_.getAs[String]("feature") == v))
    }, 10)
  }

  test("knnJoin without a cap: k above the table size returns every point, ties by id") {
    // two exact duplicates (ids 1 and 5) tie on distance and rank by id
    val pts = Seq((1L, 10.0, 20.0, "f0"), (2L, -45.0, 170.0, "f0"), (3L, 89.9, -179.9, "f1"),
      (5L, 10.0, 20.0, "f1"))
    val queries = Seq((7L, 10.001, 20.001), (8L, -89.0, 0.0))
    val (got, ranked) = uncapped(pts, queries, 10)
    assert(ranked)
    for (q <- queries) assert(same(got(q._1), brute(pts, q._2, q._3)), s"query ${q._1}: ${got(q._1)}")
    assert(got(7L).take(2).map(_._1) == Seq(1L, 5L) && got(7L)(0)._2 == got(7L)(1)._2)
  }

  test("knnJoin without a cap over an empty query frame: no rows, the output columns") {
    val empty = Seq.empty[(Long, Double, Double)].toDF("qid", "qlat", "qlon")
    val (res, jobs) = TestSpark.jobsOf {
      val df = Spatial.knnJoin(frame(Seq((1L, 0.0, 0.0, "f0"))), empty, 3)
      (df.columns.toSeq, df.count())
    }
    assert(res == (Seq("qid", "id", "dist_km", "rn"), 0L), s"ran $jobs jobs")
  }

  test("knnJoin without a cap finds a neighbour at the far corner of its histogram block") {
    // q sits at the lower-left corner of its level-10 cell; the one point
    // sits just inside the far corner of q's 3x3 block there, so the block
    // bound is all but exact and a cap 10% short of it drops the point
    val lvl = 10
    val cell = Cells.encode(80.0, 30.0, lvl)
    val (latLo, lonLo, latHi, lonHi) = Cells.bounds(cell)
    val (h, w) = (latHi - latLo, lonHi - lonLo)
    val q = (latLo + 1e-9, lonLo + 1e-9)
    val p = (latLo + 2 * h - 1e-7, lonLo + 2 * w - 1e-7)
    val d = GeoMath.haversineKm(q._1, q._2, p._1, p._2)
    assert(d > 0.95 * Cells.blockReachKm(q._1, q._2, lvl), "fixture drift")
    val (got, _) = uncapped(Seq((4L, p._1, p._2, "f0")), Seq((1L, q._1, q._2)), 1)
    assert(got(1L).map(_._1) == Seq(4L), s"neighbour at $d km missed")
  }

  test("the uncapped plans start no job until an action, and answer in a few") {
    val objs = Derived.objects(spark, TestSpark.Sf)
    val queries = objs.filter(col("id") % 97 === 0)
      .select(col("id").as("qid"), (col("lat") + 0.01).as("qlat"), (col("lon") - 0.01).as("qlon"))
    val (_, build) = TestSpark.jobsOf(Seq(Spatial.knnJoin(objs, queries, 5),
      Spatial.knn(objs, -7.25, 108.5, 10)))
    assert(build == 0, s"building the uncapped plans ran $build jobs")
    val (n, countJobs) = TestSpark.jobsOf(Spatial.knnJoin(objs, queries, 5).count())
    assert(n == 5 * queries.count() && countJobs <= 6, s"knnJoin count ran $countJobs jobs")
    val (nn, knnJobs) = TestSpark.jobsOf(Spatial.knn(objs, -7.25, 108.5, 10).collect())
    assert(nn.length == 10 && knnJobs <= 6, s"knn without a radius ran $knnJobs jobs")
  }

  // the cover cases that a clamped, centre-cos(lat) circle cover misses
  for (((q, p, km), name) <- Seq(
      (((0.0, 179.99), (0.0, -179.99), 5.0), "across the antimeridian"),
      (((89.95, 0.0), (89.95, 90.0), 10.0), "near the pole, 90 degrees apart"),
      (((89.95, 0.0), (89.95, 180.0), 15.0), "near the pole, 180 degrees apart"))) {
    test(s"knn with radius finds the neighbour $name") {
      val got = Spatial.knn(frame(Seq((2L, p._1, p._2, "f0"))), q._1, q._2, 5, radiusKm = Some(km))
        .collect()
      val d = GeoMath.haversineKm(q._1, q._2, p._1, p._2)
      assert(d <= km, s"fixture drift: $d km")
      assert(got.map(_.getAs[Long]("id")).toSeq == Seq(2L), s"neighbour at $d km missed")
      assert(math.abs(got.head.getAs[Double]("dist_km") - d) < 1e-9)
    }
  }

  type Way = (Long, Option[Seq[Double]], Option[Seq[Double]])

  /** A way of 1-4 vertices: its anchor, then vertices up to 3 km from it. */
  private def way(anchor: (Double, Double)): Gen[(Seq[Double], Seq[Double])] = for {
    n <- Gen.choose(0, 3)
    vs <- Gen.listOfN(n, for (b <- Gen.choose(0.0, 360.0); d <- Gen.choose(0.0, 3.0))
      yield GeoMath.destinationPoint(anchor._1, anchor._2, b, d))
  } yield ((anchor +: vs).map(_._1), (anchor +: vs).map(_._2))

  /** Ways anchored around one site and at edge sites, two duplicated under
   *  new ids (ties on distance) and two with a null coordinate array. */
  private val ways: Gen[(Seq[Way], (Double, Double))] = for {
    c <- site
    n <- Gen.choose(1, 12)
    anchors <- Gen.listOfN(n, Gen.frequency(4 -> near(c), 1 -> site))
    geoms <- Gen.sequence[List[(Seq[Double], Seq[Double])], (Seq[Double], Seq[Double])](anchors.map(way))
  } yield {
    val ws = geoms.zipWithIndex.map { case ((la, lo), i) => (i + 1L, Option(la), Option(lo)) }
    (ws ++ ws.take(2).map(w => w.copy(_1 = w._1 + 1000)) ++
      Seq((2001L, None, ws.head._3), (2002L, ws.head._2, None)), c)
  }

  test("nearestWayJoin == brute-force nearest way within maxKm, both refine modes") {
    val args = for {
      (ws, c) <- ways
      qs <- Gen.listOfN(8, Gen.frequency(3 -> near(c), 1 -> site, 1 -> anywhere,
        1 -> Gen.oneOf(ws.collect { case (_, Some(la), Some(lo)) => la.zip(lo) }.flatten)))
      km <- capKm
    } yield (ws, qs, km)
    check(Prop.forAll(args) { case (ws, qs, km) =>
      val queries = qs.zipWithIndex.map { case ((la, lo), i) => (i.toLong, Option(la), Option(lo)) } ++
        Seq((100L, None, Some(qs.head._2)), (101L, Some(qs.head._1), None))
      Seq(true, false).forall { endpointsOnly =>
        val got = Spatial.nearestWayJoin(queries.toDF("qid", "qlat", "qlon"),
            ws.toDF("way_id", "wlats", "wlons"), km, endpointsOnly = endpointsOnly)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
        queries.forall {
          case (qid, Some(la), Some(lo)) =>
            val exp = ws.collect { case (id, Some(lats), Some(lons)) =>
              val (rl, ro) = if (endpointsOnly) (Seq(lats.head, lats.last), Seq(lons.head, lons.last))
                else (lats, lons)
              (id, GeoMath.pointToPolylineKm(la, lo, rl.toArray, ro.toArray))
            }.filter(_._2 <= km).minByOption(p => (p._2, p._1))
            same(got.get(qid).toSeq, exp.toSeq)
          case (qid, _, _) => !got.contains(qid)
        }
      }
    }, 12)
  }

  test("capped plans start no job until an action, and answer one query in a few") {
    val objs = Derived.objects(spark, TestSpark.Sf)
    val first = objs.select("lat", "lon", "feature").head()
    val (lat, lon, feature) = (first.getDouble(0), first.getDouble(1), first.getString(2))
    val query = Seq((1L, lat + 0.001, lon)).toDF("qid", "qlat", "qlon")
    val left = objs.select("id", "lat", "lon")
    val ways = Derived.ways(spark, TestSpark.Sf)
    val (_, build) = TestSpark.jobsOf(Seq(
      Spatial.nearestJoin(left, objs, 5.0),
      Spatial.reverseGeocode(objs, query),
      Spatial.nearestWayJoin(query, ways, 30.0),
      Spatial.knn(objs, lat, lon, 5, radiusKm = Some(3.0), feature = Some(feature))))
    assert(build == 0, s"building the capped plans ran $build jobs")
    val (rev, revJobs) = TestSpark.jobsOf(Spatial.reverseGeocode(objs, query).collect())
    assert(rev.length == 1 && revJobs <= 3, s"reverseGeocode ran $revJobs jobs")
    val (places, knnJobs) = TestSpark.jobsOf(
      Spatial.knn(objs, lat, lon, 5, radiusKm = Some(3.0), feature = Some(feature)).collect())
    assert(places.nonEmpty && knnJobs <= 1, s"knn with a radius ran $knnJobs jobs")
  }

  test("the capped plans evaluate the haversine once per candidate") {
    val objs = Derived.objects(spark, TestSpark.Sf)
    val query = Seq((1L, -6.2, 106.8)).toDF("qid", "qlat", "qlon")
    // the haversine is the only SQRT in either plan
    def sqrts(df: org.apache.spark.sql.DataFrame) =
      "SQRT\\(".r.findAllMatchIn(df.queryExecution.executedPlan.toString).size
    assert(sqrts(Spatial.reverseGeocode(objs, query)) == 1,
      Spatial.reverseGeocode(objs, query).queryExecution.executedPlan.toString)
    assert(sqrts(Spatial.knn(objs, -6.2, 106.8, 5, radiusKm = Some(3.0))) == 1)
  }
}
