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
 * The capped neighbour plan ([[Spatial.knnJoin]] with `maxKm`) through its
 * three wrappers — [[Spatial.knn]] with a radius, [[Spatial.reverseGeocode]]
 * and [[Spatial.nearestJoin]] — against brute-force haversine in (dist, id)
 * order. Points and queries mix in the edges where a cover that clamps
 * longitude, or takes its span from the centre's cos(lat), misses true
 * neighbours: |lat| > 89.5 and lon within 0.05 of ±180.
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

  private def brute(pts: Seq[Pt], lat: Double, lon: Double, km: Double): Seq[(Long, Double)] =
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

  test("capped plans start no job until an action, and answer one query in a few") {
    val objs = Derived.objects(spark, TestSpark.Sf)
    val first = objs.select("lat", "lon", "feature").head()
    val (lat, lon, feature) = (first.getDouble(0), first.getDouble(1), first.getString(2))
    val query = Seq((1L, lat + 0.001, lon)).toDF("qid", "qlat", "qlon")
    val left = objs.select("id", "lat", "lon")
    val (_, build) = TestSpark.jobsOf(Seq(
      Spatial.nearestJoin(left, objs, 5.0),
      Spatial.reverseGeocode(objs, query),
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
