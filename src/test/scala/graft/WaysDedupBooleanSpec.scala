package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.GeoMath
import graft.ml.Dedup
import graft.query.{BooleanQuery, Spatial}
import graft.sources.Derived

/**
 * Round-2 operators: nearest-way join (both reference refine semantics),
 * same-name bbox-containment dedup, boolean query parsing/evaluation, and
 * the knnJoin wide search (a query far from every point).
 */
class WaysDedupBooleanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- nearestWayJoin ------------------------------------------------------

  test("nearestWayJoin (closed ring, searcher.go:438-460) matches driver-side brute force") {
    val ways = Derived.ways(spark, TestSpark.Sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray))
    val queries = Derived.objects(spark, TestSpark.Sf).filter(col("id") % 731 === 0)
      .select(col("id").as("qid"), (col("lat") + 0.001).as("qlat"),
        (col("lon") - 0.0015).as("qlon"))
    val got = Spatial.nearestWayJoin(queries, Derived.ways(spark, TestSpark.Sf),
        maxKm = 30.0, endpointsOnly = false)
      .collect().map(r => r.getAs[Any]("qid") -> (r.getAs[Long]("way_id"), r.getAs[Double]("dist_km"))).toMap
    val qs = queries.collect()
    assert(qs.nonEmpty && got.nonEmpty)
    for (q <- qs) {
      val (qid, qlat, qlon) = (q.get(0), q.getDouble(1), q.getDouble(2))
      val brute = ways.map { case (wid, lats, lons) =>
        (wid, GeoMath.pointToPolylineKm(qlat, qlon, lats, lons))
      }.filter(_._2 <= 30.0).minByOption(p => (p._2, p._1))
      assert(got.get(qid) === brute, s"query $qid")
    }
  }

  test("empty inputs keep the output schemas: nearestWayJoin with no ways, nearestJoin with no left rows") {
    val ways = Derived.ways(spark, TestSpark.Sf)
    val queries = Derived.objects(spark, TestSpark.Sf).limit(3)
      .select(col("id").as("qid"), col("lat").as("qlat"), col("lon").as("qlon"))
    val noWays = Spatial.nearestWayJoin(queries, ways.filter(col("way_id") < 0), maxKm = 30.0)
    assert(noWays.columns.toSeq == Seq("qid", "way_id", "dist_km"))
    assert(noWays.count() == 0)
    val objs = Derived.objects(spark, TestSpark.Sf)
    val noLeft = Spatial.nearestJoin(objs.filter(col("id") < 0), objs, maxKm = 5.0)
    assert(noLeft.columns.toSeq == Seq("lid", "rid", "dist_km"))
    assert(noLeft.count() == 0)
  }

  // the bbox prefilter must stay conservative where longitude stops bounding
  // distance: above the latitude-band cap, and across the antimeridian
  private def nearestPair(l: (Double, Double), r: (Double, Double), maxKm: Double): Unit = {
    val left = Seq((1L, l._1, l._2)).toDF("id", "lat", "lon")
    val right = Seq((2L, r._1, r._2)).toDF("id", "lat", "lon")
    val got = Spatial.nearestJoin(left, right, maxKm).collect()
    val brute = GeoMath.haversineKm(l._1, l._2, r._1, r._2)
    assert(brute <= maxKm, s"fixture drift: $brute km")
    assert(got.length == 1, s"pair at $brute km dropped")
    assert(got.head.getAs[Long]("rid") == 2L)
    assert(math.abs(got.head.getAs[Double]("dist_km") - brute) < 1e-9)
  }

  test("nearestJoin keeps a within-radius pair near the pole") {
    nearestPair((89.95, 0.0), (89.95, 90.0), maxKm = 10.0)
  }

  test("nearestJoin keeps a within-radius pair across the antimeridian") {
    nearestPair((0.0, 179.99), (0.0, -179.99), maxKm = 5.0)
  }

  test("nearestWayJoin endpointsOnly reproduces GetFullAdress' single-segment projection (indexer.go:1004-1022)") {
    val ways = Derived.ways(spark, TestSpark.Sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray))
    val queries = Seq((1L, -7.3, 108.1), (2L, -6.2, 106.9)).toDF("qid", "qlat", "qlon")
    val got = Spatial.nearestWayJoin(queries, Derived.ways(spark, TestSpark.Sf),
        maxKm = 50.0, endpointsOnly = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    for ((qid, qlat, qlon) <- Seq((1L, -7.3, 108.1), (2L, -6.2, 106.9))) {
      val brute = ways.map { case (wid, lats, lons) =>
        (wid, GeoMath.pointToPolylineKm(qlat, qlon,
          Array(lats.head, lats.last), Array(lons.head, lons.last)))
      }.filter(_._2 <= 50.0).minByOption(p => (p._2, p._1))
      assert(got.get(qid) === brute.map(p => (p._1, p._2)), s"query $qid")
    }
  }

  // a cover that picks one level for every way from the ways' latitude band
  // (clamped below the pole) or clamps longitude drops ways within maxKm
  // here; (query, expected distance) against one way, in both refine modes
  private def nearestWay(wlats: Seq[Double], wlons: Seq[Double], maxKm: Double,
                         qs: Seq[((Double, Double), Double)]): Unit = {
    val ways = Seq((7L, wlats, wlons)).toDF("way_id", "wlats", "wlons")
    val queries = qs.zipWithIndex.map { case (((la, lo), _), i) => (i.toLong, la, lo) }
      .toDF("qid", "qlat", "qlon")
    for (endpointsOnly <- Seq(true, false)) {
      val got = Spatial.nearestWayJoin(queries, ways, maxKm, endpointsOnly = endpointsOnly)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      for ((((la, lo), km), i) <- qs.zipWithIndex) {
        val d = GeoMath.pointToPolylineKm(la, lo, wlats.toArray, wlons.toArray)
        assert(math.abs(d - km) < 1e-3 && d <= maxKm, s"fixture drift: $d km")
        assert(got.get(i.toLong) == Some((7L, d)),
          s"way at $d km from ($la, $lo) dropped, endpointsOnly = $endpointsOnly: $got")
      }
    }
  }

  test("nearestWayJoin keeps a way within maxKm near the pole") {
    nearestWay(Seq(89.99, 89.99), Seq(0.0, 0.001), 5.0,
      Seq((89.99, 90.0) -> 1.573, (89.99, 180.0) -> 2.224))
  }

  test("nearestWayJoin keeps a way within maxKm across the antimeridian") {
    nearestWay(Seq(0.0, 0.0), Seq(179.99, 179.995), 5.0, Seq((0.0, -179.99) -> 1.668))
    // a way crossing it: the refine projects onto the arc over ±180
    nearestWay(Seq(0.0, 0.0), Seq(179.99, -179.995), 5.0,
      Seq((0.0, -179.99) -> 0.556, (0.0, 179.98) -> 1.112))
  }

  // ---- spatial (name + bbox) dedup -----------------------------------------

  test("spatialClusters: nested same-name boxes collapse to min id, either containment direction counts") {
    val objs = Seq(
      // cluster: 10 contains 11 contains 12 (same name)
      (10L, "a", -7.0, -6.0, 106.0, 108.0),
      (11L, "a", -6.8, -6.2, 106.5, 107.5),
      (12L, "a", -6.7, -6.3, 106.8, 107.2),
      // same name, disjoint box: own cluster
      (13L, "a", -9.0, -8.5, 110.0, 110.5),
      // inverseContain: 21 CONTAINS the earlier 20 (indexer.go:601-604)
      (20L, "b", -7.0, -6.9, 106.0, 106.1),
      (21L, "b", -7.5, -6.5, 105.5, 106.5),
      // overlapping but neither contains: separate
      (30L, "c", -7.0, -6.0, 106.0, 107.0),
      (31L, "c", -6.5, -5.5, 106.5, 107.5),
      // same boxes, different names: separate
      (40L, "d", -7.0, -6.0, 106.0, 108.0),
      (41L, "e", -7.0, -6.0, 106.0, 108.0)
    ).toDF("id", "name", "lat_min", "lat_max", "lon_min", "lon_max")
    val got = Dedup.spatialClusters(objs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 13L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 31L, 40L -> 40L, 41L -> 41L))
  }

  // ---- boolean query parser (boolean_query.go:43-148) ----------------------

  private lazy val postings = Seq(
    ("x", 1L), ("x", 2L), ("x", 3L),
    ("y", 2L), ("y", 3L), ("y", 4L),
    ("z", 3L), ("z", 5L)
  ).toDF("term", "doc_id")

  private def ids(q: String): Set[Long] =
    BooleanQuery.eval(postings, q).collect().map(_.getLong(0)).toSet

  test("boolean eval: AND / OR / NOT / parens with the reference precedences") {
    assert(ids("x AND y") == Set(2L, 3L))
    assert(ids("x OR z") == Set(1L, 2L, 3L, 5L))
    assert(ids("x NOT y") == Set(1L))
    // NOT(3) binds tighter than OR(1): x OR (y NOT z)
    assert(ids("x OR y NOT z") == Set(1L, 2L, 3L, 4L))
    // parens override
    assert(ids("(x OR y) NOT z") == Set(1L, 2L, 4L))
    // AND(2) over OR(1): (y NOT z) OR ... and x AND y first
    assert(ids("x AND y OR z") == Set(2L, 3L, 5L))
    assert(ids("x AND (y OR z)") == Set(2L, 3L))
  }

  test("boolean parser rejects unbalanced parens") {
    intercept[IllegalArgumentException](ids("(x AND y"))
    intercept[IllegalArgumentException](ids("x AND y)"))
  }

  // ---- knnJoin wide-search behaviors ---------------------------------------

  test("knnJoin converges for far-from-data queries via level coarsening " +
    "(zero-candidate rounds keep the query pending; broadcast stays <=25 cells/query)") {
    val o = Derived.objects(spark, TestSpark.Sf)
    // ~1700 km from the data band: rounds 1..n see zero candidates
    val far = Seq((900001L, 5.0, 120.0)).toDF("qid", "qlat", "qlon")
    val got = Spatial.knnJoin(o, far, k = 3)
      .orderBy(col("rn")).collect().map(_.getAs[Long]("id")).toSeq
    val brute = o.withColumn("d", graft.functions.GeoFunctions.haversineKm(
        lit(5.0), lit(120.0), col("lat"), col("lon")))
      .orderBy(col("d"), col("id")).limit(3)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == brute)
  }
}
