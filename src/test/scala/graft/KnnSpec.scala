package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.Cells
import graft.functions.GeoFunctions
import graft.query.Spatial
import graft.sources.Derived

/**
 * kNN parity with the reference R-tree tests
 * (/root/reference/pkg/datastructure/rtree_test.go:220-475): the
 * histogram-capped cell-cover kNN must return the R-tree's exact incremental-NN
 * results — same IDs, same order.
 */
class KnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 7 Surakarta/Yogyakarta objects (rtree_test.go:222-257) + seeded random
   *  points in the far-away Jakarta band (rtree_test.go:260). */
  lazy val points = {
    val fixed = Seq(
      (7L, -7.546392935195944, 110.77718220472673),
      (6L, -7.5559986670115675, 110.79466621171177),
      (5L, -7.555869730414206, 110.80500875243253),
      (4L, -7.571289544570394, 110.8301500772816),
      (3L, -7.7886707815273155, 110.361625035987),
      (2L, -7.8082872068169475, 110.35793427899466),
      (1L, -7.759889166547908, 110.36689459108496))
    val rnd = new scala.util.Random(42)
    val random = (8 to 20000).map { i =>
      (i.toLong,
        -6.107481038495567 + rnd.nextDouble() * (-5.995288834299442 + 6.107481038495567),
        106.13128828884481 + rnd.nextDouble() * (107.0509652831274 - 106.13128828884481))
    }
    (fixed ++ random).toDF("id", "lat", "lon")
      .withColumn("feature", concat(lit("f"), (col("id") % 3).cast("string")))
      .withColumn("cell", GeoFunctions.cellEncode(col("lat"), col("lon"), Cells.DefaultLevel))
      .cache()
  }

  test("5-NN returns exactly [7,6,5,4,1] in order (rtree_test.go:281-290)") {
    val res = Spatial.knn(points, -7.548263971398246, 110.78226484631368, 5)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(res == Seq(7L, 6L, 5L, 4L, 1L))
  }

  test("1-NN from Yogyakarta point returns ID 1 (rtree_test.go:355-365)") {
    val res = Spatial.knn(points, -7.760335932763678, 110.37671195413539, 1)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(res == Seq(1L))
  }

  test("radius 3km + feature filter: every result within radius and feature (rtree_test.go:369+)") {
    val res = Spatial.knn(points, -7.548263971398246, 110.78226484631368, 10,
      radiusKm = Some(3.0), feature = Some("f1")).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(r.getAs[Double]("dist_km") <= 3.0)
      assert(r.getAs[String]("feature") == "f1")
    }
  }

  test("kNN matches brute-force crossJoin oracle on the derived objects table") {
    val o = Derived.objects(spark, TestSpark.Sf)
    val (qLat, qLon) = (-7.25, 108.5)
    val got = Spatial.knn(o, qLat, qLon, 25).select("id").collect().map(_.getLong(0)).toSeq
    val brute = o.withColumn("d",
        GeoFunctions.haversineKm(lit(qLat), lit(qLon), col("lat"), col("lon")))
      .orderBy(col("d"), col("id")).limit(25)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == brute)
  }

  test("batch knnJoin matches per-query brute force") {
    val o = Derived.objects(spark, TestSpark.Sf)
    val queries = o.filter(col("id") % 500 === 0)
      .select(col("id").as("qid"), col("lat").as("qlat"), col("lon").as("qlon"))
    val got = Spatial.knnJoin(o, queries, k = 3)
      .select("qid", "id", "rn").collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val qs = queries.collect()
    assert(got.nonEmpty && qs.nonEmpty)
    for (q <- qs) {
      val brute = o.withColumn("d", GeoFunctions.haversineKm(
          lit(q.getDouble(1)), lit(q.getDouble(2)), col("lat"), col("lon")))
        .orderBy(col("d"), col("id")).limit(3)
        .select("id").collect().map(_.getLong(0)).toSeq
      val mine = (1 to 3).map(rn => got((q.getLong(0), rn)))
      assert(mine == brute, s"query ${q.getLong(0)}")
    }
  }

  test("single-point kNN far from all data converges via the coarsened range predicate") {
    val o = Derived.objects(spark, TestSpark.Sf)
    val (qLat, qLon) = (20.0, 50.0) // ~7000 km from the derived region
    val got = Spatial.knn(o, qLat, qLon, 4).select("id").collect().map(_.getLong(0)).toSeq
    val brute = o.withColumn("d",
        GeoFunctions.haversineKm(lit(qLat), lit(qLon), col("lat"), col("lon")))
      .orderBy(col("d"), col("id")).limit(4)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == brute)
  }

  test("rangeSearch equals brute-force bbox filter") {
    val o = Derived.objects(spark, TestSpark.Sf)
    val got = Spatial.rangeSearch(o, -7.8, 107.2, -6.9, 108.8)
      .select("id").collect().map(_.getLong(0)).toSet
    val brute = o.filter(col("lat").between(-7.8, -6.9) && col("lon").between(107.2, 108.8))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == brute)
    // lonMin > lonMax does not wrap across the antimeridian: the box is empty
    assert(Spatial.rangeSearch(o, -7.8, 108.8, -6.9, 107.2).count() == 0)
    assert(Cells.coverBBox(-7.8, 108.8, -6.9, 107.2, Cells.DefaultLevel).isEmpty)
  }
}
