package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cells
import graft.entry.SpatialQueries
import graft.images.Images
import graft.index.TextIndex
import graft.query.Spatial

/**
 * The end-to-end spark-submit pipeline of the north rule: synthesize the
 * image+caption table (input_hint schema) → tile-assign with adaptive
 * cell splitting → build the caption inverted index → PIP geofence join →
 * kNN join → per-row decode/caption invariant check. Every stage is a
 * [[TableIO.stage]] checkpoint with a per-partition lineage manifest;
 * re-running the same (sfDir, outDir) skips completed stages — exact
 * resume per BASELINE.json north_rule.
 *
 * Usage:
 *   spark-submit --class graft.pipeline.Pipeline <jar> <sfDir> <outDir> [cpus]
 * or from sbt: runMain graft.pipeline.Pipeline /root/testdata/sf0.01 /tmp/out
 *
 * Prints one JSON line per stage ({"stage":…,"rows":…,"wall_sec":…,
 * "resumed":…}) and a final summary line.
 */
object Pipeline {

  def run(spark: SparkSession, sfDir: String, outDir: String): Seq[(String, Long, Double, Boolean)] = {
    val metrics = scala.collection.mutable.ArrayBuffer[(String, Long, Double, Boolean)]()

    def stage(name: String, partitionBy: Seq[String] = Nil)(compute: => DataFrame): DataFrame = {
      val resumed = TableIO.isComplete(outDir, name)
      val t0 = System.nanoTime()
      val df = TableIO.stage(spark, outDir, name, partitionBy)(compute)
      // exact: the manifest sums the parquet footers the write produced
      val rows = TableIO.manifest(outDir, name).table().rows
      val wall = (System.nanoTime() - t0) / 1e9
      metrics += ((name, rows, wall, resumed))
      println(s"""{"stage":"$name","rows":$rows,"wall_sec":$wall,"resumed":$resumed}""")
      df
    }

    // 1. the input table itself (input_hint schema), deterministic synth
    val images = stage("images") { Images.imageTable(spark, sfDir) }

    // 2. tile assignment with adaptive splitting of dense cells; bytes are
    //    projected away BEFORE the shuffle (SURVEY.md §7.4) and the table is
    //    physically bucketed by cell hash so downstream cell joins prune
    val tiles = stage("tiles", partitionBy = Seq("bucket")) {
      val geo = Images.withGeo(images)
        .select(col("image_id"), col("caption"), col("lat"), col("lon"), col("cell"))
        .withColumn("id", xxhash64(col("image_id")))
      Skew.adaptiveCells(geo, maxRowsPerCell = 4096)
        .withColumn("bucket", pmod(xxhash64(col("acell")), lit(32)))
    }

    // 3. caption inverted index (SPIMI ≡ groupBy partial+final agg)
    stage("postings") {
      TextIndex.postings(tiles.select(col("id"), col("caption")), "id", "caption")
    }

    // 4. PIP geofence join: broadcast polygon cell cover + exact refine
    stage("pip") {
      Spatial.pipJoin(tiles, SpatialQueries.Polygons.all)
    }

    // 5. kNN join of a deterministic query sample (~1 row in 8, so a
    //    40-document input still has queries) against the tiled table
    stage("knn") {
      val queries = tiles.filter(pmod(col("id"), lit(8L)) === 0)
        .select(col("id").as("qid"), (col("lat") + 0.01).as("qlat"),
          (col("lon") - 0.01).as("qlon"))
      Spatial.knnJoin(tiles, queries, k = 5)
    }

    // 6. per-row invariant (input_hint): decoded pixels allclose
    //    (PSNR>=40dB lossy), caption equality — persisted as evidence
    stage("verify") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      Images.decodeVerify(images, docs)
        .agg(count(lit(1)).as("rows"),
          sum(when(col("pixels_ok") && col("caption_ok"), 0L).otherwise(1L)).as("violations"),
          min(col("psnr4")).as("min_psnr4"))
    }

    metrics.toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-pipeline"
    val cpus = if (args.length > 2) args(2) else "32"
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // the bounded top-k udaf keeps ~1k groups per map task; the default
      // ObjectHashAggregate fallback threshold (128 groups) would silently
      // degrade it to sort-based agg over every candidate row
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val m = run(spark, sfDir, outDir)
    val wall = (System.nanoTime() - t0) / 1e9
    val stagesJson = m.map { case (n, r, w, res) =>
      s"""{"stage":"$n","rows":$r,"wall_sec":$w,"resumed":$res}"""
    }.mkString("[", ",", "]")
    println(s"""{"pipeline":"graft","sf":"$sfDir","out":"$outDir","wall_sec":$wall,"stages":$stagesJson}""")
    spark.stop()
  }
}
