package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.entry.SpatialQueries
import graft.query.Spatial
import graft.sources.Derived

/** Phase-level timing of the north job at one parallelism level —
 *  diagnostic only. Usage: runMain graft.tools.NorthDiag <cpus> <inputPath>
 *  [aqe=true|false] */
object NorthDiag {
  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val inputPath = args(1)
    val aqe = if (args.length > 2) args(2) else "true"
    val mpb = if (args.length > 3) args(3).toLong else 16L * 1024 * 1024
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", aqe)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.sql.files.maxPartitionBytes", mpb.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"PHASE $name%-12s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); a
    }

    for (round <- Seq("warm", "timed1", "timed2")) {
      println(s"== $round (cpus=$cpus, aqe=$aqe, mpb=$mpb)")
      val t0 = System.nanoTime()
      val objs = spark.read.parquet(inputPath)
        .withColumn("cell", graft.functions.GeoFunctions.cellEncode(
          col("lat"), col("lon"), graft.core.Cells.DefaultLevel))
      val total = time("tileagg")(objs.groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(sum("n")).head().getLong(0))
      time("pip")(Spatial.pipJoin(objs, SpatialQueries.Polygons.all).count())
      val qMod = math.max(1L, total / 1024)
      val queries = spark.range(0L, total, qMod)
        .select(col("id").as("qid"),
          (Derived.latExpr(col("id")) + 0.01).as("qlat"),
          (Derived.lonExpr(col("id")) - 0.01).as("qlon"))
      time("knn")(Spatial.knnJoin(objs, queries, k = 5).count())
      println(f"PHASE all          ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    spark.stop()
  }
}
