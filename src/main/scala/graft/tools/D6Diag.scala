package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ml.Dedup

/** Where do d6_dup_clusters' ~2.5 s go? Phase breakdown at sf0.01:
 *  signatures+candidates vs the components loop. */
object D6Diag {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      // this diagnostic measures the DISTRIBUTED loop's per-round cost;
      // production small graphs take the driver fast path instead
      .config("spark.graft.components.driverMax", "0")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (rep <- 1 to 3) {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < 200)
      val t0 = System.nanoTime()
      val pairs = Dedup.minhashCandidates(
        Dedup.minhashSignatures(d, "doc_id", "text")).persist()
      val nPairs = pairs.count()
      val t1 = System.nanoTime()
      val out = Dedup.dupClusters(d, "doc_id", pairs).count()
      val t2 = System.nanoTime()
      println(f"D6DIAG rep$rep pairs=$nPairs sig_cand=${(t1 - t0) / 1e9}%.2f s " +
        f"components=${(t2 - t1) / 1e9}%.2f s rows=$out")
      graft.ml.Components.releaseResults()
      pairs.unpersist()
    }
    spark.stop()
  }
}
