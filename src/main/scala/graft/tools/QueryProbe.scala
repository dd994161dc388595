package graft.tools

import org.apache.spark.sql.SparkSession

/** Time individual SparkEntry queries in isolation (warm + 2 timed reps),
 *  with the number of Spark jobs each rep starts — the bench's query phase
 *  times each once under full-suite contention, which can't separate plan
 *  cost from noise. Usage:
 *  runMain graft.tools.QueryProbe <sfDir> <name> [name...] */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names; rep <- 1 to 3) {
      val t0 = System.nanoTime()
      // toRdd.count() evaluates the FULL physical plan — .count() lets
      // Catalyst prune key-unique outer joins and under-times any query
      // whose expensive work feeds only pruned branches
      val (n, jobs) = org.apache.spark.GraftListenerAccess.jobsOf(spark.sparkContext) {
        graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      }
      println(f"QPROBE $name%-20s rep$rep ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$n  jobs=$jobs")
    }
    spark.stop()
  }
}
