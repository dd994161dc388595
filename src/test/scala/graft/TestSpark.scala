package graft

import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf = "/root/testdata/sf0.001"

  /** Runs `body` and returns its result with the number of Spark jobs it
   *  started (the listener bus is drained before and after). */
  def jobsOf[T](body: => T): (T, Int) =
    org.apache.spark.GraftListenerAccess.jobsOf(spark.sparkContext)(body)
}
