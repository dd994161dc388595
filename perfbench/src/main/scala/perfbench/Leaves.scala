package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/**
 * The leaf phase of the `north` workload: one [[SparkEntry.queries]] leaf
 * from each entry map, the only way in to `Raster` and `Skew` and to most
 * of `ml/`, run by name over tables generated from the seed (an orders
 * table and a documents table in the test tables' schemas). Each leaf is
 * forced by writing its rows to parquet, which computes every column.
 * Outside the timers the launcher compares every written leaf with the
 * leaf's DuckDB oracle ([[SparkEntry.oracleSql]]) over the same tables.
 */
object Leaves {
  /** Leaf name -> its entry map. t1, so4 and x5 are among the leaves the
   *  ROADMAP targets. */
  val Leaves: Seq[(String, String)] = Seq(
    "t1_reverse_geocode" -> "spatial", "so4_boolean_expr" -> "text",
    "x5_lm_score" -> "ml", "g4_salted_agg" -> "skew", "g6_rasterize" -> "raster")

  /** Words the text leaves query for ("spark", "join", "vector",
   *  "window"), planted at the top of the documents' vocabulary. */
  val Planted = Seq("spark", "join", "vector", "window")

  val layerMetrics: Seq[(String, String)] =
    Leaves.map(_._2).flatMap(g => Seq(s"leaves.$g.wall_s" -> "s", s"leaves.$g.jobs" -> "count",
      s"leaves.$g.cpu_s" -> "s", s"leaves.$g.driver_s" -> "s")) ++
    Leaves.map { case (n, _) => s"leaves.q.$n.wall_s" -> "s" }

  /** Set-up: the generated tables the leaves read. `orders` holds the
   *  order keys the north input is scaled from. */
  def prepare(ctx: Ctx, s: SparkSession, orderKeys: Seq[Long]): String = {
    val o = ctx.o
    val dir = ctx.dir("leaves-sf")
    val nDocs = if (o.tiny) 60 else 300
    val vocab = Planted.toIndexedSeq ++ Data.vocabulary(o.seed + 5, if (o.tiny) 200 else 1200)
    Data.writeOrders(s, dir, orderKeys)
    Data.writeDocs(s, dir, Data.documents(o.seed + 5, vocab, nDocs))
    ctx.out.info ++= Seq("leaves" -> Leaves.map(_._1), "leaves_docs" -> nDocs,
      "leaves_orders" -> orderKeys.size)
    dir
  }

  /** Run every leaf once, timed, and write the launcher's check list. The
   *  geometric mean of the leaf times is one sample of the `leaves` kind. */
  def run(ctx: Ctx, s: SparkSession, sfDir: String): Unit = {
    val tr = ctx.tracer; val out = ctx.out
    val outDir = ctx.dir("leaves-out")
    val times = mutable.ArrayBuffer.empty[(Double, Double)]
    val checks = mutable.ArrayBuffer.empty[collection.Map[String, Any]]
    for ((name, _) <- Leaves) {
      val c0 = ctx.cpuMark(); val t0 = System.nanoTime()
      val done = out.op(s"leaves.$name")(tr.span(s"leaves.q.$name", s"leaf-$name") {
        SparkEntry.queries(name)(s, sfDir).write.mode("overwrite").parquet(s"$outDir/$name")
      })
      times += (((System.nanoTime() - t0) / 1e6, ctx.cpuSince(c0) / 1e6))
      if (done.nonEmpty) checks += mutable.LinkedHashMap("name" -> name,
        "rows" -> s"$outDir/$name", "oracle" -> SparkEntry.oracleSql(name))
    }
    out.sample("leaves", Stats.geomean(times.map(_._1).toSeq), Stats.geomean(times.map(_._2).toSeq))
    out.info("leaf_ms") = Leaves.map(_._1).zip(times.map(_._1)).toMap
    // the launcher compares each leaf with its oracle after the run
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ctx.o.work, "leaf-checks.json"),
      Json.write(mutable.LinkedHashMap("tables" -> sfDir, "leaves" -> checks)) + "\n")
    if (ctx.o.trace) {
      tr.drain()
      def total(spans: Seq[Tracer.Span], f: Tracer.Span => Double) = spans.map(f).sum
      for (g <- Leaves.map(_._2).distinct) {
        val sp = Leaves.filter(_._2 == g).flatMap { case (n, _) => tr.named(s"leaves.q.$n") }
        out.layer(s"leaves.$g.wall_s") = (total(sp, _.durMs / 1000), "s")
        out.layer(s"leaves.$g.jobs") = (total(sp, tr.workOf(_).jobs.toDouble), "count")
        out.layer(s"leaves.$g.cpu_s") = (total(sp, tr.workOf(_).cpuNs / 1e9), "s")
        out.layer(s"leaves.$g.driver_s") = (total(sp, tr.driverMs(_) / 1000), "s")
      }
      for ((n, _) <- Leaves)
        out.layer(s"leaves.q.$n.wall_s") = (total(tr.named(s"leaves.q.$n"), _.durMs / 1000), "s")
    }
  }
}
