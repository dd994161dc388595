package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Bench
import graft.core.{Cells, GeoMath}
import graft.entry.SpatialQueries
import graft.functions.GeoFunctions
import graft.query.Spatial
import graft.sources.Derived

/**
 * `north`: the north job — cell-encode plus per-tile count (`tileagg`),
 * `Spatial.pipJoin` (`pip`) and a k=5 `Spatial.knnJoin` over the
 * arithmetic ~1k-query batch (`knn`), the same three calls in the same
 * order as [[Bench.northJob]], over a table materialised once from
 * [[Bench.scaledObjects]]. Each leg runs in a fresh session whose start is
 * outside the timer: pairs of legs at M = nproc threads, and in the traced
 * run (N, M, M) triples with N = max(1, nproc/4) for the scaling
 * efficiency. Then, in one more session, the table jobs on small persisted
 * state: the [[Ingest]] phase and the [[Leaves]] phase. One client, closed
 * loop.
 */
object North {
  val K = 5
  /** Rows of the north input: sized so that a run of the whole workload
   *  stays near a minute on a 4-core host (see perfbench/README.md). */
  val TargetRows = 1500000L
  val Polygons: Seq[Spatial.Polygon] = SpatialQueries.Polygons.all

  val Phases = Seq("tileagg", "pip", "knn")

  /** This workload's per-layer metrics (traced run), with units. */
  val layerMetrics: Seq[(String, String)] =
    Phases.flatMap(p => Seq("wall_s" -> "s", "jobs" -> "count", "stages" -> "count",
      "tasks" -> "count", "driver_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s",
      "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes").map { case (m, u) => s"north.$p.$m" -> u }) ++
    Phases.flatMap(p => Seq("wall_s" -> "s", "jobs" -> "count", "driver_s" -> "s")
      .map { case (m, u) => s"north.n_leg.$p.$m" -> u }) ++
    Seq("north.pip.amplification" -> "ratio", "north.knn.candidates_per_query" -> "rows",
      "north.trace_ratio" -> "ratio", "north.scaling_eff" -> "ratio")

  final case class Input(path: String, rows: Long)
  final case class Leg(threads: Int, traced: Boolean, wallS: Double, cpuS: Double,
                       tileSum: Option[Long], pip: Option[Long], knn: Option[Long])

  def objects(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .withColumn("cell", GeoFunctions.cellEncode(col("lat"), col("lon"), Cells.DefaultLevel))

  def queries(spark: SparkSession, total: Long): DataFrame = {
    val qMod = math.max(1L, total / 1024)
    spark.range(0L, total, qMod)
      .select(col("id").as("qid"),
        (Derived.latExpr(col("id")) + 0.01).as("qlat"),
        (Derived.lonExpr(col("id")) - 0.01).as("qlon"))
  }

  def queryCount(total: Long): Long = {
    val qMod = math.max(1L, total / 1024)
    (total + qMod - 1) / qMod
  }

  def run(ctx: Ctx): Unit = {
    val o = ctx.o; val tr = ctx.tracer; val out = ctx.out
    val (nSmall, nBig) = (math.max(1, o.nproc / 4), o.nproc)
    val targetRows = if (o.tiny) 100000L else TargetRows
    val nOrders = if (o.tiny) 2000 else 15000
    out.info ++= Seq("north_target_rows" -> targetRows, "orders_keys" -> nOrders,
      "n_threads" -> nSmall, "m_threads" -> nBig, "k" -> K, "loop" -> "closed, 1 client",
      "leg_order" -> (if (o.trace) "N, M, M" else "M, M"))

    val (input, state, leafTables) = ctx.setup {
      val s = ctx.session(nBig, "north-setup")
      try {
        val d = ctx.dir("north")
        val keys = Data.orderKeys(o.seed, nOrders)
        Data.writeOrders(s, d, keys)
        Bench.scaledObjects(s, d, targetRows).write.mode("overwrite").parquet(s"$d/objects")
        val input = Input(s"$d/objects", s.read.parquet(s"$d/objects").count())
        (input, Ingest.prepare(ctx, s), Leaves.prepare(ctx, s, keys))
      } finally ctx.stop(s)
    }
    out.info("north_rows") = input.rows
    val expectQueries = queryCount(input.rows)

    val legs = scala.collection.mutable.ArrayBuffer.empty[Leg]
    def leg(threads: Int, traced: Boolean): Leg = {
      val pre = if (threads == nBig) "north" else "north.n_leg"
      val s = ctx.session(threads, s"north-$threads")
      try {
        val objs = objects(s, input.path)
        def body(): Leg = {
          val c0 = ctx.cpuMark(); val t0 = System.nanoTime()
          val tiles = out.op(s"$pre.tileagg")(tr.span(s"$pre.tileagg") {
            objs.groupBy("cell").agg(count(lit(1)).as("n")).agg(sum("n")).head().getLong(0)
          })
          val pip = out.op(s"$pre.pip")(tr.span(s"$pre.pip")(Spatial.pipJoin(objs, Polygons).count()))
          val knn = out.op(s"$pre.knn")(tr.span(s"$pre.knn") {
            Spatial.knnJoin(objs, queries(s, tiles.getOrElse(input.rows)), k = K).count()
          })
          Leg(threads, traced, (System.nanoTime() - t0) / 1e9, ctx.cpuSince(c0) / 1e9,
            tiles, pip, knn)
        }
        if (traced) tr.span(s"$pre.leg", s"leg-${legs.size}")(body())
        else tr.untraced(body())
      } finally ctx.stop(s)
    }

    // untraced runs have no warm-up leg: the metrics take the fastest M
    // leg, which leaves out the first leg's cold JIT and code generation.
    // Traced runs compare single legs, so they warm up first.
    if (o.trace) tr.untraced(leg(nBig, traced = false))
    val startNs = System.nanoTime()
    var groupS = 0.0
    // whole groups only; at least one, none started past the deadline
    while (legs.isEmpty || (System.nanoTime() - startNs) / 1e9 + groupS <= o.seconds) {
      val t0 = System.nanoTime()
      if (o.trace) legs += leg(nSmall, traced = true)
      legs += leg(nBig, traced = true)
      legs += leg(nBig, traced = false) // in a traced run, the untraced twin
      groupS = (System.nanoTime() - t0) / 1e9
    }
    legs.filter(l => l.threads == nBig && (!o.trace || !l.traced))
      .foreach(l => out.sample("north.leg", l.wallS * 1000, l.cpuS * 1000))

    // the state and leaf phases share one session, also used for the checks
    val s = ctx.session(nBig, "north-state")
    val amplification = try {
      Ingest.run(ctx, s, state)
      Leaves.run(ctx, s, leafTables)

      // ---- output checks (outside the timers) ----------------------------
      val pipCounts = legs.flatMap(_.pip).distinct
      legs.foreach { l =>
        l.tileSum.foreach(v => out.check(ctx.maybeCorrupt(v)(_ + 1) == input.rows,
          s"north.tileagg: tile sum $v != ${input.rows} materialised rows"))
        l.knn.foreach(v => out.check(v == K * expectQueries,
          s"north.knn: $v rows != k x queries = ${K * expectQueries}"))
      }
      out.check(pipCounts.size <= 1, s"north.pip: counts differ across legs: $pipCounts")
      checkPipSample(ctx, s, input, o.seed)
      // pipJoin fuses its exact refine into the join, so the plan has no
      // count of the rows entering it: count the cell-cover matches here
      if (!o.trace) 0.0 else tr.untraced {
        import s.implicits._
        val cover = Polygons.flatMap(p =>
          Cells.coverPolygon(p.lats, p.lons, Cells.DefaultLevel).map(c => (c, p.id))).toDF("cell", "poly_id")
        val candidates = objects(s, input.path).join(broadcast(cover), "cell").count()
        candidates.toDouble / math.max(1L, legs.flatMap(_.pip).headOption.getOrElse(0L))
      }
    } finally ctx.stop(s)

    // ---- metrics ----------------------------------------------------------
    val big = legs.filter(_.threads == nBig).toSeq
    val small = legs.filter(_.threads == nSmall).toSeq
    val tBig = Stats.median(big.map(_.wallS))
    out.setOpMetrics()
    out.named("north.rows_per_s") = (input.rows / tBig, "rows/s")
    if (small.nonEmpty) {
      val tSmall = Stats.median(small.map(_.wallS))
      out.named("north.scaling_eff") = ((tSmall * nSmall) / (tBig * nBig), "ratio")
    }
    out.info ++= Seq("legs_m_s" -> big.map(_.wallS), "legs_n_s" -> small.map(_.wallS))
    if (o.trace) traceMetrics(ctx, big, small, amplification)
  }

  /** pipJoin on a seeded ~0.5% sample against brute-force
   *  [[GeoMath.isPointInPolygon]] over every polygon. */
  private def checkPipSample(ctx: Ctx, s: SparkSession, input: Input, seed: Long): Unit =
    ctx.tracer.untraced {
      val sample = objects(s, input.path)
        .filter(pmod(xxhash64(col("id"), lit(seed)), lit(200L)) === 0).cache()
      val pts = sample.select("id", "lat", "lon").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      val expected = (for {
        (id, lat, lon) <- pts.toSeq; p <- Polygons
        if GeoMath.isPointInPolygon(lat, lon, p.lats, p.lons)
      } yield (id, p.id)).toSet
      val got = Spatial.pipJoin(sample, Polygons).select("id", "poly_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      ctx.out.attempted += 1
      ctx.out.check(got == expected && pts.nonEmpty,
        s"north.pip sample: ${(got diff expected).size} extra, ${(expected diff got).size} " +
          s"missing pairs over ${pts.length} sampled points")
      sample.unpersist()
    }

  private def traceMetrics(ctx: Ctx, big: Seq[Leg], small: Seq[Leg], pipAmplification: Double): Unit = {
    val tr = ctx.tracer; val out = ctx.out
    tr.drain()
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    for (phase <- Phases) {
      val sp = tr.named(s"north.$phase")
      val w = sp.map(tr.workOf)
      out.layer(s"north.$phase.wall_s") = (mean(sp.map(_.durMs / 1000)), "s")
      out.layer(s"north.$phase.jobs") = (mean(w.map(_.jobs.toDouble)), "count")
      out.layer(s"north.$phase.stages") = (mean(w.map(_.stages.toDouble)), "count")
      out.layer(s"north.$phase.tasks") = (mean(w.map(_.tasks.toDouble)), "count")
      out.layer(s"north.$phase.driver_s") = (mean(sp.map(tr.driverMs(_) / 1000)), "s")
      out.layer(s"north.$phase.cpu_s") = (mean(w.map(_.cpuNs / 1e9)), "s")
      out.layer(s"north.$phase.gc_s") = (mean(w.map(_.gcMs / 1e3)), "s")
      out.layer(s"north.$phase.shuffle_bytes") = (mean(w.map(_.shuffleBytes.toDouble)), "bytes")
      out.layer(s"north.$phase.spill_bytes") = (mean(w.map(_.spillBytes.toDouble)), "bytes")
    }
    for (phase <- Phases) {
      val sp = tr.named(s"north.n_leg.$phase")
      out.layer(s"north.n_leg.$phase.wall_s") = (mean(sp.map(_.durMs / 1000)), "s")
      out.layer(s"north.n_leg.$phase.jobs") = (mean(sp.map(tr.workOf(_).jobs.toDouble)), "count")
      out.layer(s"north.n_leg.$phase.driver_s") = (mean(sp.map(tr.driverMs(_) / 1000)), "s")
    }
    out.layer("north.pip.amplification") = (pipAmplification, "ratio")
    val knnSpans = tr.named("north.knn")
    val topkIn = knnSpans.map(tr.workOf(_).planRows.getOrElse("knn_topk_in", 0L)).sum
    val nq = queryCount(ctx.out.info("north_rows").asInstanceOf[Long]) * knnSpans.size
    out.layer("north.knn.candidates_per_query") = (if (nq > 0) topkIn.toDouble / nq else 0.0, "rows")
    val traced = big.filter(_.traced).map(_.wallS); val plain = big.filterNot(_.traced).map(_.wallS)
    out.layer("north.trace_ratio") =
      (if (traced.nonEmpty && plain.nonEmpty) Stats.median(traced) / Stats.median(plain) else 0.0, "ratio")
    out.layer("north.scaling_eff") = out.named("north.scaling_eff")
  }
}
