package perfbench

import scala.collection.mutable

/**
 * The benchmark main. Started by perfbench/run.py, which sizes the JVM
 * and passes host facts; see perfbench/README.md for the workloads and
 * metrics. Writes the result object (correct, attempted, failed, metrics)
 * and a full report as JSON files; with --trace 1 also the span dump.
 */
object Main {
  /** Every per-layer metric of the BENCHMARK.json workloads (its
   *  `per_layer` list), with its unit. */
  val PerLayer: Seq[(String, String)] =
    North.layerMetrics ++ Ingest.layerMetrics ++ Leaves.layerMetrics ++ Api.layerMetrics

  def main(argv: Array[String]): Unit = {
    val o = Opts.parse(argv)
    val ctx = new Ctx(o)
    val (probe1, probeN) = hostProbe(o.nproc)
    val t0 = System.nanoTime()
    try o.workload match {
      case "north" => North.run(ctx)
      case "api" => Api.run(ctx)
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        // a failure outside any single operation fails the run as a whole
        ctx.out.failed += 1
        ctx.out.problems += s"run: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        e.printStackTrace()
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val out = ctx.out
    if (o.trace) ctx.tracer.dump(o.spans)

    // a traced run reports every per-layer metric of every workload; the
    // layers it does not exercise did no work in it: 0
    val unknown = out.layer.keySet -- PerLayer.map(_._1)
    if (unknown.nonEmpty) out.problems += s"undeclared per-layer metrics: $unknown"
    val chosen =
      if (o.trace) PerLayer.map { case (k, u) => k -> (out.layer.get(k).map(_._1).getOrElse(0.0), u) }
      else out.e2e.toSeq
    val metrics = mutable.LinkedHashMap(chosen.map { case (k, (v, u)) =>
      k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
    }: _*)
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> out.correct, "attempted" -> math.max(1L, out.attempted),
      "failed" -> out.failed, "metrics" -> metrics)
    val host = mutable.LinkedHashMap[String, Any](
      "nproc" -> o.nproc, "heap_gb" -> o.heapGb, "scratch_medium" -> o.medium,
      "master" -> s"local[${o.nproc}]", "shuffle_partitions" -> o.nproc,
      "probe_1t_s" -> probe1, s"probe_${o.nproc}t_s" -> probeN)
    val report = mutable.LinkedHashMap[String, Any](
      "report" -> "perfbench", "workload" -> o.workload, "seed" -> o.seed,
      "seconds" -> o.seconds, "trace" -> o.trace, "size" -> (if (o.tiny) "tiny" else "full"),
      "run_wall_s" -> wallS, "host" -> host,
      "named" -> out.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "end_to_end" -> out.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> out.layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "info" -> out.info, "problems" -> out.problems,
      "spans" -> (if (o.trace) o.spans else null))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.report), Json.write(report) + "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.result), Json.write(result) + "\n")
  }

  /** [[graft.Bench.hostProbe]]'s xorshift loop timed at 1 thread and at
   *  nproc threads (not 32), so every result carries the host's speed at
   *  measurement time. Returns (t1_sec, tN_sec). */
  def hostProbe(threads: Int): (Double, Double) = {
    def work(iters: Long, seed: Long): Long = {
      var x = seed | 1L; var s = 0L; var i = 0L
      while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x * 0x2545F4914F6CDD1DL; i += 1 }
      s
    }
    val sink = new java.util.concurrent.atomic.AtomicLong()
    sink.addAndGet(work(20000000L, 42L))
    val iters = 100000000L
    val t0 = System.nanoTime()
    sink.addAndGet(work(iters, 7L))
    val t1 = (System.nanoTime() - t0) / 1e9
    val t2 = System.nanoTime()
    val pool = (0 until threads).map { k =>
      val th = new Thread(() => { sink.addAndGet(work(iters, k + 11L)): Unit })
      th.start(); th
    }
    pool.foreach(_.join())
    val tn = (System.nanoTime() - t2) / 1e9
    if (sink.get() == 0L) System.err.println("host probe sink zero")
    (t1, tn)
  }
}
