package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options, as passed by perfbench/run.py. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      tiny: Boolean, fault: Boolean, work: String, nproc: Int,
                      heapGb: Int, medium: String, spans: String,
                      result: String, report: String)

object Opts {
  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", m.get("size").contains("tiny"), m.get("fault").contains("1"),
      need("work"), need("nproc").toInt, need("heap-gb").toInt,
      m.getOrElse("medium", "unknown"), need("spans"), need("result"), need("report"))
  }
}

/** Summary statistics over timing samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Linear-interpolated percentile (p in 0..100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of the usual tail percentiles that still has at least ten
   *  samples beyond it; falls back to the maximum for small sample counts.
   *  Returns (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) =
    Seq(99.0, 95.0, 90.0, 75.0, 50.0).find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => (p, percentile(xs, p))).getOrElse((100.0, xs.max))

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Tiny JSON writer (the benchmark has no JSON dependency). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

/** One run's outcome: counts, checks and every metric, by name with unit. */
final class Outcome(val workload: String) {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  /** End-to-end metrics (BENCHMARK.json `end_to_end`). */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics (BENCHMARK.json `per_layer`), from the traced run. */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The workload's own named end-to-end metrics (report line only). */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** Timed operations by kind: (wall ms, CPU ms) of each sample. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double)]]

  def sample(kind: String, wallMs: Double, cpuMs: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ((wallMs, cpuMs))

  /** `op_ms` and `cpu_ms_per_op`: per kind of operation its fastest sample
   *  (noise on a shared host only adds time; graft.Bench's min-of-reps
   *  rule), then the geometric mean over kinds, so each kind weighs the
   *  same whatever its size. */
  def setOpMetrics(): Unit = {
    val best = samples.toSeq.collect { case (k, xs) if xs.nonEmpty =>
      k -> (xs.map(_._1).min, xs.map(_._2).min) }
    e2e("op_ms") = (Stats.geomean(best.map(_._2._1)), "ms")
    e2e("cpu_ms_per_op") = (Stats.geomean(best.map(_._2._2)), "ms")
    info("fastest_ms_by_kind") = best.map { case (k, (w, _)) => k -> w }.toMap
  }

  /** One operation the client issued: counted as attempted; an exception
   *  is a failed operation, never a silent placeholder value. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f) catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failed += 1
        problems += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  /** An output check on one operation's result; a wrong answer is a failed
   *  operation. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; problems += what.take(400) }

  def correct: Boolean = failed == 0 && problems.isEmpty
}

/** Shared run context: options, host facts and session construction. */
final class Ctx(val o: Opts) {
  val rng = new scala.util.Random(o.seed)
  val out = new Outcome(o.workload)
  val tracer = new Tracer(o.trace)
  private var faultUsed = false

  /** With --fault 1, the first checked value passed through here is
   *  corrupted, so the output check must count one failed operation. */
  def maybeCorrupt[T](v: T)(corrupt: T => T): T =
    if (o.fault && !faultUsed) { faultUsed = true; corrupt(v) } else v

  def dir(name: String): String = {
    val p = java.nio.file.Paths.get(o.work, name)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** local[threads] session with the repository Bench's settings, scratch
   *  kept under the run's work directory. */
  def session(threads: Int, name: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (64L * 1024 * 1024).toString)
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    tracer.attach(s)
    s
  }

  def stop(s: SparkSession): Unit = {
    tracer.detach(s)
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Run `f` and record its wall and CPU time as a sample of `kind`
   *  (see [[Outcome.setOpMetrics]]). */
  def timed[T](kind: String)(f: => T): T = {
    val c0 = cpuMark(); val t0 = System.nanoTime()
    val v = f
    out.sample(kind, (System.nanoTime() - t0) / 1e6, cpuSince(c0) / 1e6)
    v
  }

  private val threadBean = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time so far of every live Java thread: the client, Spark's
   *  scheduler and its task threads. HotSpot's JIT compiler and GC threads
   *  are not among them, so the CPU they spend, which varies from run to
   *  run with what gets compiled and collected, is left out. */
  def cpuMark(): Map[Long, Long] =
    threadBean.getAllThreadIds.map(id => id -> threadBean.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** CPU ns the Java threads spent since `mark`; a thread that ended in
   *  between is left out, one started in between counts whole. */
  def cpuSince(mark: Map[Long, Long]): Long =
    cpuMark().map { case (id, t) => t - mark.getOrElse(id, 0L) }.sum

  /** Time the workload's set-up as `setup_s`. It runs once: it is the
   *  first Spark work of a cold JVM and costs 25-40 s on a 4-core host, so
   *  a second repetition would not fit the run budget. */
  def setup[T](once: => T): T = {
    val t0 = System.nanoTime()
    val v = tracer.span(s"${o.workload}.setup", "setup")(once)
    out.e2e("setup_s") = ((System.nanoTime() - t0) / 1e9, "s")
    v
  }
}
