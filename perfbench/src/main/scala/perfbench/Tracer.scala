package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchPlans, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec

/**
 * Spans around the benchmark's calls into the engine, plus the Spark work
 * each call caused.
 *
 * Every span gets its own job group (`pb-<span id>`), set on the client
 * thread before the call. A [[SparkListener]] maps each job, and through it
 * each stage and task, back to that group, and reads row counts from the
 * SQL metrics of each query that ends. Nothing in the
 * engine is changed or instrumented. Disabled (the untraced runs), a span
 * only runs its body.
 */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val groups = mutable.HashMap.empty[String, Work]
  private var stack: List[Span] = Nil
  private var session: Option[SparkSession] = None
  private var paused = false

  private def group(id: Int): String = s"pb-$id"

  private def work(g: String): Work = synchronized(groups.getOrElseUpdate(g, new Work))

  /** Register the listeners on a (new) session and carry the open span's
   *  job group over to it. */
  def attach(s: SparkSession): Unit = if (enabled) {
    session = Some(s)
    if (!paused) {
      s.sparkContext.addSparkListener(listener)
      stack.headOption.foreach(sp => s.sparkContext.setJobGroup(group(sp.id), sp.name))
    }
  }

  def detach(s: SparkSession): Unit = if (enabled && session.contains(s)) {
    PerfbenchBus.drain(s.sparkContext)
    s.sparkContext.removeSparkListener(listener)
    session = None
  }

  /** Run `f` with tracing off (listeners removed, no spans): the untraced
   *  half of the overhead measurement in a traced run. */
  def untraced[T](f: => T): T =
    if (!enabled || paused) f
    else {
      val s = session
      s.foreach { x =>
        PerfbenchBus.drain(x.sparkContext)
        x.sparkContext.removeSparkListener(listener)
        x.sparkContext.clearJobGroup()
      }
      paused = true
      try f finally {
        paused = false
        s.foreach { x =>
          x.sparkContext.addSparkListener(listener)
          stack.headOption.foreach(sp => x.sparkContext.setJobGroup(group(sp.id), sp.name))
        }
      }
    }

  /** Time `f` as span `name`; `req` ties the spans of one request, batch,
   *  leg or leaf together (children inherit their parent's). */
  def span[T](name: String, req: String = "")(f: => T): T =
    if (!enabled || paused) f
    else {
      val parent = stack.headOption
      val sp = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        if (req.nonEmpty) req else parent.map(_.req).getOrElse(""),
        System.nanoTime(), System.currentTimeMillis())
      spans += sp
      stack = sp :: stack
      session.foreach(_.sparkContext.setJobGroup(group(sp.id), name))
      try f finally {
        sp.endNs = System.nanoTime(); sp.endMs = System.currentTimeMillis()
        stack = stack.tail
        session.foreach { s =>
          stack.headOption match {
            case Some(p) => s.sparkContext.setJobGroup(group(p.id), p.name)
            case None => s.sparkContext.clearJobGroup()
          }
        }
      }
    }

  /** Deliver every pending listener event before totals are read. */
  def drain(): Unit = session.foreach(s => PerfbenchBus.drain(s.sparkContext))

  /** Spark work of a span and every span below it. */
  def workOf(sp: Span): Work = synchronized {
    val w = new Work
    subtree(sp).flatMap(x => groups.get(group(x.id))).foreach { g =>
      w.jobs += g.jobs; w.stages += g.stages; w.tasks += g.tasks
      w.cpuNs += g.cpuNs; w.gcMs += g.gcMs
      w.shuffleBytes += g.shuffleBytes; w.spillBytes += g.spillBytes
      w.jobSpans ++= g.jobSpans
      g.planRows.foreach { case (k, v) => w.planRows(k) = w.planRows.getOrElse(k, 0L) + v }
    }
    w
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private def children(sp: Span): Seq[Span] = spans.filter(_.parent == sp.id).toSeq

  private def subtree(sp: Span): Seq[Span] = sp +: children(sp).flatMap(subtree)

  /** A span's duration minus the part of it its child spans cover. */
  def selfMs(sp: Span): Double = sp.durMs - union(children(sp).map(c => (c.startNs, c.endNs))) / 1e6

  /** Driver-side time of a span: wall minus the union of its jobs' run
   *  intervals (planning, result handling and driver sync between jobs). */
  def driverMs(sp: Span): Double = {
    val jobs = workOf(sp).jobSpans.map { case (a, b) => (math.max(a, sp.startMs), math.min(b, sp.endMs)) }
    math.max(0.0, (sp.endMs - sp.startMs) - union(jobs.toSeq))
  }

  /** Span dump, one object per span. */
  def dump(path: String): Unit = {
    drain()
    val base = spans.headOption.map(_.startNs).getOrElse(0L)
    val rows = spans.map { sp =>
      val w = workOf(sp)
      mutable.LinkedHashMap[String, Any](
        "id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent, "req" -> sp.req,
        "start_ns" -> (sp.startNs - base), "end_ns" -> (sp.endNs - base),
        "dur_ms" -> sp.durMs, "self_ms" -> selfMs(sp), "driver_ms" -> driverMs(sp),
        "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
        "cpu_ms" -> w.cpuNs / 1e6, "gc_ms" -> w.gcMs.toDouble,
        "shuffle_bytes" -> w.shuffleBytes, "spill_bytes" -> w.spillBytes,
        "plan_rows" -> w.planRows.toMap)
    }
    val f = java.nio.file.Paths.get(path)
    Option(f.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(f, Json.write(rows) + "\n")
  }

  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val execGroup = mutable.HashMap.empty[Long, String]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("pb-")).foreach { g =>
          jobGroup(e.jobId) = g
          jobStart(e.jobId) = e.time
          e.stageIds.foreach(stageGroup(_) = g)
          work(g).jobs += 1
          props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .foreach(x => execGroup.getOrElseUpdate(x.toLong, g))
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobGroup.get(e.jobId).foreach(g =>
        work(g).jobSpans += ((jobStart.getOrElse(e.jobId, e.time), e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(g => work(g).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val w = work(g)
        w.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit =
      PerfbenchPlans.ended(e).foreach { case (id, qe) =>
        Tracer.this.synchronized(execGroup.get(id)).foreach { g =>
          val rows = PlanRows.of(qe.executedPlan)
          Tracer.this.synchronized {
            val w = work(g)
            rows.foreach { case (k, v) => w.planRows(k) = w.planRows.getOrElse(k, 0L) + v }
          }
        }
      }
  }
}

object Tracer {
  final class Span(val id: Int, val name: String, val parent: Int, val req: String,
                   val startNs: Long, val startMs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    def durMs: Double = (endNs - startNs) / 1e6
  }

  /** Spark work of one job group. */
  final class Work {
    var jobs = 0; var stages = 0; var tasks = 0
    var cpuNs = 0L; var gcMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val planRows = mutable.HashMap.empty[String, Long]
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0.0; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Row counts read from an executed plan's SQL metrics: rows into the kNN
 *  top-k aggregate (the candidates the join's cell probe produced). */
object PlanRows extends AdaptiveSparkPlanHelper {
  private def outRows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  /** Output rows of the nearest descendant that counts them. */
  private def rowsInto(p: SparkPlan): Long = p.children match {
    case Seq(c) => outRows(c).getOrElse(rowsInto(c))
    case _ => 0L
  }

  def of(plan: SparkPlan): Map[String, Long] = {
    val acc = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    foreach(plan) {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(e =>
          e.mode == Partial && e.toString.toLowerCase.contains("topk")) =>
        acc("knn_topk_in") += rowsInto(a)
      case _ => ()
    }
    acc.toMap
  }
}
