package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ml.Incremental
import graft.pipeline.Pipeline

/**
 * The state phase of the `north` workload: writes beside reads on persisted
 * state. Set-up builds the initial state from one large seeded batch. Each
 * timed batch then goes through [[Incremental.ingestMinhash]]
 * (near-duplicate state) and [[Incremental.ingestExact]] (the accepted
 * corpus), after which [[Incremental.accepted]] is read;
 * [[Incremental.compact]] runs once after the timed batches. Batches carry
 * planted exact and near duplicates, both inside a batch and across
 * batches. To finish, [[Pipeline.run]] runs into an empty directory
 * (fresh) and again over the completed one (resume). One client, closed
 * loop, fixed work.
 */
object Ingest {
  val ExactShare = 0.08
  val NearShare = 0.12
  val Threshold = 0.8
  /** Documents in the initial state, and in each timed batch. */
  val InitialDocs = 300
  val BatchDocs = 60
  val TimedBatches = 2
  val PipelineDocs = 40

  final case class Batch(i: Int, docs: Seq[Data.Doc])

  val PipelineStages = Seq("images", "tiles", "postings", "pip", "knn", "verify")

  /** The state phase's per-layer metrics (traced run), with units. */
  val layerMetrics: Seq[(String, String)] = Seq(
    "ingest.minhash.wall_s" -> "s", "ingest.minhash.jobs" -> "count",
    "ingest.minhash.driver_s" -> "s", "ingest.exact.wall_s" -> "s",
    "ingest.accepted.wall_s" -> "s", "ingest.compact.wall_s" -> "s",
    "ingest.growth" -> "ratio", "ingest.write_amp" -> "ratio",
    "ingest.state_files" -> "count", "ingest.state_bytes_per_doc" -> "bytes",
    "ingest.accept_ratio" -> "ratio", "ingest.batch_p50_s" -> "s",
    "ingest.batch_tail_s" -> "s", "ingest.trace_ratio" -> "ratio") ++
    PipelineStages.map(st => s"ingest.pipeline.$st.wall_s" -> "s") ++
    Seq("ingest.pipeline.fresh.jobs" -> "count", "ingest.pipeline.resume.jobs" -> "count",
      "ingest.pipeline_fresh_s" -> "s", "ingest.pipeline_resume_s" -> "s")

  /** What set-up leaves for the timed part. */
  final class Prepared(val root: String, val timed: Seq[Batch], val model: Model) {
    def stateDir: String = s"$root/state"
  }

  def sizes(tiny: Boolean): (Int, Int, Int) =
    if (tiny) (60, 20, 20) else (InitialDocs, BatchDocs, PipelineDocs)

  /** Set-up: write the pipeline input and build the initial state from
   *  batch 0, checked like every batch. Runs inside the timed set-up. */
  def prepare(ctx: Ctx, s: SparkSession): Prepared = {
    val o = ctx.o
    val (initial, batch, pipeDocs) = sizes(o.tiny)
    val vocab = Data.vocabulary(o.seed, if (o.tiny) 200 else 1200)
    val plan = batches(o.seed, vocab, initial +: Seq.fill(TimedBatches)(batch))
    ctx.out.info ++= Seq("ingest_initial_docs" -> initial, "ingest_batch_docs" -> batch,
      "ingest_timed_batches" -> TimedBatches, "exact_dup_share" -> ExactShare,
      "near_dup_share" -> NearShare, "compact" -> "once, after the timed batches",
      "minhash_threshold" -> Threshold, "pipeline_docs" -> pipeDocs)
    val root = ctx.dir("ingest")
    Data.writeDocs(s, s"$root/pipe-input", Data.documents(o.seed + 2, vocab, pipeDocs))
    val p = new Prepared(root, plan.tail, new Model(s"$root/state"))
    val (near, digest) = ctx.tracer.span("north.setup.ingest")(ingest(ctx, s, p.stateDir, plan.head))
    p.model.check(ctx, plan.head, near, digest)
    p
  }

  /** The timed batches, one compaction and the pipeline, fresh then
   *  resumed; every call is an operation and a timed sample. */
  def run(ctx: Ctx, s: SparkSession, p: Prepared): Unit = {
    val o = ctx.o; val tr = ctx.tracer; val out = ctx.out
    val batchS = mutable.ArrayBuffer.empty[(Double, Boolean)] // (wall, traced)
    for (b <- p.timed) {
      // in a traced run every other batch runs untraced: tracing overhead
      val traced = !o.trace || b.i % 2 == 1
      val t0 = System.nanoTime()
      val (near, digest) = ctx.timed("ingest.batch") {
        if (traced) tr.span("ingest.batch", s"batch-${b.i}")(ingest(ctx, s, p.stateDir, b))
        else tr.untraced(ingest(ctx, s, p.stateDir, b))
      }
      batchS += (((System.nanoTime() - t0) / 1e9, traced))
      p.model.check(ctx, b, near, digest)
    }
    val t1 = System.nanoTime()
    ctx.timed("ingest.compact")(out.op("ingest.compact")(
      tr.span("ingest.compact", "compact")(Incremental.compact(s, p.stateDir))))
    val compactS = (System.nanoTime() - t1) / 1e9
    val (fresh, resume) = pipeline(ctx, s, p.root)

    val walls = batchS.map(_._1).toSeq
    val (tp, tv) = Stats.tail(walls)
    out.named("ingest.batch_p50_s") = (Stats.median(walls), "s")
    out.named("ingest.batch_tail_s") = (tv, "s")
    out.named("ingest.pipeline_fresh_s") = (fresh._2, "s")
    out.named("ingest.pipeline_resume_s") = (resume._2, "s")
    out.info ++= Seq("ingest_batch_s" -> walls, "ingest_compact_s" -> compactS,
      "ingest_tail_percentile" -> tp)
    if (o.trace) {
      tr.drain()
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      // the timed batches' calls, not the initial state's (set-up)
      def timedSpans(name: String) = tr.named(name).filter(_.req != "setup")
      val mh = timedSpans("ingest.minhash")
      out.layer("ingest.minhash.wall_s") = (mean(mh.map(_.durMs / 1000)), "s")
      out.layer("ingest.minhash.jobs") = (mean(mh.map(tr.workOf(_).jobs.toDouble)), "count")
      out.layer("ingest.minhash.driver_s") = (mean(mh.map(tr.driverMs(_) / 1000)), "s")
      out.layer("ingest.exact.wall_s") = (mean(timedSpans("ingest.exact").map(_.durMs / 1000)), "s")
      out.layer("ingest.accepted.wall_s") = (mean(timedSpans("ingest.accepted").map(_.durMs / 1000)), "s")
      out.layer("ingest.compact.wall_s") = (compactS, "s")
      val q = math.max(1, walls.size / 4)
      out.layer("ingest.growth") = (mean(walls.takeRight(q)) / mean(walls.take(q)), "ratio")
      val state = files(p.stateDir)
      val model = p.model
      out.layer("ingest.write_amp") = (model.writtenBytes.toDouble / model.inputBytes, "ratio")
      out.layer("ingest.state_files") = (state.size.toDouble, "count")
      out.layer("ingest.state_bytes_per_doc") = (state.values.sum.toDouble / model.docs, "bytes")
      out.layer("ingest.accept_ratio") = (model.nearAcceptedCount.toDouble / model.docs, "ratio")
      out.layer("ingest.batch_p50_s") = out.named("ingest.batch_p50_s")
      out.layer("ingest.batch_tail_s") = out.named("ingest.batch_tail_s")
      val t = batchS.filter(_._2).map(_._1).toSeq; val u = batchS.filterNot(_._2).map(_._1).toSeq
      out.layer("ingest.trace_ratio") =
        (if (t.nonEmpty && u.nonEmpty) Stats.median(t) / Stats.median(u) else 0.0, "ratio")
      val stages = fresh._1.getOrElse(Nil).map(x => x._1 -> x._3).toMap
      for (st <- PipelineStages)
        out.layer(s"ingest.pipeline.$st.wall_s") = (stages.getOrElse(st, 0.0), "s")
      for (label <- Seq("fresh", "resume"))
        out.layer(s"ingest.pipeline.$label.jobs") =
          (tr.named(s"ingest.pipeline.$label").map(tr.workOf(_).jobs.toDouble).sum, "count")
      out.layer("ingest.pipeline_fresh_s") = out.named("ingest.pipeline_fresh_s")
      out.layer("ingest.pipeline_resume_s") = out.named("ingest.pipeline_resume_s")
    }
  }

  type Stages = Seq[(String, Long, Double, Boolean)]

  /** [[Pipeline.run]] fresh into an empty directory, then resumed over the
   *  completed one; checks the verify stage and the resume. Returns each
   *  run's stage metrics and wall seconds. */
  private def pipeline(ctx: Ctx, s: SparkSession, dir: String)
      : ((Option[Stages], Double), (Option[Stages], Double)) = {
    val out = ctx.out
    def once(label: String) = {
      val t0 = System.nanoTime()
      val m = ctx.timed(s"ingest.pipeline_$label")(out.op(s"ingest.pipeline.$label")(
        ctx.tracer.span(s"ingest.pipeline.$label", label)(
          Pipeline.run(s, s"$dir/pipe-input", s"$dir/pipe-out"))))
      (m, (System.nanoTime() - t0) / 1e9)
    }
    val fresh = once("fresh")
    val resume = once("resume")
    val docs = sizes(ctx.o.tiny)._3
    ctx.tracer.untraced {
      fresh._1.foreach { m =>
        val v = s.read.parquet(s"$dir/pipe-out/verify").head()
        out.check(m.forall(!_._4) && v.getAs[Long]("violations") == 0L && v.getAs[Long]("rows") == docs,
          s"ingest.pipeline fresh: resumed flags ${m.map(_._4)}, verify $v")
      }
      for (f <- fresh._1; r <- resume._1)
        out.check(r.forall(_._4) && r.map(x => (x._1, x._2)) == f.map(x => (x._1, x._2)),
          s"ingest.pipeline resume: ${r.map(x => (x._1, x._2, x._4))} vs fresh ${f.map(x => (x._1, x._2))}")
    }
    (fresh, resume)
  }

  /** (count, sum id, sum n_dups, sum crc32(text)) of the exact-dedup
   *  accepted corpus: a one-pass digest the model can reproduce. */
  type Digest = (Long, Long, Long, Long)

  /** Seeded batches of the given sizes: each doc is, with the shares above,
   *  an exact copy or a one-letter edit of an earlier doc (half of the time
   *  from the same batch, else from an earlier one), and otherwise a fresh
   *  document. */
  def batches(seed: Long, vocab: IndexedSeq[String], sizes: Seq[Int]): Seq[Batch] = {
    val r = new scala.util.Random(seed * 7919 + 13)
    val fresh = Data.documents(seed + 1, vocab, sizes.sum).iterator
    val all = mutable.ArrayBuffer.empty[Data.Doc]
    var nextId = 1L
    sizes.zipWithIndex.map { case (size, b) =>
      val cur = mutable.ArrayBuffer.empty[Data.Doc]
      for (_ <- 0 until size) {
        def source(): Option[Data.Doc] =
          if (cur.nonEmpty && (all.isEmpty || r.nextBoolean())) Some(cur(r.nextInt(cur.size)))
          else if (all.nonEmpty) Some(all(r.nextInt(all.size))) else None
        val x = r.nextDouble()
        val fromText = if (x < ExactShare + NearShare) source().map(_.text) else None
        val text = fromText match {
          case Some(t) if x < ExactShare => t
          case Some(t) => edit(t, r)
          case None => fresh.next().text
        }
        cur += Data.Doc(nextId, text)
        nextId += 1
      }
      all ++= cur
      Batch(b, cur.toSeq)
    }
  }

  /** Replace one letter of one word (a near duplicate, Jaccard ~0.98). */
  private def edit(t: String, r: scala.util.Random): String = {
    val i = r.nextInt(t.length)
    if (t(i) == ' ') t else t.updated(i, if (t(i) == 'q') 'x' else 'q')
  }

  private def crc(s: String): Long = {
    val c = new java.util.zip.CRC32(); c.update(s.getBytes("UTF-8")); c.getValue
  }

  /** Size of every file under `dir`, by path. */
  def files(dir: String): Map[String, Long] = {
    val root = new java.io.File(dir)
    if (!root.exists()) Map.empty
    else org.apache.commons.io.FileUtils.listFiles(root, null, true).toArray
      .map(_.asInstanceOf[java.io.File]).map(f => f.getPath -> f.length()).toMap
  }

  /** Ingest one batch: the three engine calls, each a span and an
   *  operation. Returns the near-dup accepted ids and the accepted digest. */
  def ingest(ctx: Ctx, s: SparkSession, stateDir: String, b: Batch): (Option[Seq[Long]], Option[Digest]) = {
    val tr = ctx.tracer; val out = ctx.out
    val df = Data.docsFrame(s, b.docs)
    val name = s"b${b.i}"
    val near = out.op("ingest.minhash")(tr.span("ingest.minhash") {
      Incremental.ingestMinhash(s, stateDir, name, df, "doc_id", "text", Threshold)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
    })
    out.op("ingest.exact")(tr.span("ingest.exact") {
      Incremental.ingestExact(s, stateDir, name, df, "doc_id", "text").count()
    })
    val digest = out.op("ingest.accepted")(tr.span("ingest.accepted") {
      val r = Incremental.accepted(s, stateDir)
        .agg(count(lit(1)), sum("id"), sum("n_dups"), sum(crc32(col("text").cast("binary"))))
        .head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    })
    (near, digest)
  }

  /** The client's own account of the state: the exact-dedup model (first
   *  occurrence per text, in arrival order) and the bytes written. */
  final class Model(stateDir: String) {
    private val seen = mutable.HashSet.empty[String]
    private var digest: Digest = (0L, 0L, 0L, 0L)
    private val nearAccepted = mutable.HashSet.empty[String]
    private val written = mutable.HashMap.empty[String, Long]
    var docs = 0L
    var nearAcceptedCount = 0L
    var inputBytes = 0L

    def writtenBytes: Long = written.values.sum

    /** Account for batch `b` and check what the engine returned for it. */
    def check(ctx: Ctx, b: Batch, near: Option[Seq[Long]], got: Option[Digest]): Unit = {
      val out = ctx.out
      docs += b.docs.size
      inputBytes += b.docs.map(_.text.getBytes("UTF-8").length.toLong).sum
      files(stateDir).foreach { case (p, n) => if (!written.contains(p)) written(p) = n }
      b.docs.groupBy(_.text).toSeq.map { case (t, ds) => (t, ds.map(_.id).min, ds.size.toLong) }
        .filterNot(x => seen.contains(x._1)).foreach { case (t, id, n) =>
          seen += t
          digest = (digest._1 + 1, digest._2 + id, digest._3 + n, digest._4 + crc(t))
        }
      got.map(ctx.maybeCorrupt(_)(x => x.copy(_1 = x._1 + 1))).foreach(d => out.check(d == digest,
        s"ingest.accepted after batch ${b.i}: digest $d != expected $digest"))
      near.foreach { ids =>
        val byId = b.docs.map(d => d.id -> d).toMap
        val idSet = ids.toSet
        // an exact copy of an accepted earlier doc, or of a smaller id in
        // the same batch, has identical signatures: it must be rejected
        val mustReject = b.docs.filter(d => nearAccepted.contains(d.text) ||
          b.docs.exists(x => x.id < d.id && x.text == d.text)).map(_.id).toSet
        out.check(idSet.subsetOf(byId.keySet) && idSet.size == ids.size && ids.nonEmpty,
          s"ingest.minhash batch ${b.i}: accepted ids are not distinct ids of the batch")
        out.check((idSet intersect mustReject).isEmpty,
          s"ingest.minhash batch ${b.i}: accepted exact duplicates ${(idSet intersect mustReject).take(5)}")
        nearAccepted ++= ids.flatMap(byId.get).map(_.text)
        nearAcceptedCount += ids.size
      }
    }
  }
}
