package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Pipeline, TableIO}

/** End-to-end pipeline: all six stages run, the invariant stage reports zero
 *  violations, and a second invocation resumes every stage from its lineage
 *  manifest without recomputation (north_rule exact-resume). */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  test("pipeline runs end-to-end, invariants hold, and re-run resumes all stages") {
    val out = Files.createTempDirectory("graft-pipe").toString
    val m1 = Pipeline.run(spark, Sf, out)
    assert(m1.map(_._1) ===
      Seq("images", "tiles", "postings", "pip", "knn", "verify"))
    assert(m1.forall(!_._4), "first run must not report resumed stages")
    assert(m1.forall(_._2 > 0), "every stage must produce rows")

    // invariant stage: zero PSNR/caption violations (input_hint)
    val v = spark.read.parquet(s"$out/verify").head()
    assert(v.getAs[Long]("violations") === 0L)
    assert(v.getAs[Long]("min_psnr4") >= 400000L) // >= 40 dB (q4-quantized)

    // every stage wrote a lineage manifest with per-partition rows
    for (name <- m1.map(_._1)) {
      val manifest = TableIO.manifest(out, name)
      assert(manifest.table().rows > 0)
      assert(manifest.table().partitions.map(_.rows).sum == manifest.table().rows)
      assert(manifest.wallSec > 0)
    }

    // exact resume: second run skips everything and returns identical counts
    val m2 = Pipeline.run(spark, Sf, out)
    assert(m2.forall(_._4), "second run must resume every stage")
    assert(m2.map(m => m._1 -> m._2) === m1.map(m => m._1 -> m._2))

    // a resumed stage reads with its recorded schema: no Parquet schema
    // inference job before an action, and the same columns and types as
    // an inferring read
    for (name <- m1.map(_._1)) {
      val (resumed, jobs) = jobsOf(TableIO.stage(spark, out, name)(sys.error(s"$name must be complete")))
      assert(jobs == 0, s"resuming $name ran $jobs jobs")
      val fresh = spark.read.parquet(s"$out/$name")
      assert(resumed.schema.map(f => f.name -> f.dataType) == fresh.schema.map(f => f.name -> f.dataType), name)
    }
  }

  test("curation chain: checkpointed run == pure plan, and a re-run resumes idempotently") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val out = Files.createTempDirectory("graft-cur").toString
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
    val planRows = graft.ml.Curation.plan(docs).collect().map(key).toSet
    assert(planRows.nonEmpty, "curation must keep some documents")

    val run1 = graft.ml.Curation.run(spark, docs, out).collect().map(key).toSet
    assert(run1 == planRows, "checkpointed stages must equal the pure composition")
    for (name <- Seq("cur_redact", "cur_filter", "cur_dedup", "cur_sample"))
      assert(TableIO.isComplete(out, name), s"stage $name must checkpoint")

    // resume: all four stages read back; rows identical
    val run2 = graft.ml.Curation.run(spark, docs, out).collect().map(key).toSet
    assert(run2 == run1, "resumed run must return identical rows")
    // every stage did real work: monotone shrinking through the chain
    val nRedact = spark.read.parquet(s"$out/cur_redact").count()
    val nFilter = spark.read.parquet(s"$out/cur_filter").count()
    val nDedup = spark.read.parquet(s"$out/cur_dedup").count()
    val nSample = spark.read.parquet(s"$out/cur_sample").count()
    assert(nRedact == docs.count())
    assert(nFilter < nRedact, "quality/repetition gate must drop rows")
    assert(nDedup <= nFilter)
    assert(nSample < nDedup, "sampling must drop rows")

    // the staged tables are BUCKETED by doc_id: doc_id-keyed plans over the
    // resume path reuse the layout instead of shuffling the corpus side
    val fil = TableIO.bucketedStage(spark, out, "cur_filter", "doc_id",
      graft.ml.Curation.NBuckets) { sys.error("cur_filter must be complete") }
    val aggPlan = fil.groupBy("doc_id").count().queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"),
      s"doc_id aggregation over the bucketed stage shuffles:\n$aggPlan")
    import org.apache.spark.sql.functions.col
    val keepIds = fil.select(col("doc_id")).limit(5)
    val joinPlan = fil.join(keepIds, Seq("doc_id"))
      .queryExecution.executedPlan.toString
    // at most one hash exchange (the keep-id side); the bucketed corpus
    // side must join in place
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(joinPlan).size <= 1,
      s"bucketed corpus side re-shuffled in the doc_id join:\n$joinPlan")
  }
}
