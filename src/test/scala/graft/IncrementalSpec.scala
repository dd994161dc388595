package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ml.{Dedup, Incremental}
import graft.pipeline.TableIO

class IncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft-incr-spec-$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  // three batches with every dup topology: in-batch dup (20/21), cross-batch
  // dup arriving later (10 -> 30), cross-batch dup whose FIRST arrival is in
  // an earlier batch than the smaller id (40 in b2 loses to 31 in b1), a
  // null-text pair spanning batches, and unique rows
  private val b0 = Seq((10L, "alpha"), (11L, "beta"), (12L, null.asInstanceOf[String]))
  private val b1 = Seq((20L, "gamma"), (21L, "gamma"), (31L, "delta"))
  private val b2 = Seq((30L, "alpha"), (40L, "delta"), (41L, null.asInstanceOf[String]), (42L, "eps"))

  private def ingestAll(dir: String): Map[Int, Set[(Long, Long)]] =
    Seq(b0, b1, b2).zipWithIndex.map { case (rows, k) =>
      k -> Incremental.ingestExact(spark, dir, s"b$k",
          rows.toDF("doc_id", "text"), "doc_id", "text")
        .select("id", "n_dups").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }.toMap

  test("sequential ingest: first batch wins per text, min id within batch, nulls dedup") {
    val out = ingestAll(freshDir("seq"))
    assert(out(0) == Set((10L, 1L), (11L, 1L), (12L, 1L)))
    // gamma collapses in-batch (n_dups 2, keep 20); delta accepted here
    assert(out(1) == Set((20L, 2L), (31L, 1L)))
    // alpha(30) rejected vs b0's 10; delta(40) rejected vs b1's 31 even
    // though 31 > 30's... (arrival order, not global min id); null(41)
    // rejected vs b0's null(12); eps is new
    assert(out(2) == Set((42L, 1L)))
  }

  test("accepted() equals one-shot Dedup.exact when arrival order matches id order") {
    val dir = freshDir("oneshot")
    ingestAll(dir)
    val acc = Incremental.accepted(spark, dir)
      .select("id").as[Long].collect().toSet
    assert(acc == Set(10L, 11L, 12L, 20L, 31L, 42L))
    // one-shot over the concatenation agrees on TEXTS kept, and on ids for
    // every text whose first arrival batch holds its global min id
    val all = (b0 ++ b1 ++ b2).toDF("doc_id", "text")
    val oneShot = Dedup.exact(all, "doc_id", "text")
      .select("keep_id").as[Long].collect().toSet
    assert(oneShot == acc) // here arrival order == id order per text
  }

  test("re-ingesting the same batch name resumes (no duplicate state)") {
    val dir = freshDir("resume")
    ingestAll(dir)
    val again = Incremental.ingestExact(spark, dir, "b1",
      b1.toDF("doc_id", "text"), "doc_id", "text")
    assert(again.select("id").as[Long].collect().toSet == Set(20L, 31L))
    assert(TableIO.stages(dir, Incremental.StatePrefix).size == 3)
  }

  test("state side of the anti-join is bucketed: no Exchange above its scan") {
    val dir = freshDir("plan")
    Incremental.ingestExact(spark, dir, "b0", b0.toDF("doc_id", "text"),
      "doc_id", "text")
    // at test scale the planner would broadcast the tiny state side, which
    // hides the property that matters at 100 TB (state = the BIG side, so
    // the join must go sort-merge with the state pre-partitioned); force
    // the sort-merge path to assert the bucketed layout is honored
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val kReq = "spark.sql.requireAllClusterKeysForCoPartition"
    val prevReq = spark.conf.get(kReq)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(kReq, "false") // as ingestExact sets it around its join
    try {
      // build the SECOND ingest's plan without executing the write:
      // replicate the operator's join against the staged state
      val firsts = Incremental.batchFirsts(b1.toDF("doc_id", "text"), "doc_id", "text")
      val state = TableIO.bucketedStage(spark, dir,
          TableIO.stages(dir, Incremental.StatePrefix).head, "h", Incremental.DefaultBuckets) {
        sys.error("state must already be staged")
      }.select(col("h").as("s_h"), col("text").as("s_text"))
      val joined = firsts.join(state,
        firsts("h") === state("s_h") && firsts("text") <=> state("s_text"), "left_anti")
      val plan = joined.queryExecution.executedPlan.toString
      val scanIdx = plan.linesIterator.indexWhere(_.contains("Scan parquet"))
      assert(scanIdx >= 0, s"no parquet scan in:\n$plan")
      // the bucketed state scan is the plan's only parquet leaf (the batch
      // is a local relation); nothing between the join and that leaf may
      // re-shuffle it — i.e. no Exchange at or below the scan's subtree,
      // which in the printed tree is every line from the scan down
      val stateSide = plan.linesIterator.toSeq.drop(scanIdx)
      assert(!stateSide.exists(_.contains("Exchange")),
        s"state side re-shuffled:\n$plan")
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"state scan not bucket-aware:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set(kReq, prevReq)
    }
  }

  test("ingest refuses unsafe batch names") {
    val dir = freshDir("names")
    intercept[IllegalArgumentException] {
      Incremental.ingestExact(spark, dir, "b_0", b0.toDF("doc_id", "text"),
        "doc_id", "text")
    }
    intercept[IllegalArgumentException] {
      Incremental.ingestExact(spark, dir, "compact1", b0.toDF("doc_id", "text"),
        "doc_id", "text")
    }
  }

  // near-dup (minhash) ingest fixtures: A/A2 differ by one word (high
  // shingle Jaccard), B/B2 likewise; X/Y/Z are mutually unrelated
  private val tA  = "the quick brown fox jumps over the lazy dog in the park today"
  private val tA2 = "the quick brown fox jumps over the lazy cat in the park today"
  private val tB  = "distributed query engines shuffle data between executor stages"
  private val tB2 = "distributed query engines shuffle data between executor phases"
  private val tX  = "completely unrelated first document about alpine meadows"
  private val tY  = "another standalone text mentioning harbor lighthouses"
  private val tZ  = "a third independent snippet on desert irrigation canals"

  private def ingestNear(dir: String, k: Int, rows: Seq[(Long, String)],
                         threshold: Double = 0.7): Set[Long] =
    Incremental.ingestMinhash(spark, dir, s"n$k", rows.toDF("doc_id", "text"),
        "doc_id", "text", threshold)
      .select("doc_id").as[Long].collect().toSet

  test("near-dup ingest: in-batch smaller-id wins, cross-batch accepted-state rejects") {
    val dir = freshDir("near")
    // sanity: the fixture pairs really are banding candidates above 0.7
    val fix = Seq((1L, tA), (2L, tA2), (3L, tB), (4L, tB2)).toDF("doc_id", "text")
    val sigs = graft.ml.Dedup.minhashSignatures(fix, "doc_id", "text")
    val refined = graft.ml.Dedup.jaccardRefine(fix, "doc_id", "text", 3, 0.7,
        graft.ml.Dedup.minhashCandidates(sigs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(refined == Set((1L, 2L), (3L, 4L)), s"fixture drift: $refined")

    assert(ingestNear(dir, 0, Seq((10L, tA), (11L, tX))) == Set(10L, 11L))
    // 20 ~ accepted 10 (cross-batch reject); 22 ~ 21 in-batch (larger id
    // drops); 23 unrelated
    assert(ingestNear(dir, 1, Seq((20L, tA2), (21L, tB), (22L, tB2), (23L, tY)))
      == Set(21L, 23L))
    // 30 repeats tA verbatim (Jaccard 1.0 vs accepted 10); 31 new
    assert(ingestNear(dir, 2, Seq((30L, tA), (31L, tZ))) == Set(31L))
  }

  test("near-dup ingest: banding candidates alone never reject — refine gates") {
    val dir = freshDir("near-thresh")
    // threshold above 1.0: even exact duplicates refine below it, so
    // every doc must survive despite full banding collisions
    assert(ingestNear(dir, 0, Seq((10L, tA), (11L, tA)), threshold = 1.01)
      == Set(10L, 11L))
    assert(ingestNear(dir, 1, Seq((20L, tA)), threshold = 1.01) == Set(20L))
  }

  test("near-dup ingest maxBucket: hot cross-probe buckets dropped, small buckets refine") {
    val dir = freshDir("near-cap")
    // 40 identical docs saturate their band buckets; with cap=5 the
    // in-batch candidates for them are dropped (bucket carries no near-dup
    // signal — exact dedup's job, per the minhashCandidates rationale), so
    // all 40 are accepted into state alongside the tB seed
    val flood = (0L until 40L).map(i => (i, tA)) :+ (100L, tB)
    val a0 = Incremental.ingestMinhash(spark, dir, "c0", flood.toDF("doc_id", "text"),
        "doc_id", "text", 0.7, maxBucket = Some(5))
      .select("doc_id").as[Long].collect().toSet
    assert(a0.size == 41)
    // batch 1: another tA lands in state-hot buckets (40 > cap) -> probe
    // drops them -> accepted (the documented recall trade); tB2 lives in
    // small buckets -> candidate vs tB -> refined -> rejected
    val a1 = Incremental.ingestMinhash(spark, dir, "c1",
        Seq((200L, tA), (201L, tB2)).toDF("doc_id", "text"),
        "doc_id", "text", 0.7, maxBucket = Some(5))
      .select("doc_id").as[Long].collect().toSet
    assert(a1 == Set(200L))
  }

  test("near-dup ingest maxBucket: pn counts the batch's in-batch-rejected probe rows") {
    val dir = freshDir("near-cap-basis")
    assert(ingestNear(dir, 0, Seq((10L, tA), (11L, tX))) == Set(10L, 11L))
    // 200 and 201 are both tA, like state doc 10: every band key of tA has
    // sn = 1 in state and pn = 2 in the probe, because pn counts every
    // probe row of the batch, 201 too, although the in-batch refine rejects
    // 201 (the larger id of an identical pair). pn + sn = 3 > cap = 2 drops
    // those keys from the cross probe, so 200 is never compared with 10 and
    // is accepted; counting only in-batch survivors (pn = 1) would keep the
    // keys at 2 <= cap and reject 200 as a near-dup of 10.
    val a1 = Incremental.ingestMinhash(spark, dir, "n1",
        Seq((200L, tA), (201L, tA)).toDF("doc_id", "text"),
        "doc_id", "text", 0.7, maxBucket = Some(2))
      .select("doc_id").as[Long].collect().toSet
    assert(a1 == Set(200L))
  }

  test("near-dup ingest resumes by batch name without recompute") {
    val dir = freshDir("near-resume")
    ingestNear(dir, 0, Seq((10L, tA), (11L, tX)))
    ingestNear(dir, 1, Seq((20L, tA2), (21L, tY)))
    val again = Incremental.ingestMinhash(spark, dir, "n1",
        Seq((20L, tA2), (21L, tY)).toDF("doc_id", "text"), "doc_id", "text", 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(again == Set(21L))
    // one stage (doc + sig tables, one commit) per batch
    assert(TableIO.stages(dir, Incremental.NearPrefix).size == 2)
  }

  test("near-dup state probe: signature index side is bucketed, no Exchange") {
    val dir = freshDir("near-plan")
    ingestNear(dir, 0, Seq((10L, tA), (11L, tX)))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val kReq = "spark.sql.requireAllClusterKeysForCoPartition"
    val prevReq = spark.conf.get(kReq)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(kReq, "false")
    try {
      val probe = graft.ml.Dedup.minhashBands(graft.ml.Dedup.minhashSignatures(
        Seq((20L, tA2)).toDF("doc_id", "text"), "doc_id", "text"))
      val state = TableIO.read(spark, dir, TableIO.stages(dir, Incremental.NearPrefix).head, "sig")
        .select(col("band"), col("band_key"), col("doc_id").as("id1"))
      val plan = probe.join(state, Seq("band", "band_key"))
        .queryExecution.executedPlan.toString
      val scanIdx = plan.linesIterator.indexWhere(_.contains("Scan parquet"))
      assert(scanIdx >= 0, s"no parquet scan in:\n$plan")
      assert(!plan.linesIterator.toSeq.drop(scanIdx).exists(_.contains("Exchange")),
        s"state index re-shuffled:\n$plan")
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"state scan not bucket-aware:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set(kReq, prevReq)
    }
  }

  test("incremental pack: offsets continue across batches == one-shot pack") {
    val dir = freshDir("pack")
    // budget 10: batch 0 ends mid-shard (17 toks -> doc 3 starts shard 1 at
    // off 17? no: offs 0,5,12 -> shard 0,0,1), batch 1 must continue at 17
    val b0 = Seq((1L, 5L), (2L, 7L), (3L, 5L)).toDF("doc_id", "toks")
    val b1 = Seq((10L, 4L), (11L, 9L)).toDF("doc_id", "toks")
    val p0 = graft.ml.Incremental.ingestPack(spark, dir, "p0", b0, "doc_id", "toks", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val p1 = graft.ml.Incremental.ingestPack(spark, dir, "p1", b1, "doc_id", "toks", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(p0 == Set((1L, 0L, 0L), (2L, 5L, 0L), (3L, 12L, 1L)))
    // stream total after b0 = 17: doc 10 at off 17 (shard 1 — the BOUNDARY
    // shard gains rows in the new batch's stage), doc 11 at off 21 (shard 2)
    assert(p1 == Set((10L, 17L, 1L), (11L, 21L, 2L)))
    // one-shot equivalence
    val oneShot = graft.ml.Packing.tokenBudgetShards(
        b0.unionByName(b1), "doc_id", "toks", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(oneShot == p0 ++ p1)
    // resume by name returns the staged rows
    val again = graft.ml.Incremental.ingestPack(spark, dir, "p1", b1, "doc_id", "toks", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(again == p1)
    // non-monotonic ids refuse loudly (history would need repacking)
    intercept[IllegalArgumentException] {
      graft.ml.Incremental.ingestPack(spark, dir, "p2",
        Seq((5L, 3L)).toDF("doc_id", "toks"), "doc_id", "toks", 10L)
    }
    // a dataloader reading shard 1 directory-prunes every stage
    val s1 = Seq("pack_000000_p0", "pack_000001_p1").map { st =>
      spark.read.parquet(s"$dir/$st").filter(col("shard") === 1)
    }.reduce(_ unionByName _)
    assert(s1.select("doc_id").as[Long].collect().toSet == Set(3L, 10L))
    val plan = s1.queryExecution.executedPlan.toString
    val pfs = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(pfs.size == 2 && pfs.forall(_.contains("shard")),
      s"shard read not partition-pruned:\n$plan")
  }

  test("compact folds state into one stage; ingest continues correctly after it") {
    val dir = freshDir("compact")
    ingestAll(dir)
    val before = Incremental.accepted(spark, dir)
      .select("id", "n_dups").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Incremental.compact(spark, dir)
    val names = TableIO.stages(dir, Incremental.StatePrefix)
    assert(names.size == 1 && names.head.contains("compact"), names.toString)
    val after = Incremental.accepted(spark, dir)
      .select("id", "n_dups").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before)
    // post-compact ingest: known texts rejected against the folded stage,
    // new text accepted; the new stage's seq must not collide (max+1, not
    // count — a count-derived name would resume the compacted stage)
    val b3 = Seq((50L, "alpha"), (51L, "zeta")).toDF("doc_id", "text")
    val out = Incremental.ingestExact(spark, dir, "b3", b3, "doc_id", "text")
      .select("id").as[Long].collect().toSet
    assert(out == Set(51L))
    assert(TableIO.stages(dir, Incremental.StatePrefix).size == 2)
  }

  test("compact crash window: restored originals are skipped, no text returned twice") {
    val dir = freshDir("compact-crash")
    ingestAll(dir)
    def rows() = Incremental.accepted(spark, dir)
      .select("id", "n_dups").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = rows()
    val originals = TableIO.stages(dir, Incremental.StatePrefix)
    val copy = freshDir("compact-crash-copy")
    originals.foreach(st => org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$dir/$st"), new java.io.File(s"$copy/$st")))
    Incremental.compact(spark, dir)
    // the cut window: the folded stage committed, the originals not yet deleted
    originals.foreach(st => org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$copy/$st"), new java.io.File(s"$dir/$st")))
    assert(TableIO.stages(dir, Incremental.StatePrefix).size == originals.size + 1)
    val after = rows()
    assert(after.map(_._1).distinct.size == after.size, s"duplicate ids: $after")
    assert(after.toSet == before.toSet)
    // the listing retired the restored originals
    assert(TableIO.stages(dir, Incremental.StatePrefix).size == 1)
  }

  test("near-dup crash window: a stage cut before its commit is unlisted and redone") {
    val n0 = Seq((10L, tA), (11L, tX))
    val n1 = Seq((20L, tA2), (21L, tY))
    val n2 = Seq((30L, tY), (31L, tZ))
    def near(dir: String) = TableIO.stages(dir, Incremental.NearPrefix)
    // the write of batch n<k> got past its first table (doc) and was cut
    // before the manifest rename
    def cut(dir: String, k: Int): Unit = {
      val Seq(st) = near(dir).filter(_.endsWith(s"_n$k"))
      assert(TableIO.manifestPath(dir, st).toFile.delete())
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/$st/sig"))
    }
    def docs(dir: String) = near(dir).flatMap(st =>
      TableIO.read(spark, dir, st, "doc").select("doc_id").as[Long].collect()).toSet

    // the same batch re-ingested at once is rewritten whole
    val same = freshDir("near-cut-same")
    ingestNear(same, 0, n0)
    cut(same, 0)
    assert(near(same).isEmpty)
    assert(ingestNear(same, 0, n0) == Set(10L, 11L))
    assert(near(same).size == 1)
    assert(ingestNear(same, 1, n1) == Set(21L))

    // a different batch over the cut one sees none of it: the same accepted
    // sets as a run that never ingested the cut batch, and re-ingesting the
    // cut batch afterwards matches an uncut ingest in that order
    val dir = freshDir("near-cut")
    val ref = freshDir("near-cut-ref")
    ingestNear(dir, 0, n0)
    ingestNear(dir, 1, n1)
    cut(dir, 1)
    assert(near(dir).size == 1)
    ingestNear(ref, 0, n0)
    assert(ingestNear(dir, 2, n2) == Set(30L, 31L))
    assert(ingestNear(ref, 2, n2) == Set(30L, 31L))
    assert(ingestNear(dir, 1, n1) == ingestNear(ref, 1, n1))
    assert(docs(dir) == docs(ref) && docs(ref) == Set(10L, 11L, 30L, 31L))
    assert(near(dir).size == 3)
  }

  test("pack crash window: a stage without its manifest is unlisted and re-ingested") {
    val dir = freshDir("packcrash")
    val b0 = Seq((1L, 5L), (2L, 7L)).toDF("doc_id", "toks")
    val b1 = Seq((10L, 4L)).toDF("doc_id", "toks")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    Incremental.ingestPack(spark, dir, "p0", b0, "doc_id", "toks", 10L)
    val st = TableIO.stages(dir, Incremental.PackPrefix).head
    assert(TableIO.manifest(dir, st).table().stats == Map("sum_toks" -> 12L, "max_id" -> 2L))
    // crash after the data commit (_SUCCESS written), before the manifest
    assert(TableIO.manifestPath(dir, st).toFile.delete())
    assert(new java.io.File(s"$dir/$st/_SUCCESS").exists())
    assert(TableIO.stages(dir, Incremental.PackPrefix).isEmpty)
    val p0 = rows(Incremental.ingestPack(spark, dir, "p0", b0, "doc_id", "toks", 10L))
    assert(TableIO.stages(dir, Incremental.PackPrefix) == Seq(st))
    val (p1df, jobs) = TestSpark.jobsOf(
      Incremental.ingestPack(spark, dir, "p1", b1, "doc_id", "toks", 10L))
    val p1 = rows(p1df)
    assert(p0 ++ p1 == rows(graft.ml.Packing.tokenBudgetShards(
      b0.unionByName(b1), "doc_id", "toks", 10L)))
    assert(p1 == Set((10L, 12L, 1L)))
    // p1's base comes from p0's manifest: the ingest runs exactly the jobs
    // the same batch runs as the first batch of an empty stream, none over
    // p0's files
    val (_, firstJobs) = TestSpark.jobsOf(Incremental.ingestPack(spark,
      freshDir("packcrash-first"), "p1", b1, "doc_id", "toks", 10L))
    assert(jobs == firstJobs, s"p1 ingest ran $jobs jobs, a first batch $firstJobs")
  }

  test("pack resume reads through the manifest DDL: no job until an action, same rows and types") {
    val dir = freshDir("pack-resume")
    val b0 = Seq((1L, 4), (2L, 8), (3L, 5)).toDF("doc_id", "toks")
    val first = Incremental.ingestPack(spark, dir, "p0", b0, "doc_id", "toks", 10L)
    val (firstSchema, firstRows) = (first.schema, first.collect().toSet)
    val (resumed, jobs) = TestSpark.jobsOf(
      Incremental.ingestPack(spark, dir, "p0", b0, "doc_id", "toks", 10L))
    assert(jobs == 0, s"building the resumed pack ran $jobs jobs")
    assert(resumed.schema.map(f => f.name -> f.dataType) == firstSchema.map(f => f.name -> f.dataType))
    assert(resumed.collect().toSet == firstRows)
  }
}
