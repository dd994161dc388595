package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.TableIO

/**
 * INCREMENTAL exact dedup — the ingest-time shape of [[Dedup.exact]] for a
 * pipeline that receives the corpus in batches (a production crawl ingests
 * continuously; re-running a full-corpus dedup per batch re-shuffles the
 * whole 100-TB history every day). Each batch is deduped against itself
 * (first occurrence per text, min id — [[Dedup.exact]]'s keep rule) and
 * against ALL previously ACCEPTED content, then its accepted rows are
 * appended to persisted state. The final corpus equals what the one-shot
 * [[Dedup.exact]] over the concatenated batches would keep, batch arrival
 * order deciding ties across batches (spec'd in IncrementalSpec).
 *
 * State layout — one BUCKETED stage per ingested batch
 * (`state_<batch>`, [[TableIO.bucketedStage]] on `h` = xxhash64(text)):
 *
 *  - the state side of every anti-join arrives pre-partitioned: bucketing
 *    on `h` satisfies the join's clustering requirement, so ONLY the new
 *    batch shuffles — accepted history never moves again (plan-asserted:
 *    no Exchange above the state scan). At 100 TB the state is the big
 *    side; this is the difference between an ingest that reads history
 *    and one that re-shuffles it.
 *  - ingest is APPEND-ONLY: a batch never rewrites earlier state
 *    (Iceberg-style — a snapshot is the set of batch stage dirs; resume
 *    and lineage ride the TableIO manifests like every other stage).
 *  - the raw text stays alongside `h`, and the join matches on BOTH
 *    (null-safe on text), so dedup is EXACT under hash collisions — same
 *    contract as [[Dedup.joinSpanStats]]; `h` exists to keep shuffle /
 *    bucket / sort comparisons on longs.
 *
 * Anti-join chaining: a batch is filtered through each prior stage in
 * sequence. Cost per ingest is O(batches) joins, each shuffle-free on the
 * state side; a long-running pipeline compacts (unions all `state_*`
 * stages into one bucketed stage and retires them) on the usual log-
 * structured schedule — compaction is just `bucketedStage(union)`, not a
 * new primitive, so it is left to the operator.
 *
 * NULL text is one content value (null-safe equality in the join,
 * `groupBy` already treats NULL as a group): a null-text row dedups
 * against earlier null-text rows instead of being re-accepted forever —
 * the [[Sketch]] null lesson applied here from the start.
 */
object Incremental {

  /** Stage-name prefix for accepted-batch state tables (exact dedup). */
  val StatePrefix = "state_"

  /** Stage-name prefix for the near-dup (minhash) state: one stage per
   *  batch holding the accepted docs (`doc`, refine side) and their banded
   *  signature index (`sig`, probe side). */
  val NearPrefix = "near_"

  /** Buckets for the state tables — a fixed layout every batch shares
   *  (bucketed joins require equal bucket counts on both staged sides). */
  val DefaultBuckets = 8

  /** Per-batch first occurrences: one row per distinct text with the kept
   *  (min) id and the in-batch duplicate count — [[Dedup.exact]] plus the
   *  long hash key the state layout buckets on. One shuffle, map-side
   *  combined. */
  def batchFirsts(batch: DataFrame, idCol: String, textCol: String): DataFrame =
    batch.groupBy(col(textCol).as("text"))
      .agg(min(col(idCol)).as("id"), count(lit(1)).as("n_dups"))
      .select(xxhash64(col("text")).as("h"), col("id"), col("text"), col("n_dups"))

  /** Free a localCheckpoint'ed DataFrame's storage blocks: `Dataset
   *  .unpersist` only clears CacheManager entries, but an eager local
   *  checkpoint lives as persisted partitions of the RDD inside the
   *  resulting `LogicalRDD` leaf — unpersist THAT (the Components
   *  releaseResults lesson, applied to checkpointed Datasets). A later
   *  action on the released frame fails rather than silently recomputing
   *  (local checkpoints truncate lineage), so release only after every
   *  consumer has run — here: after the stage writes. */
  private def releaseCheckpoint(dfs: DataFrame*): Unit =
    dfs.filter(_ != null).foreach(_.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    })

  private def seqOf(name: String): Int = name.split("_", 3)(1).toInt

  /** Next stage sequence number: max existing + 1 (NOT the stage count —
   *  after [[compact]] retires stages, a count-derived number could collide
   *  with a surviving higher-numbered stage and silently resume it). */
  private def nextSeq(names: Seq[String]): Int = names.map(seqOf).foldLeft(-1)(math.max) + 1

  private def requireBatchName(batchName: String): Unit =
    require(batchName.nonEmpty && batchName.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '.'),
      s"batch name must be [A-Za-z0-9.-]+: $batchName")

  /** The stage of `names` (`<prefix><seq>_<batch>`) that ingested `batchName`. */
  private def stageOf(names: Seq[String], batchName: String): Option[String] =
    names.find(_.split("_", 3).last == batchName)

  /** Run `body` with Spark's requireAllClusterKeysForCoPartition off. The
   *  state joins key on more columns than the state is bucketed on (h, or
   *  band_key, co-locates every match; the rest refines it), and the
   *  default `true` would reject that subset co-partitioning, re-shuffle
   *  BOTH sides and disable the bucketed scan — precisely the history
   *  re-shuffle this layout exists to avoid. Planning happens inside the
   *  stage writes in `body`, so the previous value is restored after. */
  private def withSubsetCoPartitioning[T](spark: SparkSession)(body: => T): T = {
    val kReq = "spark.sql.requireAllClusterKeysForCoPartition"
    val prev = spark.conf.get(kReq)
    spark.conf.set(kReq, "false")
    try body finally spark.conf.set(kReq, prev)
  }

  /** The live exact-dedup state stages. A [[compact]]ed stage declares in
   *  its manifest (`folded`) the last sequence it folds; stages at or below
   *  it are retired: a compaction cut after its commit and before deleting
   *  them leaves them listed, so they are skipped here and deleted. */
  private def stateStages(stateDir: String): Seq[String] = {
    val names = TableIO.stages(stateDir, StatePrefix)
    val folded = names.filter(_.split("_", 3).last.startsWith("compact")).lastOption
      .fold(-1L)(TableIO.manifest(stateDir, _).table().stats("folded"))
    val (retired, live) = names.partition(seqOf(_) <= folded)
    TableIO.drop(stateDir, retired)
    live
  }

  /**
   * Ingest one batch: returns (and persists) its accepted rows
   * `(h, id, text, n_dups)` — first occurrence per text within the batch,
   * text unseen in state. Idempotent with TableIO semantics: if this
   * batch name was already ingested, the staged result is returned without
   * recomputation (stages are deterministic pipeline steps; hand the same
   * name the same batch).
   */
  def ingestExact(spark: SparkSession, stateDir: String, batchName: String,
                  batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    requireBatchName(batchName)
    require(!batchName.startsWith("compact"),
      s"batch names starting with 'compact' are reserved for [[compact]]: $batchName")
    val prior = stateStages(stateDir)
    val existing = stageOf(prior, batchName)
    if (existing.nonEmpty) return TableIO.read(spark, stateDir, existing.get)
    val name = f"$StatePrefix${nextSeq(prior)}%06d_$batchName"
    val firsts = batchFirsts(batch, idCol, textCol)
    val survivors = prior.foldLeft(firsts) { (acc, st) =>
      val state = TableIO.read(spark, stateDir, st)
        .select(col("h").as("s_h"), col("text").as("s_text"))
      acc.join(state,
        acc("h") === state("s_h") && acc("text") <=> state("s_text"),
        "left_anti")
    }
    // the join keys are (h, text) but the state is bucketed on h alone:
    // text is the collision-exactness refinement, not a distribution key
    withSubsetCoPartitioning(spark) {
      TableIO.bucketedStage(spark, stateDir, name, "h", DefaultBuckets) { survivors }
    }
  }

  /** The accepted corpus so far — the union of every batch's state stage
   *  (what a one-shot [[Dedup.exact]] over all ingested rows would keep,
   *  with cross-batch ties resolved by arrival order). */
  def accepted(spark: SparkSession, stateDir: String): DataFrame = {
    val names = stateStages(stateDir)
    require(names.nonEmpty, s"no completed state stages under $stateDir")
    names.map(TableIO.read(spark, stateDir, _)).reduce(_ unionByName _)
  }

  /**
   * Incremental NEAR-dup dedup — [[ingestExact]]'s minhash twin: each batch
   * is near-dup-filtered against itself and against all previously accepted
   * content, using the same banding + exact-Jaccard-refine machinery as the
   * batch operators ([[Dedup.minhashCandidates]] / [[Dedup.jaccardRefine]]).
   *
   * Pinned semantics (deterministic, oracle-able):
   *  - in-batch: a doc is rejected when a banding candidate with a SMALLER
   *    id in the same batch refines to Jaccard >= `threshold` — whether or
   *    not that partner is itself accepted (aggressive first-wins, NOT
   *    leader clustering: if A~B and B~C but A!~C, both B and C drop; the
   *    batch family's `dupClusters` is the clustering semantics when
   *    transitive grouping is wanted);
   *  - cross-batch: a surviving doc is rejected when any ACCEPTED doc from
   *    an earlier batch is a banding candidate refining to >= `threshold`.
   *
   * State per batch: one stage `near_<seq>_<batch>` of two TableIO-bucketed
   *  tables, committed together by the stage's one manifest rename:
   *  - `sig` (band_key, band, doc_id) bucketed on band_key — the banded
   *    signature index the new batch PROBES; the state side of the probe
   *    join arrives pre-partitioned (subset co-partitioning on band_key),
   *    so the signature history never re-shuffles;
   *  - `doc` (doc_id, text) bucketed on doc_id — the refine side. Accepted
   *    TEXT is fetched ONLY for candidate partners (a
   *    doc_id semi-join against the bucketed table): the state's text is
   *    never rescanned wholesale, which is the difference between probing
   *    an index and re-reading 100 TB of history per batch.
   *
   * CONTRACT: doc ids must be unique ACROSS batches, not just within one —
   * the refine input unions accepted-state partner rows with the new batch
   * keyed by doc_id alone, so a cross-batch id collision would merge two
   * different texts' shingles under one id and corrupt the computed
   * Jaccard sizes/intersections (the same global-uniqueness assumption
   * [[ingestPack]] enforces via its monotonic-id require; here the id
   * space is the caller's to govern — crawl pipelines key by content hash
   * or snapshot-prefixed ids).
   *
   * The signature index is ~4 small rows per accepted doc; `maxBucket`
   * carries the usual banding discriminativeness cap. A crash before the
   * manifest rename leaves the batch's stage unlisted: later batches never
   * see half of it, and re-ingesting the batch (keyed by name) rewrites it
   * whole. Returns the accepted (doc_id, text) table.
   */
  def ingestMinhash(spark: SparkSession, stateDir: String, batchName: String,
                    batch: DataFrame, idCol: String, textCol: String,
                    threshold: Double, shingleN: Int = 3,
                    maxBucket: Option[Int] = None): DataFrame = {
    requireBatchName(batchName)
    val prior = TableIO.stages(stateDir, NearPrefix)
    val existing = stageOf(prior, batchName)
    if (existing.nonEmpty) return TableIO.read(spark, stateDir, existing.get, "doc")
    val name = f"$NearPrefix${nextSeq(prior)}%06d_$batchName"

    val b = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .localCheckpoint(true)
    val sigs = Dedup.minhashSignatures(b, "doc_id", "text").localCheckpoint(true)
    // in-batch candidate pairs: reject the larger id of every refined pair
    val inPairs = Dedup.minhashCandidates(sigs, maxBucket)
    var cands: DataFrame = null
    var refineIn: DataFrame = null

    try withSubsetCoPartitioning(spark) {
      // ONE refine per ingest (optimization round): the in-batch and
      // cross-batch verifications used to run as two jaccardRefine chains
      // separated by an inOk barrier (probe with survivors only). The
      // accepted set is IDENTICAL when both pair lists refine together
      // against (batch ∪ partners) and rejects = all refined id2:
      //  - in-batch rejection never depended on the partner's own fate
      //    (aggressive first-wins), so those pairs are unchanged;
      //  - a cross pair whose id2 was also in-batch-rejected is a no-op
      //    (the doc is rejected either way) — which is exactly why probing
      //    with ALL batch signatures instead of survivors cannot change
      //    the result, only add candidate volume bounded by the in-batch
      //    duplicate fraction. The oracle unrolls acceptance from the one
      //    global banding+refine pair list, so this shape matches it more
      //    directly. Saves a full refine chain (≈6 shuffle stages) and the
      //    survivor checkpoint per ingest; measured d11 ~10 -> ~8 s sf0.1.
      val accepted = if (prior.isEmpty) {
        val rejects = Dedup.jaccardRefine(b, "doc_id", "text", shingleN,
            threshold, inPairs)
          .select(col("id2").as("doc_id")).distinct()
        b.join(rejects, Seq("doc_id"), "left_anti")
      } else {
        // probe the banded state index: the batch's band keys vs each stage
        val rawProbe = Dedup.minhashBands(sigs)
        // the cross probe needs the SAME discriminativeness cap as
        // minhashCandidates: char-trigram banding is weak on short text
        // (universal trigrams make a few band keys corpus-wide hot), and an
        // uncapped probe forms |bucket_batch| x |bucket_state| pairs PER
        // STAGE — measured 2.3M candidate pairs per 20k-doc batch against
        // ONE 20k-doc stage (ScaleIncrNear), growing linearly with state.
        // Dropping the probe side of a hot key suffices (the state side
        // then never matches); true near-dups survive via their other,
        // discriminative bands — the minhashCandidates rationale. (pn now
        // counts the whole batch's probe rows rather than survivors-only —
        // the cap is a discriminativeness heuristic and the count basis is
        // documented, not load-bearing.)
        val probe = maxBucket match {
          case None => rawProbe
          case Some(cap) =>
            val stateCnt = prior.map { st =>
              TableIO.read(spark, stateDir, st, "sig")
                .select(col("band"), col("band_key"))
            }.reduce(_ unionByName _)
              .groupBy(col("band"), col("band_key")).agg(count(lit(1)).as("sn"))
            val ok = rawProbe.groupBy(col("band"), col("band_key"))
              .agg(count(lit(1)).as("pn"))
              .join(stateCnt, Seq("band", "band_key"), "left")
              .filter(col("pn") + coalesce(col("sn"), lit(0L)) <= cap)
              .select(col("band"), col("band_key"))
            rawProbe.join(ok, Seq("band", "band_key"))
              .select(col("doc_id"), col("band"), col("band_key"))
        }
        cands = prior.map { st =>
          val state = TableIO.read(spark, stateDir, st, "sig")
            .select(col("band"), col("band_key"), col("doc_id").as("id1"))
          probe.join(state, Seq("band", "band_key"))
            .select(col("id1"), col("doc_id").as("id2"))
        }.reduce(_ unionByName _).distinct().localCheckpoint(true)
        // refine only the candidate partners: state text via doc_id
        // semi-joins against the bucketed doc tables, never a full rescan
        val partnerIds = cands.select(col("id1").as("doc_id")).distinct()
        val partners = prior.map { st =>
          TableIO.read(spark, stateDir, st, "doc")
            .join(partnerIds, Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("text"))
        }.reduce(_ unionByName _)
        // MATERIALIZE the refine input: jaccardRefine references its
        // shingle table in six plan positions, so an un-checkpointed
        // (batch ∪ k-stage-union) subtree is embedded 6x and the plan
        // grows with the stage count — measured 74 s -> 135 s per added
        // stage at 20k docs/batch before this leaf, flat after
        refineIn = b.unionByName(partners).localCheckpoint(true)
        // in-batch and cross pairs are disjoint (cross id1 is an accepted
        // EARLIER-batch doc; the cross-batch id-uniqueness contract above)
        // and individually distinct, so the union stays distinct — the
        // jaccardRefine requirement
        val rejects = Dedup.jaccardRefine(refineIn, "doc_id", "text",
            shingleN, threshold,
            inPairs.unionByName(cands.select(col("id1"), col("id2"))))
          .select(col("id2").as("doc_id")).distinct()
        b.join(rejects, Seq("doc_id"), "left_anti")
      }
      TableIO.write(spark, stateDir, name)(
        TableIO.Table("doc", bucket = Some(("doc_id", DefaultBuckets)))(
          _ => accepted.select(col("doc_id"), col("text"))),
        TableIO.Table("sig", bucket = Some(("band_key", DefaultBuckets)))(doc =>
          Dedup.minhashBands(
            sigs.join(doc("doc").select(col("doc_id")), Seq("doc_id"), "left_semi"))
            .select(col("band_key"), col("band"), col("doc_id"))))
      TableIO.read(spark, stateDir, name, "doc")
    } finally {
      // release this ingest's checkpoint blocks: both outputs are staged on
      // disk, so the intermediates would only pile up across a long-running
      // ingest loop
      releaseCheckpoint(b, sigs, cands, refineIn)
    }
  }

  /** Stage-name prefix for appended training-shard batches. */
  val PackPrefix = "pack_"

  /**
   * Incremental SHARD PACKING — the export-end member of the incremental
   * family: append an arriving batch to an existing packed training stream
   * without repacking history. The batch is packed with [[Packing
   * .tokenBudgetShards]]' two-pass distributed prefix scan, its offsets
   * shifted by the persisted stream total, so the combined layout is
   * IDENTICAL to a one-shot pack over the concatenated corpus (the x12
   * oracle applies unchanged) — history shards are never rewritten; at
   * most the boundary shard gains rows in the new batch's own stage.
   *
   * Contract: ids must be globally monotonic across batches (batch min id
   * > all prior ids — natural for time-ordered crawl snapshots, REQUIRED
   * because the one-shot layout orders by id); enforced with one bounded
   * aggregate over the BATCH only. Each batch stages as `pack_<seq>_<batch>`
   * PARTITIONED BY shard — a dataloader reading shard k directory-prunes
   * every stage (the delta-read pattern shared with [[graft.ml.AnnStore]]).
   * The stream total and max id are stats each stage declares in its
   * TableIO manifest (`sum_toks`, `max_id`): reading them back is
   * driver-side file IO, so ingest cost does not grow with the stage count
   * (guide §1.2: don't recompute what the write already knew). The
   * manifest is also the stage's completion marker, so every stage
   * [[TableIO.stages]] lists has its stats; a stage cut before its
   * manifest is unlisted and re-ingesting its batch rewrites it.
   * Idempotent by batch name. Returns the batch's packed rows
   * (id, toks, off, shard).
   */
  def ingestPack(spark: SparkSession, stateDir: String, batchName: String,
                 batch: DataFrame, idCol: String, toksCol: String,
                 budget: Long): DataFrame = {
    requireBatchName(batchName)
    val prior = TableIO.stages(stateDir, PackPrefix)
    val existing = stageOf(prior, batchName)
    // read with the manifest's data-column DDL (no schema-inference job);
    // partition-directory type inference narrows shard to int — restore
    // the packer's long (offsets reach ~1e14/budget at 100 TB)
    if (existing.nonEmpty) return TableIO.read(spark, stateDir, existing.get)
      .select(col(idCol), col("toks"), col("off"), col("shard").cast("long").as("shard"))
    val (base, maxPrior) = prior.foldLeft((0L, Long.MinValue)) { case ((b, m), st) =>
      val stats = TableIO.manifest(stateDir, st).table().stats
      def stat(k: String) = stats.getOrElse(k, sys.error(s"pack stage $st declares no $k"))
      (b + stat("sum_toks"), math.max(m, stat("max_id")))
    }
    // one bounded aggregate over the batch: min id for the monotonic-id
    // contract, sum/max declared in the stage's manifest so LATER ingests
    // never re-scan this stage. The empty-batch require runs
    // regardless of stream state — an empty FIRST batch would otherwise
    // stage an empty table and make the next ingest fail obscurely.
    val statRow = batch.agg(min(col(idCol)), max(col(idCol)),
      sum(col(toksCol).cast("long"))).head()
    require(!statRow.isNullAt(0), s"batch $batchName is empty — nothing to append")
    val (minId, maxId, sumToks) =
      (statRow.getLong(0), statRow.getLong(1), statRow.getLong(2))
    if (prior.nonEmpty) {
      require(minId > maxPrior,
        s"ids must be monotonic across batches: batch min $minId <= prior max " +
          s"$maxPrior — the packed layout orders by id, so out-of-order ids " +
          "would require repacking history")
    }
    val name = f"$PackPrefix${nextSeq(prior)}%06d_$batchName"
    val packed = Packing.tokenBudgetShards(
        batch.select(col(idCol), col(toksCol).cast("long").as("toks")),
        idCol, "toks", budget)
      .withColumn("off", col("off") + lit(base))
      .withColumn("shard", expr(s"off div ${budget}L"))
    TableIO.stageWrite(spark, stateDir, name, partitionBy = Seq("shard"),
      stats = Map("sum_toks" -> sumToks, "max_id" -> maxId)) { packed }
    // return the rows just computed (tokenBudgetShards materializes its
    // range layout, so this re-reads a local checkpoint, not the pipeline):
    // the staged read-back re-opened every shard file of the stage just
    // written — partition discovery over ~stage-shard-count directories per
    // ingest, measured 1.2 s of a 4 s ingest at sf0.1 (IncrProbe) — purely
    // to re-read rows already in hand. The resume path (stage complete on
    // entry) still reads from disk above; rows are identical by the stage
    // write's own contract.
    packed.select(col(idCol), col("toks"), col("off"), col("shard"))
  }

  /**
   * Log-structured maintenance: fold every state stage into ONE bucketed
   * stage and retire the originals, so ingest cost returns to a single
   * anti-join instead of O(batches). Crash-safe without a transaction log:
   * the compacted stage is written FIRST (under the next sequence number,
   * so it can never silently resume an existing stage) and its manifest
   * declares the last sequence it folds (`folded`); its one rename retires
   * every stage at or below it, which the state listing skips from then on
   * and deletes. A crash before the rename leaves the originals live and
   * the fold unlisted. Union-then-aggregate shuffles once on (h, text);
   * the next compaction pass at 100 TB would sort-merge the bucketed inputs
   * instead, the same subset-co-partition trick as ingest — left as the
   * documented upgrade.
   */
  def compact(spark: SparkSession, stateDir: String): DataFrame = {
    val names = stateStages(stateDir)
    require(names.nonEmpty, s"no completed state stages under $stateDir")
    if (names.size == 1) return TableIO.read(spark, stateDir, names.head)
    val seq = nextSeq(names)
    val name = f"$StatePrefix$seq%06d_compact$seq"
    TableIO.write(spark, stateDir, name)(TableIO.Table("", bucket = Some(("h", DefaultBuckets)),
        stats = Map("folded" -> (seq - 1L)))(_ =>
      names.map(TableIO.read(spark, stateDir, _)).reduce(_ unionByName _)
        .groupBy(col("h"), col("text"))
        .agg(min(col("id")).as("id"), max(col("n_dups")).as("n_dups"))
        .select(col("h"), col("id"), col("text"), col("n_dups"))))
    stateStages(stateDir) // deletes the folded stages
    TableIO.read(spark, stateDir, name)
  }
}
