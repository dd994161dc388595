package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.TableIO

/**
 * Token-budget shard packing — the "write the training shards" step of a
 * data pipeline: documents are laid out in a deterministic global order
 * (`idCol`), each doc occupies `toks` tokens of the stream, and shard k
 * owns the byte range [k*budget, (k+1)*budget): a doc belongs to the shard
 * its STARTING offset falls in. Downstream dataloaders can then seek any
 * shard independently; the assignment is a pure function of the corpus, so
 * re-runs (and other engines — see the DuckDB oracle) reproduce it exactly.
 *
 * The global running offset is THE scale hazard here: the naive
 * `sum(toks) over (order by id)` window collapses the whole corpus into a
 * single partition (Spark plans an `Exchange SinglePartition` — one task
 * owns 100 TB). This implementation is the classic two-pass distributed
 * prefix scan instead:
 *
 *   1. range-partition by `idCol` (each partition owns a contiguous id
 *      range, partition index ordered by id) and materialize ONCE — the
 *      partition boundaries come from sampling, so both consumers below
 *      must see the same physical partitioning, not a re-planned one;
 *   2. per-partition token totals (a groupBy over ~numPartitions rows)
 *      are collected and prefix-summed on the driver — bounded by the
 *      partition count, never by the corpus;
 *   3. each row's offset = its PARTITION-LOCAL running sum (a window
 *      partitioned by the partition id — fully parallel) + the driver
 *      prefix for its partition, applied as a map-literal lookup (no join,
 *      no broadcast exchange).
 *
 * Per-row output: (id, toks, off, shard). Every value is checked by the
 * DuckDB oracle's single-threaded global window — the distributed scan must
 * agree bit-for-bit.
 */
object Packing {

  /**
   * @param df      input with `idCol` (unique, orderable) and `toksCol`
   *                (long token count per row)
   * @param budget  tokens per shard (> 0)
   * @param numPartitions range-partition width; defaults to the session's
   *                shuffle parallelism
   */
  def tokenBudgetShards(df: DataFrame, idCol: String, toksCol: String,
                        budget: Long, numPartitions: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
            else spark.conf.get("spark.sql.shuffle.partitions").toInt
    // one physical materialization of the range layout: spark_partition_id
    // is only meaningful relative to ONE concrete shuffle output, and the
    // RangePartitioner's sampled boundaries may differ between re-plans
    val ranged = df.select(col(idCol), col(toksCol).cast("long").as("toks"))
      .repartitionByRange(n, col(idCol))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    // pass 1: per-partition totals -> exclusive prefix (driver-side, one
    // row per partition — bounded by the cluster width, not the data)
    val totals = ranged.groupBy(col("pid")).agg(sum(col("toks")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val prefix: Map[Int, Long] = {
      var acc = 0L
      totals.map { case (pid, t) => val p = pid -> acc; acc += t; p }.toMap
    }
    // pass 2: partition-local running sum (parallel window over pid) +
    // the driver prefix via a map literal — keeps this a single map-side
    // projection after the (already-parallel) window sort
    val local = Window.partitionBy(col("pid")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val off = sum(col("toks")).over(local) - col("toks") +
      coalesce(element_at(typedLit(prefix), col("pid")), lit(0L))
    ranged
      .withColumn("off", off)
      // integer division, not floor(double /): offsets reach ~1e14 at
      // 100 TB, where float division loses low bits
      .withColumn("shard", expr(s"off div ${budget}L"))
      .select(col(idCol), col("toks"), col("off"), col("shard"))
  }

  /** The at-rest training shards' stage. */
  val ShardStage = "shards"

  /** Persist the packed corpus as the [[ShardStage]] TableIO stage of
   *  `dir`, PARTITIONED BY shard — the at-rest training-shard layout, the
   *  one [[Incremental.ingestPack]]'s `pack_*` stages use: a dataloader (or
   *  a resumed job) reads one shard's directory without touching the rest
   *  (directory-level pruning, asserted in PackingSpec). `docs` re-joins on
   *  `idCol` so the payload columns ride along with (toks, off, shard).
   *  The manifest rename commits the stage, and a complete stage is not
   *  rewritten. */
  def writeShards(packed: DataFrame, docs: DataFrame, idCol: String,
                  dir: String): Unit =
    TableIO.stageWrite(packed.sparkSession, dir, ShardStage, partitionBy = Seq("shard")) {
      docs.join(packed, Seq(idCol))
    }
}
