package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Stage-boundary table IO with per-partition lineage + metrics, enabling
 * exact resume (BASELINE.json north_rule: "every stage checkpoints
 * per-partition lineage + metrics to enable exact resume").
 *
 * Storage is Parquet with an Iceberg-compatible layout (partition columns +
 * a `_lineage.json` manifest we write ourselves — no Iceberg runtime jar
 * ships in this environment, SURVEY.md §7.1). The write API is thin enough
 * that `format("iceberg")` can be swapped in unchanged.
 *
 * A stage is: `TableIO.stage(spark, dir, "postings") { compute }` —
 * if the stage's manifest + _SUCCESS exist, the computed DataFrame is NOT
 * recomputed; the persisted table is read back. Otherwise the stage runs
 * and commits in this order: Spark's file committer writes the data and
 * then `_SUCCESS`; the [[Manifest]] (per-file row counts from the parquet
 * footers, total rows, wall time, read-back schema, layout and the caller's
 * declared stats) is written to a temporary file and atomically renamed to
 * `_lineage.json`. The manifest is the completion marker, so a complete
 * stage never has a truncated or missing manifest, and a crash anywhere
 * before the rename leaves an incomplete stage that the next run rewrites.
 * This object is the only code that knows the manifest format and the rule
 * for listing completed stages ([[stages]]).
 */
object TableIO {

  /** Rows of one physical file of a stage, path relative to the stage dir. */
  final case class FileRows(file: String, rows: Long)

  /** A completed stage's `_lineage.json`: what the write produced. `schema`
   *  is the DDL of the data columns as Spark reads them back (every Parquet
   *  column is nullable); reading with it skips Parquet schema inference,
   *  one job per read, and Spark still appends the `partitionBy` columns
   *  typed from the directory names, as an inferring read does. Bucketed
   *  stages re-register from it and their recorded layout. `stats` holds
   *  aggregates the writer declared (e.g. a pack stage's token sum), so
   *  later readers answer them from the manifest instead of the data. */
  final case class Manifest(
      stage: String,
      rows: Long,
      wallSec: Double,
      schema: String,
      partitionBy: Seq[String],
      bucketKey: Option[String],
      nBuckets: Option[Int],
      // without the content type, Jackson boxes small numbers as Integer
      // behind the erased Long and the first unboxing throws
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) stats: Map[String, Long],
      partitions: Seq[FileRows])

  private val Mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .serializationInclusion(JsonInclude.Include.NON_ABSENT)
    .build()

  def manifestPath(dir: String, name: String): java.nio.file.Path =
    Paths.get(dir, name, "_lineage.json")

  /** The manifest of a completed stage. */
  def manifest(dir: String, name: String): Manifest =
    Mapper.readValue(manifestPath(dir, name).toFile, classOf[Manifest])

  /** Completed stages directly under `dir` whose names start with `prefix`,
   *  sorted by name (writers that append stages name them with a zero-padded
   *  sequence number, so this is write order). A stage whose write was cut
   *  before its manifest rename is not listed. */
  def stages(dir: String, prefix: String): Seq[String] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Seq.empty
    // close the directory stream deterministically: ingest loops list on
    // every batch, and an unclosed Files.list leaks a directory fd per call
    scala.util.Using.resource(Files.list(root)) { s =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith(prefix) && isComplete(dir, n))
        .toVector
    }.sorted
  }

  /** Commit a stage whose data Spark has just written: per-file lineage,
   *  then the manifest via a temporary file and an atomic rename. */
  private def commit(dir: String, name: String, t0: Long, df: DataFrame,
                     partitionBy: Seq[String], bucket: Option[(String, Int)],
                     stats: Map[String, Long]): Unit = {
    val perFile = lineage(s"$dir/$name")
    val dataColumns = df.schema.filterNot(f => partitionBy.contains(f.name))
    val m = Manifest(stage = name, rows = perFile.map(_._2).sum,
      wallSec = (System.nanoTime() - t0) / 1e9,
      schema = StructType(dataColumns.map(_.copy(nullable = true))).toDDL,
      partitionBy = partitionBy, bucketKey = bucket.map(_._1),
      nBuckets = bucket.map(_._2), stats = stats, partitions = perFile.map { case (f, n) => FileRows(f, n) }.toSeq)
    val tmp = Paths.get(dir, name, "_lineage.json.tmp")
    Mapper.writerWithDefaultPrettyPrinter().writeValue(tmp.toFile, m)
    Files.move(tmp, manifestPath(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Per-partition lineage: rows per physical file of the persisted table,
   *  read from the PARQUET FOOTERS (driver-side, ~KB of metadata per file)
   *  instead of re-scanning the written data — the previous
   *  input_file_name() groupBy re-read every byte just written, a full
   *  extra pass over each stage's output (guide §1.2: don't recompute what
   *  the write already knows). Footer row counts are exact (the writer
   *  records them per row group), so the manifest is unchanged. The
   *  partition directory (e.g. bucket=7/part-...) is kept so lineage
   *  identifies the physical partition, not just a basename. */
  private def lineage(stagePath: String): Array[(String, Long)] = {
    val base = Paths.get(stagePath)
    val conf = new org.apache.hadoop.conf.Configuration()
    val files = {
      val s = Files.walk(base)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
        }.toArray
      finally s.close()
    }
    // footer opens are ~ms each and a partitioned stage can hold hundreds
    // of shard files — read them concurrently (bounded pool), not serially
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(32, math.max(1, files.length)))
    try {
      val futures = files.map { p =>
        pool.submit(new java.util.concurrent.Callable[(String, Long)] {
          def call(): (String, Long) = {
            val rel = base.relativize(p).toString
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(p.toUri), conf)
            val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            val rows = try {
              var t = 0L
              reader.getFooter.getBlocks.forEach(b => t += b.getRowCount)
              t
            } finally reader.close()
            (rel, rows)
          }
        })
      }
      futures.map(_.get()).filter(_._2 > 0).sortBy(_._1)
    } finally pool.shutdown()
  }

  def isComplete(dir: String, name: String): Boolean =
    Files.exists(manifestPath(dir, name)) &&
      Files.exists(Paths.get(dir, name, "_SUCCESS"))

  /**
   * Run (or resume past) a stage. `partitionBy` columns become the table's
   * physical partitioning (cell-bucket pruning at read time).
   */
  def stage(spark: SparkSession, dir: String, name: String,
            partitionBy: Seq[String] = Nil)
           (compute: => DataFrame): DataFrame = {
    stageWrite(spark, dir, name, partitionBy)(compute)
    spark.read.schema(manifest(dir, name).schema).parquet(s"$dir/$name")
  }

  /** The write half of [[stage]] without the read-back: constructing the
   *  persisted-table handle runs partition discovery over every output
   *  directory (a parallel listing job for wide partitioned stages —
   *  measured ~1 s for a 470-shard stage on tmpfs), which a caller that
   *  already holds the computed rows and only needs the stage AT REST
   *  (ingest state appends) never uses. Identical layout, manifest and
   *  completeness semantics; does nothing when the stage is complete.
   *  `stats` are recorded in the manifest as declared (see [[Manifest]]). */
  def stageWrite(spark: SparkSession, dir: String, name: String,
                 partitionBy: Seq[String] = Nil, stats: Map[String, Long] = Map.empty)
                (compute: => DataFrame): Unit = {
    val path = s"$dir/$name"
    if (isComplete(dir, name)) return

    val t0 = System.nanoTime()
    val df = compute
    // Iceberg-style hash write distribution (write.distribution-mode=hash):
    // cluster rows by the partition columns before a dynamic-partition
    // write, so each task writes whole partition values. Without it every
    // task holds every partition value and the writer opens tasks x values
    // files — measured 6.2 s -> 1.2 s for a 470-shard stage, and the
    // many-small-files layout is exactly what guide §6 warns reads pay for.
    // explicit width: a column-only repartition is AQE-coalescible and a
    // tiny stage collapses to ONE writer task (measured 15 s serial)
    val out = if (partitionBy.nonEmpty)
        df.repartition(spark.sessionState.conf.numShufflePartitions,
          partitionBy.map(col): _*)
      else df
    val writer0 = out.write.mode("overwrite")
    val writer = if (partitionBy.nonEmpty) writer0.partitionBy(partitionBy: _*) else writer0
    writer.parquet(path)
    commit(dir, name, t0, df, partitionBy, None, stats)
  }

  /**
   * A stage persisted as an EXTERNAL BUCKETED table: hash-bucketed and
   * sorted by `key` into `nBuckets` files per partition, registered in the
   * catalog so the reader's `outputPartitioning` carries the bucketing.
   * Joins and aggregations keyed on `key` then skip their shuffle entirely
   * (asserted in TableIOSpec) — the co-located-join layout for tables that
   * are repeatedly joined on one key (postings on `term`, objects on
   * `cell`). At warehouse scale the catalog is the metastore and the
   * registration outlives every session; here the catalog is session-local,
   * so a fresh session re-registers over the existing files from the DDL
   * recorded in the manifest (`schema`) — the data itself is never
   * rewritten on resume.
   *
   * Returns `spark.table(...)`, the bucket-aware handle (a plain
   * `read.parquet` of the same path would silently drop the bucket
   * metadata and re-shuffle).
   *
   * Assumes a SINGLE writer per (dir, name): stages are pipeline steps, not
   * a concurrency primitive. Both the complete and the incomplete-recovery
   * branches verify the registered table's canonical location before
   * trusting (or dropping) it, so a table-name hash collision fails loudly
   * rather than racing two stages onto one path.
   */
  def bucketedStage(spark: SparkSession, dir: String, name: String,
                    key: String, nBuckets: Int)
                   (compute: => DataFrame): DataFrame = {
    val path = s"$dir/$name"
    // the catalog name carries the DIRECTORY (stages with the same name in
    // two output dirs are different tables) — a dir-less name would make
    // the tableExists shortcut silently return the other dir's data
    val tbl = f"graft_${name}_by_${key}_${path.hashCode & 0x7fffffff}%08x"
    def ddl(schema: String) =
      s"""CREATE TABLE $tbl ($schema) USING parquet
         |CLUSTERED BY ($key) SORTED BY ($key) INTO $nBuckets BUCKETS
         |LOCATION '$path'""".stripMargin
    def requireLayout(): Manifest = {
      // the physical files are bucketed by the RECORDED layout; declaring a
      // different one would make Spark elide shuffles it must not elide
      // (silently wrong joins), so a mismatch fails loudly
      val m = manifest(dir, name)
      require(m.bucketKey.contains(key) && m.nBuckets.contains(nBuckets),
        s"stage $name at $path is bucketed by (${m.bucketKey.orNull}, " +
          s"${m.nBuckets.getOrElse("none")}) but was requested as ($key, $nBuckets); " +
          "delete the stage to re-bucket")
      m
    }
    val registered = spark.catalog.tableExists(tbl)
    if (registered && isComplete(dir, name)) {
      requireLayout()
      // the hash-suffixed name is collision-resistant, not collision-free:
      // verify the registered table really points at THIS stage directory
      val loc = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location
      val canonical = new java.io.File(path).getCanonicalPath
      require(new java.io.File(loc.getPath).getCanonicalPath == canonical,
        s"catalog table $tbl points at ${loc.getPath}, not $canonical — name collision")
      return spark.table(tbl)
    }
    if (!registered && isComplete(dir, name)) {
      // resume in a fresh session: re-register over the existing files
      spark.sql(ddl(requireLayout().schema))
      return spark.table(tbl)
    }
    // registered but NOT complete: a previous attempt died between
    // saveAsTable and the manifest write — drop the half-registered table
    // and recompute instead of failing on the missing manifest forever.
    // Same canonical-location check as the complete branch: a hashCode
    // collision must not drop ANOTHER stage's registration (stages assume a
    // single writer per (dir, name) — concurrent writers are out of scope).
    if (registered) {
      val loc = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location
      val canonical = new java.io.File(path).getCanonicalPath
      require(new java.io.File(loc.getPath).getCanonicalPath == canonical,
        s"catalog table $tbl points at ${loc.getPath}, not $canonical — name " +
          "collision; refusing to drop another stage's registration")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
    val t0 = System.nanoTime()
    val df = compute
    // cluster by the bucket key into nBuckets tasks before the bucketed
    // write: Spark's bucket id and HashPartitioning share the same
    // murmur3 hash, so each task then holds exactly one bucket and the
    // stage lands as nBuckets files instead of tasks x buckets tiny files
    // (same hash-distribution rationale as stage() above)
    df.repartition(nBuckets, col(key)).write.mode("overwrite")
      .bucketBy(nBuckets, key).sortBy(key)
      .option("path", path)
      .saveAsTable(tbl)
    commit(dir, name, t0, df, Nil, Some((key, nBuckets)), Map.empty)
    spark.table(tbl)
  }
}
