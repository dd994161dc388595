package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
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
 * A stage is one logical version of one or more named tables:
 * `TableIO.write(spark, dir, "idx")(Table("vocab")(...), Table("postings")(...))`.
 * If the stage's manifest exists nothing is recomputed. Otherwise the
 * tables are written in order under `<dir>/<stage>/<table>` — a table's
 * compute may read the tables written before it in the same stage — and
 * then ONE [[Manifest]] (per table: per-file row counts from the parquet
 * footers, total rows, read-back schema, layout and the caller's declared
 * stats) is written to a temporary file and atomically renamed to
 * `_lineage.json`. That rename commits every table of the stage at once:
 * a crash anywhere before it leaves the stage unlisted, and the next write
 * of the stage rewrites all of its tables. [[stage]], [[stageWrite]] and
 * [[bucketedStage]] are the one-table case: their table is named "" and
 * lives in the stage directory itself. This object is the only code that
 * knows the manifest format and the rule for listing completed stages
 * ([[stages]]), and the only writer and deleter ([[drop]]) of at-rest
 * tables.
 */
object TableIO {

  /** Rows of one physical file of a table, path relative to the table dir. */
  final case class FileRows(file: String, rows: Long)

  /** One table of a committed stage. `schema` is the DDL of the data
   *  columns as Spark reads them back (every Parquet column is nullable);
   *  reading with it skips Parquet schema inference, one job per read, and
   *  Spark still appends the `partitionBy` columns typed from the directory
   *  names, as an inferring read does. Bucketed tables re-register from it
   *  and their recorded layout. `stats` holds aggregates the writer declared
   *  (e.g. a pack stage's token sum), so later readers answer them from the
   *  manifest instead of the data. */
  final case class TableManifest(
      name: String,
      rows: Long,
      schema: String,
      partitionBy: Seq[String],
      bucketKey: Option[String],
      nBuckets: Option[Int],
      // without the content type, Jackson boxes small numbers as Integer
      // behind the erased Long and the first unboxing throws
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) stats: Map[String, Long],
      partitions: Seq[FileRows])

  /** A completed stage's `_lineage.json`: its tables in write order. */
  final case class Manifest(stage: String, wallSec: Double, tables: Seq[TableManifest]) {
    def table(name: String = ""): TableManifest = tables.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"stage $stage has no table '$name'"))
  }

  /** One table to write in a stage: its layout (`partitionBy` directories,
   *  or a hash `bucket` of (key, count)), the stats its manifest declares,
   *  and its compute, which is handed a reader of the tables written
   *  before it in the same stage. */
  final case class Table(name: String, partitionBy: Seq[String] = Nil,
                         bucket: Option[(String, Int)] = None,
                         stats: Map[String, Long] = Map.empty)(
                         val compute: (String => DataFrame) => DataFrame)

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

  /** A stage is complete once its manifest rename has happened. */
  def isComplete(dir: String, name: String): Boolean = Files.exists(manifestPath(dir, name))

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

  /** Delete the stages `names` under `dir`: each manifest goes before its
   *  data, so a delete cut midway leaves an unlisted directory, never a
   *  listed stage with missing files. */
  def drop(dir: String, names: Seq[String]): Unit = names.foreach { n =>
    Files.deleteIfExists(manifestPath(dir, n))
    org.apache.commons.io.FileUtils.deleteQuietly(Paths.get(dir, n).toFile)
  }

  private def tablePath(dir: String, stage: String, table: String): String =
    Paths.get(dir, stage, table).toString

  // the catalog name carries the DIRECTORY (stages with the same name in
  // two output dirs are different tables) — a dir-less name would make a
  // registered table silently serve the other dir's data
  private def catalogName(stage: String, table: String, key: String, path: String): String =
    f"graft_${(stage +: Seq(table).filter(_.nonEmpty)).mkString("_")}_by_${key}_${path.hashCode & 0x7fffffff}%08x"

  /** Whether `tbl` is registered; a registration must point at `path`: the
   *  hash-suffixed name is collision-resistant, not collision-free, and a
   *  collision fails loudly rather than serving, or dropping, another
   *  stage's table. Stages assume a single writer per (dir, name). */
  private def registered(spark: SparkSession, tbl: String, path: String): Boolean = {
    val exists = spark.catalog.tableExists(tbl)
    if (exists) {
      val loc = spark.sessionState.catalog.getTableMetadata(TableIdentifier(tbl)).location
      val canonical = new java.io.File(path).getCanonicalPath
      require(new java.io.File(loc.getPath).getCanonicalPath == canonical,
        s"catalog table $tbl points at ${loc.getPath}, not $canonical — name collision")
    }
    exists
  }

  /** A written table read back with its manifest's DDL. A bucketed table is
   *  served through the catalog (`spark.table`), so the reader's
   *  `outputPartitioning` carries the bucketing — a plain `read.parquet` of
   *  the same path would silently drop it and re-shuffle. At warehouse
   *  scale the catalog is the metastore; here it is session-local, so a
   *  fresh session re-registers over the existing files and the data itself
   *  is never rewritten on resume. */
  private def readTable(spark: SparkSession, dir: String, stage: String,
                        t: TableManifest): DataFrame = {
    val path = tablePath(dir, stage, t.name)
    (t.bucketKey, t.nBuckets) match {
      case (Some(key), Some(n)) =>
        val tbl = catalogName(stage, t.name, key, path)
        if (!registered(spark, tbl, path))
          spark.sql(s"""CREATE TABLE $tbl (${t.schema}) USING parquet
                       |CLUSTERED BY ($key) SORTED BY ($key) INTO $n BUCKETS
                       |LOCATION '$path'""".stripMargin)
        spark.table(tbl)
      case _ => spark.read.schema(t.schema).parquet(path)
    }
  }

  /** A reader of the tables of the completed stage `name`, from one read
   *  of its manifest. */
  def reader(spark: SparkSession, dir: String, name: String): String => DataFrame = {
    require(isComplete(dir, name), s"stage $name missing under $dir — run its writer first")
    val m = manifest(dir, name)
    table => readTable(spark, dir, name, m.table(table))
  }

  /** Table `table` of the completed stage `name`. */
  def read(spark: SparkSession, dir: String, name: String, table: String = ""): DataFrame =
    reader(spark, dir, name)(table)

  /**
   * Write the stage's tables in order and commit them with one manifest
   * rename; returns the manifest, and does nothing else when the stage is
   * already complete.
   *
   * Partitioned tables get an Iceberg-style hash write distribution
   * (write.distribution-mode=hash): rows are clustered by the partition
   * columns before a dynamic-partition write, so each task writes whole
   * partition values. Without it every task holds every partition value and
   * the writer opens tasks x values files — measured 6.2 s -> 1.2 s for a
   * 470-shard stage, and the many-small-files layout is exactly what guide
   * §6 warns reads pay for. The width is explicit: a column-only repartition
   * is AQE-coalescible and a tiny stage collapses to ONE writer task
   * (measured 15 s serial). Bucketed tables are clustered by the bucket key
   * into nBuckets tasks the same way: Spark's bucket id and
   * HashPartitioning share the same murmur3 hash, so each task holds exactly
   * one bucket and the table lands as nBuckets files, registered in the
   * catalog by `saveAsTable` (a registration left by a cut write is dropped
   * first).
   */
  def write(spark: SparkSession, dir: String, name: String)(tables: Table*): Manifest = {
    if (isComplete(dir, name)) return manifest(dir, name)
    require(tables.map(_.name).distinct.size == tables.size &&
      (tables.size == 1 || !tables.exists(_.name.isEmpty)),
      s"stage $name: table names must be distinct, and only a one-table stage may use ''")
    val t0 = System.nanoTime()
    val written = tables.foldLeft(Vector.empty[TableManifest]) { (done, t) =>
      val df = t.compute(n => readTable(spark, dir, name, done.find(_.name == n)
        .getOrElse(sys.error(s"stage $name: table $n is not written before ${t.name}"))))
      val path = tablePath(dir, name, t.name)
      t.bucket match {
        case Some((key, n)) =>
          val tbl = catalogName(name, t.name, key, path)
          if (registered(spark, tbl, path)) spark.sql(s"DROP TABLE $tbl")
          df.repartition(n, col(key)).write.mode("overwrite")
            .bucketBy(n, key).sortBy(key).option("path", path).saveAsTable(tbl)
        case None =>
          val out = if (t.partitionBy.isEmpty) df
            else df.repartition(spark.sessionState.conf.numShufflePartitions, t.partitionBy.map(col): _*)
          out.write.mode("overwrite").partitionBy(t.partitionBy: _*).parquet(path)
      }
      val perFile = lineage(path)
      val dataColumns = df.schema.filterNot(f => t.partitionBy.contains(f.name))
      done :+ TableManifest(name = t.name, rows = perFile.map(_._2).sum,
        schema = StructType(dataColumns.map(_.copy(nullable = true))).toDDL,
        partitionBy = t.partitionBy, bucketKey = t.bucket.map(_._1),
        nBuckets = t.bucket.map(_._2), stats = t.stats,
        partitions = perFile.map { case (f, n) => FileRows(f, n) }.toSeq)
    }
    val m = Manifest(name, (System.nanoTime() - t0) / 1e9, written)
    val tmp = Paths.get(dir, name, "_lineage.json.tmp")
    Mapper.writerWithDefaultPrettyPrinter().writeValue(tmp.toFile, m)
    Files.move(tmp, manifestPath(dir, name), StandardCopyOption.ATOMIC_MOVE)
    m
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
  private def lineage(tablePath: String): Array[(String, Long)] = {
    val base = Paths.get(tablePath)
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

  /** Run (or resume past) a one-table stage. `partitionBy` columns become
   *  the table's physical partitioning (cell-bucket pruning at read time). */
  def stage(spark: SparkSession, dir: String, name: String,
            partitionBy: Seq[String] = Nil)
           (compute: => DataFrame): DataFrame = {
    stageWrite(spark, dir, name, partitionBy)(compute)
    read(spark, dir, name)
  }

  /** The write half of [[stage]] without the read-back: constructing the
   *  persisted-table handle runs partition discovery over every output
   *  directory (a parallel listing job for wide partitioned stages —
   *  measured ~1 s for a 470-shard stage on tmpfs), which a caller that
   *  already holds the computed rows and only needs the stage AT REST
   *  (ingest state appends) never uses. `stats` are recorded in the
   *  manifest as declared (see [[TableManifest]]). */
  def stageWrite(spark: SparkSession, dir: String, name: String,
                 partitionBy: Seq[String] = Nil, stats: Map[String, Long] = Map.empty)
                (compute: => DataFrame): Unit =
    write(spark, dir, name)(Table("", partitionBy, stats = stats)(_ => compute))

  /**
   * A one-table stage persisted as an EXTERNAL BUCKETED table: hash-bucketed
   * and sorted by `key` into `nBuckets` files, registered in the catalog so
   * the reader's `outputPartitioning` carries the bucketing. Joins and
   * aggregations keyed on `key` then skip their shuffle entirely (asserted
   * in TableIOSpec) — the co-located-join layout for tables that are
   * repeatedly joined on one key (postings on `term`, objects on `cell`).
   * Returns the bucket-aware `spark.table(...)` handle. The physical files
   * are bucketed by the RECORDED layout; declaring a different one would
   * make Spark elide shuffles it must not elide (silently wrong joins), so
   * resuming a complete stage with another (key, nBuckets) fails loudly.
   */
  def bucketedStage(spark: SparkSession, dir: String, name: String,
                    key: String, nBuckets: Int)
                   (compute: => DataFrame): DataFrame = {
    if (isComplete(dir, name)) {
      val m = manifest(dir, name).table()
      require(m.bucketKey.contains(key) && m.nBuckets.contains(nBuckets),
        s"stage $name under $dir is bucketed by (${m.bucketKey.orNull}, " +
          s"${m.nBuckets.getOrElse("none")}) but was requested as ($key, $nBuckets); " +
          "delete the stage to re-bucket")
    }
    write(spark, dir, name)(Table("", bucket = Some((key, nBuckets)))(_ => compute))
    read(spark, dir, name)
  }
}
