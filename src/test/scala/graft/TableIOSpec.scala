package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.pipeline.TableIO

/** Checkpoint/resume semantics: a completed stage is not recomputed, and the
 *  lineage manifest records per-partition metrics (north_rule resumability). */
class TableIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stage writes lineage manifest and skips recompute on resume") {
    val dir = Files.createTempDirectory("graft_stage").toString
    var computeRuns = 0
    def build() = {
      computeRuns += 1
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    }
    val first = TableIO.stage(spark, dir, "s1")(build())
    assert(first.count() == 100)
    assert(computeRuns == 1)
    assert(TableIO.isComplete(dir, "s1"))
    val manifest = TableIO.manifest(dir, "s1").table()
    assert(manifest.rows == 100)
    assert(manifest.partitions.nonEmpty && manifest.partitions.map(_.rows).sum == 100)
    // resume: compute must NOT run again
    val second = TableIO.stage(spark, dir, "s1")(build())
    assert(second.count() == 100)
    assert(computeRuns == 1, "stage recomputed despite completed manifest")
  }

  test("partitioned stage lays out partition directories (pruning-ready)") {
    val dir = Files.createTempDirectory("graft_stage_p").toString
    val df = (1 to 50).map(i => (i.toLong, i % 4)).toDF("id", "bucket")
    TableIO.stage(spark, dir, "s2", partitionBy = Seq("bucket"))(df)
    val subdirs = new java.io.File(s"$dir/s2").listFiles().map(_.getName)
    assert(subdirs.count(_.startsWith("bucket=")) == 4)
  }

  test("bucketed stage: join and agg on the bucket key are shuffle-free; resume re-registers") {
    val dir = Files.createTempDirectory("graft_stage_b").toString
    var computeRuns = 0
    def build() = {
      computeRuns += 1
      (1 to 2000).map(i => (s"t${i % 97}", i.toLong, (i % 5 + 1).toLong))
        .toDF("term", "doc_id", "tf")
    }
    val postings = TableIO.bucketedStage(spark, dir, "postings_b", "term", 8)(build())
    assert(postings.count() == 2000 && computeRuns == 1)

    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    def noShuffle(p: String) = !p.contains("Exchange hashpartitioning")
    // at test size the join would just broadcast; disable that so the plan
    // shows what a 100x self-join does — bucketed scan, zero shuffle
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = postings.as("a").join(postings.as("b"), "term")
      val jp = plan(joined)
      assert(jp.contains("Bucketed: true"), s"scan not bucket-aware:\n$jp")
      assert(noShuffle(jp), s"bucketed self-join still shuffles:\n$jp")
      // keyed aggregation: bucketing satisfies the required distribution
      val agged = postings.groupBy("term").agg(countDistinct("doc_id").as("df"))
      assert(noShuffle(plan(agged)),
        s"bucketed groupBy still shuffles:\n${plan(agged)}")
      // a plain path read must NOT silently pretend to be bucketed
      val pathRead = spark.read.parquet(s"$dir/postings_b")
      assert(!noShuffle(plan(pathRead.groupBy("term").count())))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    // resume in a "fresh catalog": drop the table, stage must re-register
    // from the manifest DDL without recomputing, bucketing intact
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .find(_.startsWith("graft_postings_b_by_term")).get
    spark.sql(s"DROP TABLE $tbl")
    val resumed = TableIO.bucketedStage(spark, dir, "postings_b", "term", 8)(build())
    assert(resumed.count() == 2000 && computeRuns == 1,
      "bucketed stage recomputed despite completed manifest")
    assert(!plan(resumed.groupBy("term").count()).contains("Exchange hashpartitioning"),
      "re-registered table lost its bucketing")

    // a changed layout must fail loudly, never re-register a wrong DDL over
    // files physically bucketed another way (silently wrong joins)
    intercept[IllegalArgumentException] {
      TableIO.bucketedStage(spark, dir, "postings_b", "term", 16)(build())
    }
    intercept[IllegalArgumentException] {
      TableIO.bucketedStage(spark, dir, "postings_b", "doc_id", 8)(build())
    }
    // per-partition lineage is recorded for bucketed stages too
    val manifest = TableIO.manifest(dir, "postings_b").table()
    assert(manifest.partitions.nonEmpty && manifest.rows == 2000)
  }

  test("bucketed stage whose schema DDL needs escaping re-registers in a fresh catalog") {
    val dir = Files.createTempDirectory("graft_stage_esc").toString
    val odd = "we\"ird\\col"
    var computeRuns = 0
    def build() = {
      computeRuns += 1
      (1 to 200).map(i => (s"t${i % 13}", i.toLong)).toDF("term", odd)
    }
    val first = TableIO.bucketedStage(spark, dir, "esc_b", "term", 4)(build())
    assert(first.columns.toSeq == Seq("term", odd) && computeRuns == 1)
    assert(TableIO.manifest(dir, "esc_b").table().schema.contains(odd))
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .find(_.startsWith("graft_esc_b_by_term")).get
    spark.sql(s"DROP TABLE $tbl")
    val resumed = TableIO.bucketedStage(spark, dir, "esc_b", "term", 4)(build())
    assert(computeRuns == 1, "bucketed stage recomputed despite completed manifest")
    assert(resumed.columns.toSeq == Seq("term", odd))
    assert(resumed.agg(sum(col(odd))).head().getLong(0) ==
      (1 to 200).sum.toLong)
  }

  test("multi-table stage: one manifest commits every table; a cut stage is redone whole") {
    val dir = Files.createTempDirectory("graft_stage_m").toString
    var computeRuns = 0
    def tables = Seq(
      TableIO.Table("base", bucket = Some(("k", 4))) { _ =>
        computeRuns += 1
        (1 to 40).map(i => (i % 7, i.toLong)).toDF("k", "v")
      },
      // a later table reads the earlier one of the same stage
      TableIO.Table("agg") { t =>
        computeRuns += 1
        t("base").groupBy("k").agg(sum("v").as("s"))
      })
    val m = TableIO.write(spark, dir, "multi")(tables: _*)
    assert(computeRuns == 2 && m.tables.map(_.name) == Seq("base", "agg"))
    assert(TableIO.manifest(dir, "multi").tables == m.tables)
    assert(m.table("base").rows == 40 && m.table("base").nBuckets.contains(4))
    assert(m.table("agg").rows == 7 && m.table("agg").bucketKey.isEmpty)
    assert(TableIO.stages(dir, "multi") == Seq("multi"))
    val keyed = TableIO.read(spark, dir, "multi", "base").groupBy("k").count()
      .queryExecution.executedPlan.toString
    assert(!keyed.contains("Exchange hashpartitioning"), s"bucketed table re-shuffles:\n$keyed")
    assert(TableIO.read(spark, dir, "multi", "agg").agg(sum("s")).head().getLong(0) ==
      (1 to 40).sum.toLong)
    TableIO.write(spark, dir, "multi")(tables: _*)
    assert(computeRuns == 2, "committed stage recomputed")

    // cut after the first table, before the rename: the stage is unlisted,
    // unreadable, and the next write redoes BOTH tables
    assert(TableIO.manifestPath(dir, "multi").toFile.delete())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/multi/agg"))
    assert(TableIO.stages(dir, "multi").isEmpty)
    intercept[IllegalArgumentException](TableIO.read(spark, dir, "multi", "base"))
    TableIO.write(spark, dir, "multi")(tables: _*)
    assert(computeRuns == 4)
    assert(TableIO.read(spark, dir, "multi", "agg").count() == 7)
  }

  test("drop deletes listed, cut and missing stages; the rest stay listed") {
    val dir = Files.createTempDirectory("graft_stage_drop").toString
    for (n <- Seq("v_0", "v_1", "v_2"))
      TableIO.stageWrite(spark, dir, n)((1 to 5).map(_.toLong).toDF("id"))
    // v_1 is a cut write: data without its manifest
    assert(TableIO.manifestPath(dir, "v_1").toFile.delete())
    TableIO.drop(dir, Seq("v_0", "v_1", "v_9"))
    assert(TableIO.stages(dir, "v_") == Seq("v_2"))
    assert(new java.io.File(dir).list().toSeq == Seq("v_2"))
    assert(TableIO.read(spark, dir, "v_2").count() == 5)
  }
}
