package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ml.Packing
import graft.pipeline.TableIO

class PackingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // deterministic ragged token counts, ids deliberately unsorted on input
  lazy val docs = (0L until 997L).map(i => (i * 37 % 997, 1L + (i * i) % 113))
    .toDF("id", "toks")

  private def naive = {
    val w = Window.orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("off", sum(col("toks")).over(w) - col("toks"))
      .withColumn("shard", expr("off div 100"))
      .select(col("id"), col("toks"), col("off"), col("shard"))
  }

  test("distributed prefix sum equals the single-partition global window") {
    val expected = naive.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = Packing.tokenBudgetShards(docs, "id", "toks", 100L, 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expected)
  }

  test("result is partition-count invariant") {
    val a = Packing.tokenBudgetShards(docs, "id", "toks", 100L, 1)
      .orderBy("id").collect().toSeq
    val b = Packing.tokenBudgetShards(docs, "id", "toks", 100L, 3)
      .orderBy("id").collect().toSeq
    val c = Packing.tokenBudgetShards(docs, "id", "toks", 100L, 32)
      .orderBy("id").collect().toSeq
    assert(a == b && b == c)
  }

  test("no SinglePartition exchange in the distributed plan (naive has one)") {
    val dist = Packing.tokenBudgetShards(docs, "id", "toks", 100L, 8)
      .queryExecution.executedPlan.toString
    assert(!dist.contains("SinglePartition"), s"global bottleneck:\n$dist")
    assert(naive.queryExecution.executedPlan.toString.contains("SinglePartition"))
  }

  test("at-rest shards: one-shard reads prune at directory level") {
    val packed = Packing.tokenBudgetShards(docs, "id", "toks", 100L, 8)
    val dir = Files.createTempDirectory("graft-test-shards").toString
    Packing.writeShards(packed, docs.withColumnRenamed("toks", "payload"),
      "id", dir)
    val one = TableIO.read(spark, dir, Packing.ShardStage).filter(col("shard") === 3)
    val expected = packed.filter(col("shard") === 3)
      .collect().map(_.getLong(0)).toSet
    assert(one.collect().map(_.getLong(0)).toSet == expected && expected.nonEmpty)
    val plan = one.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("shard"), s"shard filter not pruned:\n$plan")
  }

  test("composed export chain: bpe_len budgets -> packed shards -> pruned at-rest read") {
    import graft.ml.Bpe
    import graft.sources.Derived
    // the x17 chain end-to-end at unit scale: train, tokenize, pack on
    // bpe_len, writeShards, read ONE shard with directory pruning and the
    // text payload riding along
    val corpus = Seq(
      (1L, "abc abc abde xy"), (2L, "abd abd abd zq"), (3L, "xy abc ab"),
      (4L, "qrs qrs abc"), (5L, "zq zq zq zq")).toDF("doc_id", "text")
    val (_, trained) =
      Bpe.train(Bpe.dictionary(corpus, Derived.tokens(col("text"))), 2)
    val packed = Packing.tokenBudgetShards(
      Bpe.tokenize(corpus, "doc_id", Derived.tokens(col("text")), trained)
        .select(col("doc_id"), col("bpe_len")),
      "doc_id", "bpe_len", budget = 6L, numPartitions = 4)
    val dir = Files.createTempDirectory("graft-test-bpe-shards").toString
    Packing.writeShards(packed, corpus, "doc_id", dir)
    val all = TableIO.read(spark, dir, Packing.ShardStage)
    assert(all.count() == 5 && all.columns.contains("text"))
    val targetShard = packed.filter(col("doc_id") === 3L).head().getLong(3)
    val one = all.filter(col("shard") === targetShard)
    assert(one.collect().map(_.getAs[Long]("doc_id")).contains(3L))
    val pf = one.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("shard"), s"shard filter not pruned:\n$pf")
  }

  test("shards respect the start-offset ownership rule") {
    val rows = Packing.tokenBudgetShards(docs, "id", "toks", 100L, 8).collect()
    rows.foreach { r =>
      val (off, shard) = (r.getLong(2), r.getLong(3))
      assert(shard == off / 100L)
    }
    // offsets are a permutation-free exact prefix: sorted by id, each off is
    // the previous off + previous toks
    val sorted = rows.sortBy(_.getLong(0))
    sorted.sliding(2).foreach {
      case Array(p, n) =>
        assert(n.getLong(2) == p.getLong(2) + p.getLong(1))
      case _ =>
    }
    assert(sorted.head.getLong(2) == 0L)
  }
}
