package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.pipeline.TableIO
import graft.query.{SearchIndex, SearchIndexStore}
import graft.sources.Derived

/**
 * The index's at-rest lifecycle (the reference's build-once/serve-later
 * split): write persists bucketed postings/lengths/docs, load re-registers
 * and serves identical scores without rebuilding, writes are idempotent,
 * term lookups push down, and a missing store fails loudly.
 */
class SearchIndexStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
  private val terms = Seq("spark", "join", "src3")

  private def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select(col("doc_id"), Derived.q6(col("score")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("write once, load serves identical BM25F/BM25+/search results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-idx").toString
    val fresh = new SearchIndex(docs, "doc_id", "text", "source")
    SearchIndexStore.write(spark, docs, "doc_id", "text", "source", dir)
    // every table of the store is committed by one stage
    assert(TableIO.stages(dir, "") == Seq(SearchIndexStore.Stage))
    val loaded = SearchIndexStore.load(spark, dir)

    assert(scores(loaded.bm25f(terms)) == scores(fresh.bm25f(terms)))
    assert(scores(loaded.bm25plus(terms)) == scores(fresh.bm25plus(terms)))
    val f = fresh.search("Spark, JOIN src3!", 10)
      .select(col("doc_id"), Derived.q6(col("score")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val l = loaded.search("Spark, JOIN src3!", 10)
      .select(col("doc_id"), Derived.q6(col("score")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(l == f && f.nonEmpty)

    // idempotent: a second write skips the committed stage
    SearchIndexStore.write(spark, docs, "doc_id", "text", "source", dir)
    assert(scores(SearchIndexStore.load(spark, dir).bm25f(terms)) ==
      scores(fresh.bm25f(terms)))

    // query-term lookups push down to the at-rest postings scan
    val plan = loaded.postingsName
      .filter(col("term").isin(terms: _*))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"expected a term IN pushdown in:\n$plan")
  }

  private lazy val searcherDocs = {
    import spark.implicits._
    Seq(
      (1L, "Jalan Sentosa Harapan", "Jalan Sentosa no 4"),
      (2L, "Dunia Fantasi", "Jalan Lodan Timur no 7"),
      (3L, "Kebun Binatang Ragunan", "Jalan Harsono no 1"),
      (4L, "Monumen Nasional", "Gambir Jakarta Pusat"),
      (5L, "Taman Mini Indonesia Indah", "Ceger Cipayung Jakarta Timur"),
      (6L, "Taman Suropati", "Menteng Jakarta Pusat")
    ).toDF("doc_id", "name", "address")
  }
  private val spellLines = Seq(
    "dunia: duniu, dunai", "fantasi: fsntaso, fantasy",
    "binatang: bibatqng", "ragunan: raginan")

  test("composed Searcher served from the store: identical corrections and hits, " +
    "both driver-model and distributed regimes, no rebuild") {
    import graft.query.Searcher
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-model").toString
    SearchIndexStore.write(spark, searcherDocs, "doc_id", "name", "address", dir, spellLines)
    val built = new Searcher(searcherDocs, "doc_id", "name", "address", spellLines)

    for (budget <- Seq(Searcher.DefaultMaxDriverVocab, 1L)) {
      val served = SearchIndexStore.loadSearcher(spark, dir, maxDriverVocab = budget)
      assert(served.distributed == (budget == 1L))
      assert(served.correct("Duniu Fsntaso") == Seq("dunia", "fantasi"))
      assert(served.correct("Kebun Bibatqng Raginan") == built.correct("Kebun Bibatqng Raginan"))
      val sf = served.freeFormQuery("Duniu Fsntaso", 3)
        .select(col("doc_id"), Derived.q6(col("score")).as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val bf = built.freeFormQuery("Duniu Fsntaso", 3)
        .select(col("doc_id"), Derived.q6(col("score")).as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(sf == bf && sf.nonEmpty, s"freeFormQuery parity (budget=$budget)")
      val ac = served.autocomplete("Monumen Nasi", 3).select("name")
        .collect().map(_.getString(0))
      assert(ac.exists(_.contains("Monumen Nasional")), s"autocomplete (budget=$budget)")
    }
  }

  test("served distributed Searcher probes the bucketed tables: 2 jobs per correct(), " +
    "key pushdown on the at-rest neighborhood and count scans") {
    import graft.query.Searcher
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-probe").toString
    SearchIndexStore.write(spark, searcherDocs, "doc_id", "name", "address", dir, spellLines)
    val served = SearchIndexStore.loadSearcher(spark, dir, maxDriverVocab = 1L)
    assert(served.distributed)
    served.correct("Duniu Fsntaso") // warm (computes the unigram total once)
    val sc = spark.sparkContext
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    sc.addSparkListener(listener)
    try {
      assert(served.correct("Kebun Bibatqng Raginan") == Seq("kebun", "binatang", "ragunan"))
      org.apache.spark.GraftListenerAccess.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs <= 2, s"expected at most 2 probe jobs against the store, saw $jobs")
    // the probes prune at the scan, never stream the whole model table
    val nbrPlan = served.spellNbr
      .filter(col("del_key").isin("kebun", "ebun", "kbun"))
      .queryExecution.executedPlan.toString
    assert(nbrPlan.contains("In(del_key"), s"neighborhood probe not pushed down:\n$nbrPlan")
    val lmPlan = served.lmKeyed
      .filter(col("gram_key").isin("0,0,0,5", "5"))
      .queryExecution.executedPlan.toString
    assert(lmPlan.contains("In(gram_key"), s"LM probe not pushed down:\n$lmPlan")
  }

  test("a store whose postings lack len and df fails load, naming the stage") {
    import graft.index.TextIndex
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-old").toString
    // the name postings as stores wrote them before: (term, doc_id, tf)
    TableIO.write(spark, dir, SearchIndexStore.Stage)(
      TableIO.Table("postings_name", bucket = Some(("term", SearchIndexStore.NBuckets)))(
        _ => TextIndex.postings(searcherDocs, "doc_id", "name")))
    val e = intercept[IllegalArgumentException] { SearchIndexStore.load(spark, dir) }
    assert(e.getMessage.contains(s"table postings_name of $dir/${SearchIndexStore.Stage}") &&
      e.getMessage.contains("len, df"), e.getMessage)
  }

  test("SearchIndexStore crash window: a cut write fails load until write is re-run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-cut").toString
    def hits() = SearchIndexStore.load(spark, dir).search("Jakarta Taman", 5)
      .select(col("doc_id"), Derived.q6(col("score")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    SearchIndexStore.write(spark, searcherDocs, "doc_id", "name", "address", dir, spellLines)
    val committed = hits()
    assert(committed.nonEmpty)
    // cut after the postings tables, before the later tables and the rename
    assert(TableIO.manifestPath(dir, SearchIndexStore.Stage).toFile.delete())
    Seq("len_name", "len_addr", "dict", "spell_nbr", "lm_counts", "noisy").foreach(t =>
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$dir/${SearchIndexStore.Stage}/$t")))
    val e = intercept[IllegalArgumentException] { SearchIndexStore.load(spark, dir) }
    assert(e.getMessage.contains("run SearchIndexStore.write first"), e.getMessage)
    SearchIndexStore.write(spark, searcherDocs, "doc_id", "name", "address", dir, spellLines)
    assert(TableIO.stages(dir, "") == Seq(SearchIndexStore.Stage))
    assert(hits() == committed)
  }

  test("loading a missing store fails loudly") {
    val empty = java.nio.file.Files.createTempDirectory("graft-idx-missing").toString
    val e = intercept[RuntimeException] { SearchIndexStore.load(spark, empty) }
    assert(e.getMessage.contains("run SearchIndexStore.write first"))
  }
}
