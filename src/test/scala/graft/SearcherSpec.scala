package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.query.{Geofence, SearchIndexStore, Searcher}

/**
 * The composed /api/search and /api/autocomplete lifecycles vs the
 * reference's E2E assertions (searcher_test.go:50-135): exact query,
 * spell-corrected query (edit distance 2, two typo'd tokens), autocomplete
 * prefix, empty query.
 */
class SearcherSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "Jalan Sentosa Harapan", "Jalan Sentosa no 4"),
    (2L, "Dunia Fantasi", "Jalan Lodan Timur no 7"),
    (3L, "Kebun Binatang Ragunan", "Jalan Harsono no 1"),
    (4L, "Monumen Nasional", "Gambir Jakarta Pusat"),
    (5L, "Taman Mini Indonesia Indah", "Ceger Cipayung Jakarta Timur"),
    (6L, "Taman Suropati", "Menteng Jakarta Pusat")
  ).toDF("doc_id", "name", "address")

  val spellLines = Seq(
    "dunia: duniu, dunai",
    "fantasi: fsntaso, fantasy",
    "binatang: bibatqng",
    "ragunan: raginan")

  lazy val searcher = new Searcher(docs, "doc_id", "name", "address",
    spellErrorLines = spellLines)

  test("exact query: 'Dunia Fantasi' top-1 is doc 2 (searcher_test.go:56-66)") {
    val top = searcher.freeFormQuery("Dunia Fantasi", 3).select("doc_id", "name").collect()
    assert(top.head.getLong(0) == 2L && top.head.getString(1) == "Dunia Fantasi")
  }

  test("spell-corrected: 'Duniu Fsntaso' -> Dunia Fantasi (searcher_test.go:69-84)") {
    assert(searcher.correct("Duniu Fsntaso") == Seq("dunia", "fantasi"))
    val top = searcher.freeFormQuery("Duniu Fsntaso", 3).select("name").collect()
    assert(top.head.getString(0) == "Dunia Fantasi")
  }

  test("spell-corrected: 'Kebun Bibatqng Raginan' -> Kebun Binatang Ragunan (searcher_test.go:86-101)") {
    assert(searcher.correct("Kebun Bibatqng Raginan") == Seq("kebun", "binatang", "ragunan"))
    val top = searcher.freeFormQuery("Kebun Bibatqng Raginan", 3).select("name").collect()
    assert(top.head.getString(0) == "Kebun Binatang Ragunan")
  }

  test("autocomplete: 'Monumen Nasi' -> Monumen Nasional (searcher_test.go:119-135)") {
    val res = searcher.autocomplete("Monumen Nasi", 3).select("name").collect()
    assert(res.exists(_.getString(0).contains("Monumen Nasional")))
  }

  test("autocomplete: 'Taman Min' -> Taman Mini Indonesia Indah") {
    val res = searcher.autocomplete("Taman Min", 3).select("name").collect()
    assert(res.exists(_.getString(0).contains("Taman Mini")))
  }

  test("autocomplete corrects a typo'd last token too (edit candidates in the union)") {
    val res = searcher.autocomplete("kebun bibatqng", 3).select("name").collect()
    assert(res.exists(_.getString(0).contains("Kebun Binatang")))
  }

  test("empty query returns empty (reference errors on empty, searcher_test.go:103-110)") {
    assert(searcher.autocomplete("", 3).select("doc_id", "score").isEmpty)
    assert(searcher.index.autocomplete("", 3).select("doc_id", "score").isEmpty)
    assert(searcher.correct("") == Seq.empty)
  }

  test("distributed mode (vocab budget exceeded): same corrections, same hits, " +
    "no model collect") {
    // maxDriverVocab=1 forces the join path: deletion-neighborhood candidate
    // join + join-based LM scoring (NGramLM.queryLogProbsDistributed); the
    // collected Model/termIdMap/lmKeep lazies are never touched
    val dist = new Searcher(docs, "doc_id", "name", "address",
      spellErrorLines = Seq(
        "dunia: duniu, dunai",
        "fantasi: fsntaso, fantasy",
        "binatang: bibatqng",
        "ragunan: raginan"),
      maxDriverVocab = 1L)
    assert(dist.distributed, "tiny budget must engage the distributed path")
    assert(dist.correct("Duniu Fsntaso") == Seq("dunia", "fantasi"))
    assert(dist.correct("Kebun Bibatqng Raginan") == Seq("kebun", "binatang", "ragunan"))
    assert(dist.correct("Dunia Fantasi") == Seq("dunia", "fantasi"))
    val top = dist.freeFormQuery("Duniu Fsntaso", 3).select("name").collect()
    assert(top.head.getString(0) == "Dunia Fantasi")
    val ac = dist.autocomplete("Monumen Nasi", 3).select("name").collect()
    assert(ac.exists(_.getString(0).contains("Monumen Nasional")))
  }

  test("distributed mode: a WARM searcher runs only 2 probe jobs per correct() — " +
    "no per-query corpus aggregation (model state persisted at first use)") {
    val dist = new Searcher(docs, "doc_id", "name", "address",
      spellErrorLines = Seq("dunia: duniu, dunai", "fantasi: fsntaso, fantasy",
        "binatang: bibatqng", "ragunan: raginan"),
      maxDriverVocab = 1L)
    assert(dist.distributed)
    // warm: first query builds + caches dict/neighborhood/count tables
    assert(dist.correct("Duniu Fsntaso") == Seq("dunia", "fantasi"))
    assert(dist.lmKeyed.storageLevel.useMemory, "count tables not persisted")
    assert(dist.spellNbr.storageLevel.useMemory, "neighborhood not persisted")
    val sc = spark.sparkContext
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    sc.addSparkListener(listener)
    try {
      // a DIFFERENT query, so nothing is driver-memoized
      assert(dist.correct("Kebun Bibatqng Raginan") == Seq("kebun", "binatang", "ragunan"))
      org.apache.spark.GraftListenerAccess.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs <= 2,
      s"expected at most 2 probe jobs (neighborhood + LM), saw $jobs — " +
        "a corpus-scale aggregation is running per query")
  }

  /** A warm collected-mode searcher: 0 jobs per misspelled correct(), and
   *  search and autocomplete each one scan of the scoring postings, the
   *  top-k and the hydration, at most 3 jobs. */
  private def assertWarmJobs(warm: Searcher, form: String): Unit = {
    assert(!warm.distributed)
    // warm: first use caches the index and collects the driver vocabulary + LM
    warm.freeFormQuery("Duniu Fsntaso", 3).collect()
    warm.autocomplete("Monumen Nasi", 3).collect()
    val (corrected, correctJobs) = TestSpark.jobsOf(warm.correct("Kebun Bibatqng Raginan"))
    assert(corrected == Seq("kebun", "binatang", "ragunan"))
    assert(correctJobs == 0, s"$form: misspelled correct() ran $correctJobs jobs")
    val (top, searchJobs) = TestSpark.jobsOf(
      warm.freeFormQuery("Kebun Bibatqng Raginan", 3).select("name").collect())
    assert(top.head.getString(0) == "Kebun Binatang Ragunan")
    assert(searchJobs <= 3, s"$form: search ran $searchJobs jobs")
    val (ac, acJobs) = TestSpark.jobsOf(
      warm.autocomplete("Taman Min", 3).select("name").collect())
    assert(ac.exists(_.getString(0).contains("Taman Mini")))
    assert(acJobs <= 3, s"$form: autocomplete ran $acJobs jobs")
  }

  test("collected mode: a WARM searcher generates candidates with no Spark job — " +
    "0 jobs per misspelled correct(), one scoring plan per search/autocomplete") {
    assertWarmJobs(new Searcher(docs, "doc_id", "name", "address", spellErrorLines = spellLines),
      "fresh")
    val dir = java.nio.file.Files.createTempDirectory("searcher-jobs").toString
    SearchIndexStore.write(spark, docs, "doc_id", "name", "address", dir, spellLines)
    assertWarmJobs(Searcher.fromStore(spark, dir), "store-served")

    val fences = new Geofence.FenceStore(spark,
      java.nio.file.Files.createTempDirectory("fence-jobs").toString)
    fences.addCollection("jakarta")
    fences.upsertFencePoint("jakarta", Geofence.Fence("a", -6.2, 106.8, 2.0))
    val (fs, fenceJobs) = TestSpark.jobsOf(fences.fences("jakarta"))
    assert(fs.map(_.key) == Seq("a"))
    assert(fenceJobs <= 1, s"FenceStore.fences ran $fenceJobs jobs")
  }

  test("collected-mode correction is deterministic: fresh, store-served and " +
    "distributed searchers agree where the candidate cap truncates") {
    // 'kz' has the ten edit-1 candidates ka..kj, so 'kz kz kz' expands to
    // 1000 candidate queries and SpellCorrector.queryCandidates keeps 512:
    // which ones depends on the candidates' order
    val letters = 'a' to 'j'
    val capDocs = letters.zipWithIndex.flatMap { case (c, i) =>
      (0 to i).map(n => (i * 100L + n, s"k$c k${letters(9 - i)} k$c", ""))
    }.toDF("doc_id", "name", "address")
    val dir = java.nio.file.Files.createTempDirectory("searcher-cap").toString
    SearchIndexStore.write(spark, capDocs, "doc_id", "name", "address", dir)
    val fresh = new Searcher(capDocs, "doc_id", "name", "address")
    val served = Searcher.fromStore(spark, dir)
    val dist = new Searcher(capDocs, "doc_id", "name", "address", maxDriverVocab = 1L)
    assert(!fresh.distributed && !served.distributed && dist.distributed)
    val q = "kz kz kz"
    val want = fresh.correct(q)
    assert(want.size == 3 && want.forall(t => t.length == 2 && t.head == 'k'))
    assert(served.correct(q) == want)
    assert(dist.correct(q) == want)
  }

  test("distributed mode scores the UNK-thresholded LM identically (hapax -> <UNK>)") {
    val hapaxDocs = (1 to 29).map(i => (100L + i, s"h$i${i}word", ""))
    val oovDocs = (Seq(
      (1L, "vv", ""), (2L, "vv", ""), (3L, "vx", "")
    ) ++ hapaxDocs).toDF("doc_id", "name", "address")
    val dist = new Searcher(oovDocs, "doc_id", "name", "address",
      spellErrorLines = Seq("qq: qx"), maxDriverVocab = 1L)
    assert(dist.distributed)
    assert(dist.correct("vy") == Seq("vx"),
      "join-scored LM must reproduce the pooled-<UNK> ranking")
  }

  test("LM is built over the UNK-thresholded corpus (ngram_lm.go:69-110): " +
    "a hapax candidate scores as <UNK>, whose pooled mass can beat a freq-2 word") {
    // corpus: 'vv' twice, 'vx' once, 29 more unique hapax words — each its
    // own doc so the quad-gram (<s><s><s> w) counts mirror the unigrams.
    // Typo 'vy' has edit-1 candidates {vv, vx} with identical edit
    // log-probs (same substitution class, empty confusion counts).
    //   WITHOUT thresholding: P(vx)=1/T < P(vv)=2/T -> picks vv.
    //   WITH the reference's thresholding: vx ranks as <UNK> with pooled
    //   count 30 > 2 -> picks vx.
    val hapaxDocs = (1 to 29).map(i => (100L + i, s"h$i${i}word", ""))
    val oovDocs = (Seq(
      (1L, "vv", ""), (2L, "vv", ""), (3L, "vx", "")
    ) ++ hapaxDocs).toDF("doc_id", "name", "address")
    val s2 = new Searcher(oovDocs, "doc_id", "name", "address",
      spellErrorLines = Seq("qq: qx"))
    assert(s2.correct("vy") == Seq("vx"),
      "hapax candidate must rank via the pooled <UNK> mass")
  }
}
