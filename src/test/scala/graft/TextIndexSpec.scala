package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.index.TextIndex
import graft.query.{SearchIndex, Tokenizer}

/**
 * Inverted-index semantics vs the reference SPIMI fixtures
 * (/root/reference/pkg/index/indexer_test.go:32-135) and the full-text E2E
 * assertions (searcher_test.go:50-117), re-seeded over a small
 * name/address corpus.
 */
class TextIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // indexer_test-style corpus: (docId, name, address)
  lazy val docs = Seq(
    (1L, "Jalan Sentosa Harapan", "Jalan Sentosa no 4"),
    (2L, "Dunia Fantasi", "Jalan Lodan Timur no 7"),
    (3L, "Kebun Binatang Ragunan", "Jalan Harsono no 1"),
    (4L, "Monumen Nasional", "Gambir Jakarta Pusat"),
    (5L, "Taman Mini Indonesia Indah", "Ceger Cipayung Jakarta Timur"),
    (6L, "Taman Suropati", "Menteng Jakarta Pusat")
  ).toDF("doc_id", "name", "address")

  test("tokenizer: lowercase, strip, split (F1 pinned spec)") {
    assert(Tokenizer.tokenize("Jalan Sentosa Harapan") == Seq("jalan", "sentosa", "harapan"))
    assert(Tokenizer.tokenize("  Dunia-Fantasi! (Ancol) ") == Seq("dunia", "fantasi", "ancol"))
    assert(Tokenizer.tokenize("") == Seq())
  }

  test("postings carry exact (term, doc, tf) with build-time tf") {
    val p = TextIndex.postings(docs, "doc_id", "name")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(p(("jalan", 1L)) == 1L)
    assert(p(("sentosa", 1L)) == 1L)
    assert(p(("taman", 5L)) == 1L)
    assert(p(("taman", 6L)) == 1L)
    assert(p.keys.count(_._1 == "taman") == 2)
    // field length stats (lenDF analog, indexer_test.go:97-132)
    val lens = TextIndex.fieldLengths(docs, "doc_id", "name")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lens(1L) == 3 && lens(2L) == 2 && lens(5L) == 4)
  }

  test("BM25F: 'dunia fantasi' ranks doc 2 first (searcher_test.go:56-66)") {
    val idx = new SearchIndex(docs, "doc_id", "name", "address")
    val top = idx.search("dunia fantasi", 3).select("doc_id", "name").collect()
    assert(top.nonEmpty)
    assert(top.head.getLong(0) == 2L)
    assert(top.head.getString(1) == "Dunia Fantasi")
  }

  test("BM25F: name field outweighs address (NAME_WEIGHT=20 vs 1)") {
    val idx = new SearchIndex(docs, "doc_id", "name", "address")
    // "jalan" appears in doc1 name AND several addresses; doc1 must rank first
    val top = idx.search("jalan sentosa", 3).select("doc_id").collect()
    assert(top.head.getLong(0) == 1L)
  }

  test("BM25+ and TF-IDF rank the exact-match doc first too") {
    val idx = new SearchIndex(docs, "doc_id", "name", "address")
    for (scoring <- Seq("bm25plus", "tfidf")) {
      val top = idx.search("kebun binatang ragunan", 2, scoring = scoring)
        .select("doc_id").collect()
      assert(top.head.getLong(0) == 3L, scoring)
    }
  }

  test("autocomplete: 'monumen nasi' completes to Monumen Nasional (searcher_test.go:119-135)") {
    val idx = new SearchIndex(docs, "doc_id", "name", "address")
    val res = idx.autocomplete("monumen nasi", 3).select("name").collect().map(_.getString(0))
    assert(res.exists(_.contains("Monumen Nasional")))
  }

  test("vocabulary merges both fields with corpus freq") {
    val idx = new SearchIndex(docs, "doc_id", "name", "address")
    val v = idx.vocabulary.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v("jalan") == 4L) // 1 name + 3 addresses
    assert(v("taman") == 2L)
  }

  test("bm25fMax: one pass over several queries = per-doc max of separate bm25f calls") {
    // a 7th doc puts 'jalan' in 4 of 7 docs: negative idf, so the docs
    // only 'jalan' hits must keep a negative best score, not the other
    // queries' 0
    val idx = new SearchIndex(docs.union(Seq((7L, "Jalan Baru", "")).toDF()),
      "doc_id", "name", "address")
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cases = Seq(
      Seq(Seq("taman", "mini"), Seq("taman", "suropati"), Seq("jalan")),
      Seq(Seq("jalan", "jalan", "timur"), Seq("jakarta", "timur")), // duplicated term
      Seq(Seq("jalan", "zzabsent"), Seq("zzabsent")),                // term not in the vocabulary
      Seq(Seq(), Seq("pusat")),                                       // empty query
      Seq(Seq("monumen", "nasional")))
    for (qs <- cases) {
      val want = qs.map(q => scores(idx.bm25f(q)))
        .reduce((a, b) => (a.keySet ++ b.keySet).map { d =>
          d -> (a.get(d) ++ b.get(d)).max
        }.toMap)
      val got = scores(idx.bm25fMax(qs))
      assert(got.keySet == want.keySet && got.nonEmpty, qs)
      got.foreach { case (d, s) => assert(math.abs(s - want(d)) < 1e-9, (qs, d)) }
    }
    assert(scores(idx.bm25f(Seq("jalan"))).values.forall(_ < 0))
    assert(idx.bm25fMax(Nil).isEmpty && idx.bm25f(Nil).isEmpty)
  }
}
