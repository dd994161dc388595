package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.TextStats

/**
 * Corpus-LM quality score: hand-computed goldens for the three probability
 * paths (unigram first token, seen bigram, stupid-backoff / OOV floor).
 * The self-scoring corpus path (x5_lm_score) is value-checked end-to-end by
 * the DuckDB oracle; this spec pins the cross-corpus branches the oracle's
 * self-scoring can never reach.
 */
class TextStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // corpus: N=6 tokens; uni a=3 b=2 c=1; bigrams (a,b)=2 (a,c)=1
  lazy val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")

  test("langId: NULL text is 'es' as in the oracle's CASE, empty text 'und'") {
    val docs = Seq((1L, null: String), (2L, ""), (3L, "the cat and the dog"))
      .toDF("doc_id", "text")
    val out = TextStats.langId(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "es", 2L -> "und", 3L -> "en"))
  }

  test("self-scoring: duplicate docs score identically, all log-probs negative") {
    val out = TextStats.lmScore(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == out(2L))
    assert(out.values.forall(_._2 < 0))
    // d1 "a b": avg(log10(3/6), log10(2/3)) = -0.2385606... -> -2386
    assert(out(1L) == ((2L, -2386L)))
  }

  test("repetition: duplicate 3-gram fraction goldens, short docs emit 0") {
    val docs = Seq(
      (1L, "a b a b a b"),  // grams: aba, bab, aba, bab -> 4 total, 2 distinct
      (2L, "a b c d"),      // all distinct
      (3L, "x y")           // < 3 tokens
    ).toDF("doc_id", "text")
    val out = TextStats.repetition(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((4L, 5000L)))
    assert(out(2L) == ((2L, 0L)))
    assert(out(3L) == ((0L, 0L)))
  }

  test("stratified sampling: deterministic, rate-0 drops stratum, rate-1 keeps it") {
    import graft.ml.Sampling
    val rows = (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "stratum")
    def run(rates: Map[String, Double]) =
      Sampling.stratifiedSample(rows, "doc_id", org.apache.spark.sql.functions.col("stratum"),
          rates, 0.5, "s1")
        .select("doc_id").as[Long].collect().toSet
    val kept = run(Map("a" -> 1.0, "b" -> 0.0))
    assert(kept == (2L to 200L by 2).toSet) // all of a, none of b
    // deterministic: same inputs, same sample
    assert(run(Map("a" -> 0.3, "b" -> 0.7)) == run(Map("a" -> 0.3, "b" -> 0.7)))
    // a half-rate sample is a subset of the full stratum and roughly half
    val half = run(Map("a" -> 0.5, "b" -> 0.0))
    assert(half.subsetOf(kept) && half.size > 20 && half.size < 80)
  }

  test("redaction: emails before digit runs, short numbers kept") {
    val docs = Seq(
      (1L, "contact bob99@example.co.id or call 0812345 ext 12"),
      (2L, "no pii here")
    ).toDF("doc_id", "text")
    val out = TextStats.redact(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "contact <EMAIL> or call <NUM> ext 12")
    assert(out(2L) == "no pii here")
  }

  test("cross-corpus scoring: seen bigram, backoff, and OOV floor goldens") {
    val docs = Seq((10L, "a b"), (11L, "b c"), (12L, "z a")).toDF("doc_id", "text")
    val out = TextStats.lmScoreAgainst(docs, corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(10L) == -2386L) // both bigram path: same as corpus d1
    // "b c": uni(b)=2/6; bigram (b,c) unseen -> 0.4 * uni(c)=0.4/6
    assert(out(11L) == -8266L)
    // "z a": z OOV -> 0.4/6 floor; (z,a) unseen -> 0.4 * uni(a)=0.2
    assert(out(12L) == -9375L)
  }
}
