package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.query.{ScoringConstants, SearchIndex, SearchIndexStore, Tokenizer}

/**
 * The scoring postings rows (term, doc_id, tf, len, df) against the
 * reference formulas: over random small corpora, BM25F, the one-pass
 * per-doc max of BM25F, BM25+, TF-IDF, search and autocomplete agree
 * within 1e-9 between a fresh index, a store-served index and a
 * driver-side brute force of scoring.go. The corpora mix in an empty
 * field, terms present in one field only and a term in most docs
 * (negative BM25F idf); queries mix in absent and duplicated terms.
 */
class ScoringRowsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import ScoringConstants._

  type Doc = (Long, String, String)

  private val shared = Seq("ab", "abc", "abd", "ba")
  private val nameOnly = Seq("taman", "tamin", "mini")
  private val addrOnly = Seq("k1", "k12", "no")
  private val common = "jl"
  private val absent = "zzabsent"

  private def field(words: Seq[String]): Gen[String] = for {
    n <- Gen.choose(0, 4)
    ws <- Gen.listOfN(n, Gen.oneOf(words))
    jl <- Gen.frequency(3 -> true, 1 -> false)
  } yield (if (jl) ws :+ common else ws).mkString(" ")

  /** 3..8 docs; the first has an empty address and the second an empty
   *  name, and most docs hold `common`, so its idf is negative. */
  private val corpus: Gen[Seq[Doc]] = for {
    n <- Gen.choose(3, 8)
    names <- Gen.listOfN(n, field(shared ++ nameOnly))
    addrs <- Gen.listOfN(n, field(shared ++ addrOnly))
  } yield names.zip(addrs).zipWithIndex.map { case ((nm, ad), i) =>
    (i + 1L, if (i == 1) "" else nm, if (i == 0) "" else ad)
  }

  private val vocabulary = shared ++ nameOnly ++ addrOnly :+ common

  /** 1..3 terms, sometimes absent from every doc. */
  private val terms: Gen[Seq[String]] = for {
    n <- Gen.choose(1, 3)
    ts <- Gen.listOfN(n, Gen.frequency(6 -> Gen.oneOf(vocabulary), 1 -> Gen.const(absent)))
  } yield ts

  private val prefix: Gen[String] =
    Gen.oneOf(Gen.oneOf(vocabulary).map(_.take(2)), Gen.const("zz"), Gen.const("t"))

  /** A corpus; the queries for one pass: the first repeats a term, the
   *  second holds the absent term, the third is the negative-idf term. */
  private val args = for {
    docs <- corpus
    q1 <- terms
    q2 <- terms
    pre <- prefix
  } yield (docs, Seq(q1 :+ q1.head, absent +: q2, Seq(common)), pre)

  /** scoring.go's formulas over the driver-side corpus. */
  private class Brute(docs: Seq[Doc]) {
    private val toks = docs.map { case (id, n, a) => id -> (Tokenizer.tokenize(n), Tokenizer.tokenize(a)) }
    private val n = docs.size.toDouble
    private def tf(ts: Seq[String], t: String) = ts.count(_ == t)
    private def df(t: String) = toks.count { case (_, (nm, ad)) => nm.contains(t) || ad.contains(t) }
    private val avgName = toks.map(_._2._1.size).sum / n
    private val avgAddr = toks.map(_._2._2.size).sum / n
    private val avgDl = toks.map { case (_, (nm, ad)) => nm.size + ad.size }.sum / n
    private def mult(q: Seq[String]) = q.groupBy(identity).map { case (t, l) => t -> l.size }

    def bm25f(q: Seq[String]): Map[Long, Double] = {
      def sat(tf: Int, len: Int, weight: Double, avg: Double) = {
        val w = weight * tf / (1.0 + NameB * (len / avg - 1.0))
        w / (K1Bm25f + w)
      }
      toks.flatMap { case (id, (nm, ad)) =>
        val hits = mult(q).toSeq.filter { case (t, _) => nm.contains(t) || ad.contains(t) }
        if (hits.isEmpty) None
        else Some(id -> hits.map { case (t, m) =>
          val idf = math.log10(n - df(t) + 0.5) - math.log10(df(t) + 0.5)
          val fields = Seq((nm, NameWeight, avgName), (ad, AddressWeight, avgAddr))
            .filter(f => f._1.contains(t))
            .map { case (ts, w, avg) => sat(tf(ts, t), ts.size, w, avg) * idf }
          m * fields.sum
        }.sum)
      }.toMap
    }

    def bm25fMax(qs: Seq[Seq[String]]): Map[Long, Double] =
      qs.map(bm25f).reduce((a, b) => (a.keySet ++ b.keySet).map(d => d -> (a.get(d) ++ b.get(d)).max).toMap)

    private def merged(q: Seq[String])(f: (Int, Int, Int, Int) => Double): Map[Long, Double] =
      toks.flatMap { case (id, (nm, ad)) =>
        val hits = mult(q).toSeq.filter { case (t, _) => nm.contains(t) || ad.contains(t) }
        if (hits.isEmpty) None
        else Some(id -> hits.map { case (t, m) => f(tf(nm, t) + tf(ad, t), df(t), nm.size + ad.size, m) }.sum)
      }.toMap

    def bm25plus(q: Seq[String]): Map[Long, Double] = merged(q) { (tf, df, dl, m) =>
      val idf = math.log10(n + 1.0) - math.log10(df)
      idf * (Delta + ((K1 + 1.0) + tf) / (K1 * ((1.0 - B) + B * dl / avgDl) + tf)) * m
    }

    def tfidf(q: Seq[String]): Map[Long, Double] = merged(q) { (tf, df, _, m) =>
      val idf = math.log10(n) - math.log10(df)
      ((1.0 + math.log10(tf)) * idf) * ((1.0 + math.log10(m)) * idf)
    }

    def topK(scores: Map[Long, Double], k: Int): Seq[(Long, Double)] =
      scores.toSeq.sortBy { case (d, s) => (-s, d) }.take(k)

    /** Up to 3 vocabulary terms starting with `pre`, by (freq desc, term). */
    def completions(pre: String): Seq[String] = toks.flatMap { case (_, (nm, ad)) => nm ++ ad }
      .groupBy(identity).toSeq.filter(_._1.startsWith(pre))
      .sortBy { case (t, l) => (-l.size, t) }.take(3).map(_._1)
  }

  private def scores(df: DataFrame): Map[Long, Double] =
    df.select("doc_id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def ranked(df: DataFrame): Seq[(Long, Double)] =
    df.select("doc_id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      .sortBy { case (d, s) => (-s, d) }

  private def close(got: Map[Long, Double], exp: Map[Long, Double]): Boolean =
    got.keySet == exp.keySet && got.forall { case (d, s) => math.abs(s - exp(d)) < 1e-9 }

  /** Same scores in rank order; ids may differ only where scores tie. */
  private def closeRanked(got: Seq[(Long, Double)], exp: Seq[(Long, Double)]): Boolean =
    got.size == exp.size && got.zip(exp).forall { case ((gd, gs), (ed, es)) =>
      math.abs(gs - es) < 1e-9 && (gd == ed || exp.count(e => math.abs(e._2 - es) < 1e-9) > 1)
    }

  test("fresh, store-served and brute-force scores agree on random corpora") {
    // no shrinking: each shrink step would write one more store
    val prop = Prop.forAllNoShrink(args) { case (docs, qs, pre) =>
      val df = docs.toDF("doc_id", "name", "address")
      val dir = java.nio.file.Files.createTempDirectory("graft-scoring").toString
      SearchIndexStore.write(spark, df, "doc_id", "name", "address", dir)
      val forms = Seq(new SearchIndex(df, "doc_id", "name", "address"),
        SearchIndexStore.load(spark, dir))
      val brute = new Brute(docs)
      val q = qs.head
      val words = q.filterNot(_ == absent)
      val acQuery = (words.take(1) :+ pre).mkString(" ")
      val acQueries = brute.completions(pre) match {
        case Seq() => Seq(Tokenizer.tokenize(acQuery))
        case cs => cs.map(c => Tokenizer.tokenize(acQuery).init :+ c)
      }
      Prop.all(Seq("fresh" -> forms(0), "store-served" -> forms(1)).flatMap { case (form, idx) =>
        Seq(
          "bm25f" -> close(scores(idx.bm25f(q)), brute.bm25f(q)),
          "bm25fMax" -> close(scores(idx.bm25fMax(qs)), brute.bm25fMax(qs)),
          "bm25plus" -> close(scores(idx.bm25plus(q)), brute.bm25plus(q)),
          "tfidf" -> close(scores(idx.tfidf(q)), brute.tfidf(q)),
          "search" -> closeRanked(ranked(idx.search(q.mkString(" "), 3)),
            brute.topK(brute.bm25f(q), 3)),
          "autocomplete" -> closeRanked(ranked(idx.autocomplete(acQuery, 3)),
            brute.topK(brute.bm25fMax(acQueries), 3))
        ).map { case (name, ok) => Prop(ok) :| s"$form $name" }
      }: _*)
    }
    // two corpora at a time: a store write is mostly driver-side latency
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(4).withWorkers(2), prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
