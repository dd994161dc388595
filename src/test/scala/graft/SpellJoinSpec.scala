package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.index.TextIndex
import graft.spell.SpellJoin

/**
 * Deletion-neighborhood candidate generation (SymSpell recast of the
 * reference's FST x Levenshtein-DFA walk, spell_corrector.go:273-302):
 * the equi-join path must return EXACTLY the brute-force scan's rows, with
 * no vocabulary collect and a key-pruned scan when the neighborhood is at
 * rest.
 */
class SpellJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val vocab = TextIndex.vocab(TextIndex.postings(
    spark.read.parquet(s"${TestSpark.Sf}/documents.parquet"), "doc_id", "text"))

  test("deletionVariants: driver and column variants agree, counts correct") {
    val terms = Seq("spark", "ab", "a", "jakarta")
    val colOut = terms.toDF("t")
      .select(col("t"), SpellJoin.deletionVariantsCol(col("t"), 2).as("v"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    terms.foreach { t =>
      val drv = SpellJoin.deletionVariants(t, 2).toSet
      assert(colOut(t) == drv, s"column/driver variant mismatch for '$t'")
      assert(drv.contains(t))
      // n + n(n-1)/2 distinct deletions at most, plus the term itself
      assert(drv.size <= 1 + t.length + t.length * (t.length - 1) / 2)
    }
    // 1-deletion of "ab" = {"b", "a"}; 2-deletion adds ""
    assert(SpellJoin.deletionVariants("ab", 2).toSet == Set("ab", "a", "b", ""))
  }

  test("join candidates == brute-force scan candidates for typo'd tokens") {
    val nbr = SpellJoin.neighborhood(vocab)
    for (typo <- Seq("spqrk", "vektor", "windoe", "jakrata")) {
      val brute = SpellReference.editCandidates(vocab, typo, 2).toSet
      val joined = SpellJoin.candidates(nbr, typo, 2)
        .select("term").collect().map(_.getString(0)).toSet
      assert(joined == brute, s"candidate sets differ for '$typo'")
      // dist values match the unthresholded levenshtein
      val dists = SpellJoin.candidates(nbr, typo, 2)
        .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
      dists.foreach { case (term, d) =>
        assert(d == org.apache.commons.text.similarity.LevenshteinDistance
          .getDefaultInstance.apply(term, typo).intValue, s"dist wrong for $term")
      }
    }
  }

  test("at-rest neighborhood probes are pushdown-pruned, not scanned") {
    val dir = java.nio.file.Files.createTempDirectory("spell_nbr").toString
    SpellJoin.neighborhood(vocab).write.mode("overwrite").parquet(dir)
    val nbr = spark.read.parquet(dir)
    val plan = SpellJoin.candidates(nbr, "spqrk", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(del_key"),
      s"expected a del_key IN pushdown in:\n$plan")
  }

  test("candidatesBatch: one probe returns per-token rows identical to candidates()") {
    val nbr = SpellJoin.neighborhood(vocab)
    val tokens = Seq("spqrk", "vektor", "windoe", "jakrata")
    val batch = SpellJoin.candidatesBatch(nbr, tokens, 2)
    tokens.foreach { t =>
      val single = SpellJoin.candidates(nbr, t, 2).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      assert(batch(t).map(c => (c.term, c.freq, c.dist)).toSet == single,
        s"batch/single candidate mismatch for '$t'")
    }
  }

  test("candidatesBatch runs exactly ONE Spark job for all tokens") {
    val nbr = SpellJoin.neighborhood(vocab).cache()
    SpellJoin.candidatesBatch(nbr, Seq("warm"), 2) // materialize the cache
    val sc = spark.sparkContext
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    sc.addSparkListener(listener)
    try {
      SpellJoin.candidatesBatch(nbr, Seq("spqrk", "vektor", "windoe", "jakrata"), 2)
      org.apache.spark.GraftListenerAccess.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs == 1, s"expected exactly 1 probe job, saw $jobs")
    nbr.unpersist()
  }

  test("levenshteinBounded matches the unbounded distance with a -1 over-bound contract") {
    val lev = org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance
    val cases = Seq(
      ("spark", "spqrk"), ("abc", "abc"), ("abc", "xyz"), ("ab", "abcd"),
      ("kitten", "sitting"), ("a", ""), ("", ""), ("jakarta", "jakrata"),
      ("ab", "ba"), ("abcdef", "az"))
    for ((a, b) <- cases; bound <- 0 to 3) {
      val d = lev.apply(a, b).intValue
      val expected = if (d <= bound) d else -1
      assert(SpellJoin.levenshteinBounded(a, b, bound) == expected,
        s"levenshteinBounded($a, $b, $bound)")
    }
  }

  test("no driver-side vocabulary materialization on the join path") {
    // structural guarantee: candidates() builds a plan over the
    // neighborhood; the only collect is the candidate result itself. Verify
    // the probe stays bounded: the matched row count is candidate-scale.
    val nbr = SpellJoin.neighborhood(vocab)
    val nbrRows = nbr.count()
    val probed = nbr.filter(col("del_key")
      .isin(SpellJoin.deletionVariants("spqrk", 2): _*)).count()
    assert(probed < nbrRows / 20,
      s"probe touched $probed of $nbrRows neighborhood rows — not index-like")
  }
}
