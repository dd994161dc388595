package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.query.{SearchIndex, Searcher}

/**
 * The collected-mode driver table ([[Searcher.DriverVocab]]) against the
 * Spark paths it replaces: edit candidates equal the brute-force
 * vocabulary `levenshtein` filter, prefix candidates equal
 * [[SearchIndex.prefixCandidates]], for random tokens (empty, one
 * character, digits) at max distance 1 and 2.
 */
class DriverVocabSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // short terms over a small alphabet, so random tokens hit many candidates;
  // repeated words give distinct frequencies for the prefix order
  lazy val index = new SearchIndex(Seq(
    (1L, "ab abc abd b ba", "k1 k12 1"),
    (2L, "ab abc bab a1", "12 k1 kb"),
    (3L, "abd abd dab", "ba 1 21 k"),
    (4L, "taman tamin min mini", "ab k12 bad")
  ).toDF("doc_id", "name", "address"), "doc_id", "name", "address")
  lazy val driver = Searcher.DriverVocab.collect(index.vocabulary, Searcher.dictOf(index.vocabulary))

  private val token: Gen[String] = Gen.oneOf(
    Gen.const(""),
    Gen.oneOf("abdk12tmz".toSeq).map(_.toString),
    Gen.choose(0, 999).map(_.toString),
    Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf("abdk12".toSeq)).map(_.mkString)))

  private def check(prop: Prop): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("driver edit candidates == the vocabulary levenshtein filter, in term order") {
    check(Prop.forAll(token) { t =>
      Seq(1, 2).forall { d =>
        driver.edits(t, d) == SpellReference.editCandidates(index.vocabulary, t, d).sorted
      }
    })
  }

  test("driver prefix candidates == SearchIndex.prefixCandidates") {
    check(Prop.forAll(token, Gen.choose(1, 4)) { (p, max) =>
      driver.prefix(p, max) == index.prefixCandidates(p, max)
    })
  }

  test("driver membership and LM ids == the dictionary") {
    val dict = Searcher.dictOf(index.vocabulary).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    dict.foreach { case (t, id) => assert(driver.lmid(t).contains(id), t) }
    check(Prop.forAll(token)(t => driver.lmid(t) == dict.get(t)))
  }
}
