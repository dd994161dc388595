package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{NGramLM, TextIndex}
import graft.spell.SpellCorrector
import graft.spell.SpellCorrector._
import graft.SpellReference.editCandidates
import graft.query.Tokenizer

/**
 * Noisy-channel spell correction vs the reference's edit classification
 * (/root/reference/pkg/searcher/spell_corrector.go:109-193 — golden cases
 * from its comments) and the E2E correction assertions
 * (searcher_test.go:69-101), re-seeded over a tiny corpus.
 */
class SpellSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("getEdit classifies per the reference comment examples") {
    assert(getEdit("abdc", "abcd")._1 == Transposition)
    assert(getEdit("abcf", "abcd")._1 == Substitution)
    assert(getEdit("abfcd", "abcd") == ((Insertion, 'f', 'b')))
    assert(getEdit("fabc", "abc") == ((Insertion, 'f', StartChar)))
    assert(getEdit("abce", "abcde")._1 == Deletion)
    assert(getEdit("bc", "abc") == ((Deletion, 'b', StartChar)))
    assert(getEdit("stanfords", "stanford") == ((Insertion, 's', 'd')))
    assert(getEdit("stanfor", "stanford") == ((Deletion, 'r', 'r')))
    assert(getEdit("same", "same")._1 == NoEdit)
  }

  test("noisy model: counts and edit log-prob shape (spell_corrector.go:57-107,195-213)") {
    val lines = Seq(
      "raining: rainning, raning",
      "writings: writtings",
      "disparagingly: disparingly",
      "yellow: yelow")
    val m = buildNoisyModel(lines)
    assert(m.unigram('r') > 0 && m.unigram(StartChar) == 4)
    assert(m.alphabetSize == m.unigram.size)
    // a no-edit pair scores log(0.9)
    assert(math.abs(m.editLogProb("same", "same") - math.log(0.9)) < 1e-12)
    // an observed edit must beat an unobserved one of the same class
    val observed = m.editLogProb("rainning", "raining")
    val unobserved = m.editLogProb("xaining", "raining")
    assert(observed > unobserved)
    assert(observed < 0)
  }

  test("edit candidates via levenshtein on vocab (FST x Lev-DFA equivalent)") {
    val docs = Seq((1L, "dunia fantasi ancol"), (2L, "kebun binatang ragunan"),
      (3L, "monumen nasional jakarta")).toDF("doc_id", "text")
    val vocab = TextIndex.vocab(TextIndex.postings(docs, "doc_id", "text"))
    assert(editCandidates(vocab, "duniu", 1) == Seq("dunia"))
    assert(editCandidates(vocab, "fsntaso", 2).contains("fantasi"))
    assert(editCandidates(vocab, "raginan", 2).contains("ragunan"))
    assert(editCandidates(vocab, "zzzzzz", 2).isEmpty)
  }

  test("E2E correction: 'duniu fsntaso' -> 'dunia fantasi' (searcher_test.go:69-84)") {
    val corpus = Seq(
      Seq("dunia", "fantasi"), Seq("kebun", "binatang", "ragunan"),
      Seq("monumen", "nasional"), Seq("taman", "mini", "indonesia"),
      Seq("dunia", "fantasi", "ancol"))
    // deterministic term ids over the corpus vocabulary
    val termId: Map[String, Long] =
      corpus.flatten.distinct.sorted.zipWithIndex.map { case (t, i) => t -> (i + 3L) }.toMap
    val lm = NGramLM.collectModel(NGramLM.countTables(
      corpus.map(d => Tuple1(d.map(termId))).toDF("terms")))
    val noisy = buildNoisyModel(Seq("dunia: duniu, dunai", "fantasi: fsntaso, fantasy"))
    val docs = corpus.zipWithIndex.map { case (d, i) => (i.toLong, d.mkString(" ")) }
      .toDF("doc_id", "text")
    val vocab = TextIndex.vocab(TextIndex.postings(docs, "doc_id", "text"))

    val tokens = Tokenizer.tokenize("duniu fsntaso")
    val perToken = tokens.map { t =>
      if (termId.contains(t)) Seq(t)
      else {
        val c1 = editCandidates(vocab, t, 1)
        if (c1.nonEmpty) c1 else editCandidates(vocab, t, 2)
      }
    }
    val candidates = queryCandidates(perToken)
    val best = rankCandidates(candidates, tokens, lm, termId.getOrElse(_, 2L), noisy, 1).head
    assert(best == Seq("dunia", "fantasi"))
  }

  test("'kebun bibatqng raginan' -> 'kebun binatang ragunan' (searcher_test.go:86-101)") {
    val corpus = Seq(
      Seq("kebun", "binatang", "ragunan"), Seq("kebun", "raya", "bogor"),
      Seq("dunia", "fantasi"))
    val termId: Map[String, Long] =
      corpus.flatten.distinct.sorted.zipWithIndex.map { case (t, i) => t -> (i + 3L) }.toMap
    val lm = NGramLM.collectModel(NGramLM.countTables(
      corpus.map(d => Tuple1(d.map(termId))).toDF("terms")))
    val noisy = buildNoisyModel(Seq("binatang: bibatqng", "ragunan: raginan"))
    val docs = corpus.zipWithIndex.map { case (d, i) => (i.toLong, d.mkString(" ")) }
      .toDF("doc_id", "text")
    val vocab = TextIndex.vocab(TextIndex.postings(docs, "doc_id", "text"))
    val tokens = Tokenizer.tokenize("kebun bibatqng raginan")
    val perToken = tokens.map { t =>
      if (termId.contains(t)) Seq(t)
      else editCandidates(vocab, t, 2)
    }
    val best = rankCandidates(queryCandidates(perToken), tokens, lm,
      termId.getOrElse(_, 2L), noisy, 1).head
    assert(best == Seq("kebun", "binatang", "ragunan"))
  }
}
