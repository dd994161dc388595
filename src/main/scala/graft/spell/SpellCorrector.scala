package graft.spell

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.index.NGramLM

/**
 * Noisy-channel spell correction + candidate-query ranking.
 *
 * Ported semantics (NOT code) from
 * /root/reference/pkg/searcher/spell_corrector.go:
 *  - edit classification getEdit (:109-193): insertion/deletion/substitution/
 *    transposition with context characters, START_CHAR = '-'
 *  - edit log-prob (:195-213): log((count+1)/denominator); no-edit prob 0.9
 *  - corpus build (:57-107): char unigram/bigram counts over correct words
 *    from `correct: typo1, typo2` lines
 *  - candidate generation at edit distance <= 2: the reference intersects a
 *    Levenshtein DFA with an FST over the vocabulary (:273-302); the engine
 *    scans the driver-held vocabulary with Spark's bounded levenshtein
 *    (`Searcher.DriverVocab`) or, past the driver budget, probes the
 *    deletion neighborhood ([[SpellJoin]])
 *  - candidate query ranking (:323-356, :410-451): LM log-prob + edit
 *    log-prob, argmax (search) or top-3 (autocomplete, kAutoComplete=3)
 */
object SpellCorrector {

  val StartChar: Char = '-'
  val AlphaNoEditProb = 0.9
  val EditDistanceMax = 2
  val KAutocomplete = 3

  sealed trait Edit
  case object NoEdit extends Edit
  case object Insertion extends Edit
  case object Deletion extends Edit
  case object Substitution extends Edit
  case object Transposition extends Edit

  /** Classify how `edited` was derived from `original` (getEdit :109-193).
   *  Returns (edit type, c1, c2) context chars. */
  def getEdit(edited: String, original: String): (Edit, Char, Char) = {
    if (edited == original) return (NoEdit, edited.head, original.head)
    if (edited.length == original.length) {
      val sameCounts = edited.groupBy(identity).view.mapValues(_.length).toMap ==
        original.groupBy(identity).view.mapValues(_.length).toMap
      var i = 0
      while (i < edited.length) {
        if (edited(i) != original(i)) {
          return if (sameCounts) (Transposition, edited(i), original(i))
          else (Substitution, edited(i), original(i))
        }
        i += 1
      }
    }
    var i = 0
    val m = math.min(edited.length, original.length)
    while (i < m) {
      if (edited(i) != original(i)) {
        if (edited.length > original.length) {
          return if (i > 0) (Insertion, edited(i), original(i - 1))
          else (Insertion, edited(i), StartChar)
        } else {
          return if (i > 0) (Deletion, edited(i), original(i - 1))
          else (Deletion, edited(i), StartChar)
        }
      }
      i += 1
    }
    if (edited.length > original.length)
      (Insertion, edited.last, original.last)
    else if (original.length > 1)
      (Deletion, edited.last, original(original.length - 2))
    else
      (Deletion, edited.last, StartChar)
  }

  /** Char-level noisy-channel statistics (BuildEditProb :57-107). */
  case class NoisyModel(unigram: Map[Char, Int], bigram: Map[(Char, Char), Int],
                        editCount: Map[(Edit, Char, Char), Int]) {
    val alphabetSize: Int = unigram.size

    /** getEditLogProb (:195-213). */
    def editLogProb(edited: String, original: String): Double = {
      val (edit, c1, c2) = getEdit(edited, original)
      if (edit == NoEdit) return math.log(AlphaNoEditProb)
      val numerator = editCount.getOrElse((edit, c1, c2), 0).toDouble
      val denominator = edit match {
        case Insertion | Substitution =>
          unigram.getOrElse(c1, 0).toDouble + alphabetSize
        case _ =>
          bigram.getOrElse((c1, c2), 0).toDouble + alphabetSize.toLong * alphabetSize
      }
      math.log(numerator + 1) - math.log(denominator)
    }
  }

  /** Build from `correct: typo1, typo2` lines (spell-errors.txt format). */
  def buildNoisyModel(lines: Iterable[String]): NoisyModel = {
    val uni = scala.collection.mutable.Map[Char, Int]().withDefaultValue(0)
    val bi = scala.collection.mutable.Map[(Char, Char), Int]().withDefaultValue(0)
    val ec = scala.collection.mutable.Map[(Edit, Char, Char), Int]().withDefaultValue(0)
    lines.foreach { line =>
      val parts = line.split(":", 2)
      if (parts.length == 2) {
        val correct = parts(0).trim
        correct.foreach(c => uni(c) += 1)
        uni(StartChar) += 1
        correct.sliding(2).filter(_.length == 2).foreach(p => bi((p(0), p(1))) += 1)
        parts(1).trim.split(",").map(_.trim).filter(_.nonEmpty).foreach { typo =>
          val (e, c1, c2) = getEdit(typo, correct)
          ec((e, c1, c2)) += 1
        }
      }
    }
    NoisyModel(uni.toMap, bi.toMap, ec.toMap)
  }

  private val EditNames: Map[Edit, String] = Map(
    Insertion -> "ins", Deletion -> "del",
    Substitution -> "sub", Transposition -> "tra")
  private val EditByName: Map[String, Edit] = EditNames.map(_.swap)

  /** At-rest form of a [[NoisyModel]] — the engine twin of the reference's
   *  noisy_model.index (spell_corrector.go:453-490): one tiny table
   *  (kind, c1, c2, cnt) holding the char unigram/bigram/confusion counts. */
  def noisyToDf(spark: SparkSession, m: NoisyModel): DataFrame =
    spark.createDataFrame(
      m.unigram.toSeq.map { case (c, n) => ("uni", c.toString, "", n) } ++
        m.bigram.toSeq.map { case ((a, b), n) => ("bi", a.toString, b.toString, n) } ++
        m.editCount.toSeq.map { case ((e, c1, c2), n) =>
          (s"edit:${EditNames(e)}", c1.toString, c2.toString, n)
        }).toDF("kind", "c1", "c2", "cnt")

  /** Inverse of [[noisyToDf]]; the table is confusion-matrix-sized. */
  def noisyFromDf(df: DataFrame): NoisyModel = {
    val rows = df.select("kind", "c1", "c2", "cnt").collect()
    val uni = rows.filter(_.getString(0) == "uni")
      .map(r => r.getString(1).head -> r.getInt(3)).toMap
    val bi = rows.filter(_.getString(0) == "bi")
      .map(r => (r.getString(1).head, r.getString(2).head) -> r.getInt(3)).toMap
    val ec = rows.filter(_.getString(0).startsWith("edit:"))
      .map { r =>
        (EditByName(r.getString(0).stripPrefix("edit:")),
          r.getString(1).head, r.getString(2).head) -> r.getInt(3)
      }.toMap
    NoisyModel(uni, bi, ec)
  }

  /** Cartesian candidate-query expansion (GetCorrectQueryCandidates :305-321),
   *  capped to keep the product tractable. */
  def queryCandidates(perToken: Seq[Seq[String]], cap: Int = 512): Seq[Seq[String]] = {
    perToken.foldLeft(Seq(Seq.empty[String])) { (acc, cands) =>
      (for { q <- acc; c <- cands } yield q :+ c).take(cap)
    }
  }

  /**
   * Rank candidate queries by ngram-LM log-prob + summed edit log-prob;
   * return the argmax (GetCorrectSpellingSuggestion :323-356) or top-k
   * (GetMatchedWordsAutocomplete :410-451).
   */
  def rankCandidates(candidates: Seq[Seq[String]], originalTokens: Seq[String],
                     lm: NGramLM.Model, termId: String => Long,
                     noisy: NoisyModel, topK: Int): Seq[Seq[String]] = {
    candidates.map { cand =>
      val lmProb = lm.queryLogProb(cand.map(termId))
      val editProb = cand.zip(originalTokens)
        .map { case (c, o) => noisy.editLogProb(o, c) }.sum
      (cand, lmProb + editProb)
    }.sortBy { case (c, p) => (-p, c.mkString(" ")) }
      .take(topK).map(_._1)
  }
}
