package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.index.{NGramLM, TextIndex}
import graft.spell.{SpellCorrector, SpellJoin}

/**
 * The composed query entry points of the reference server, end to end:
 *
 *  - [[freeFormQuery]] = /api/search (searcher.go:97-204): tokenize →
 *    per-token candidates (vocabulary hit, else edit-distance 1, else 2) →
 *    cartesian candidate queries → rank by 4-gram stupid-backoff LM
 *    log-prob + noisy-channel edit log-prob → best corrected query →
 *    BM25F/BM25+/TF-IDF score → top-k → hydrate.
 *  - [[autocomplete]] = /api/autocomplete (searcher.go:207-399): the last
 *    token is completed by prefix ∪ edit1 ∪ edit2 candidates, candidate
 *    queries ranked by the same LM+edit probability, TOP 3 kept
 *    (kAutoComplete=3, spell_corrector.go:406-408), scored BM25F in one
 *    pass (each doc keeps its best candidate's score), globally ranked.
 *
 * Model-state lifecycle (mirrors the reference's index artifacts:
 * ngram_lm.go:386-423 persists the LM, spell_corrector.go:453-490 the
 * noisy model, indexer.go:872-903 the term map; the server loads and
 * serves, cmd/server/main.go:33-57): the dictionary ([[Searcher.dictOf]]),
 * deletion neighborhood ([[Searcher.neighborhoodOf]]) and keyed n-gram
 * count tables ([[Searcher.lmCountTables]]) are built ONCE — in-session
 * they are built lazily and cached on first use; at rest they are bucketed
 * tables written by [[SearchIndexStore.write]] and served without rebuild
 * by [[Searcher.fromStore]]. No query ever re-aggregates the corpus.
 *
 * Scale split (SURVEY §3.1): the reference holds the vocabulary, n-gram
 * counts and confusion matrices in server RAM (searcher.go:37-73). The
 * engine mirrors that ONLY while the vocabulary fits `maxDriverVocab`
 * terms: the collected [[NGramLM.Model]] plus one driver table of
 * (term, freq, lmid) ([[Searcher.DriverVocab]]) that answers membership,
 * LM ids, prefix and edit candidates — candidate generation and ranking
 * then run ZERO Spark jobs. Past the budget every model-sized structure
 * stays distributed and candidate generation + ranking run exactly two
 * key-pruned probe jobs:
 *  1. candidate generation — ONE `del_key IN (...)` probe of the
 *     neighborhood table for ALL the request's tokens at once
 *     ([[SpellJoin.candidatesBatch]]; LM ids ride along on the rows), and
 *  2. LM scoring — ONE `gram_key IN (...)` probe of the count tables
 *     covering every gram stupid backoff can touch
 *     ([[NGramLM.probeModel]]).
 * Driver-resident data on the distributed path is bounded by the
 * per-request candidate set (the reference's own per-request scale), never
 * by the corpus. In both modes each request then runs ONE scoring plan
 * (BM25F off the postings rows, which carry tf, field length and df;
 * top-k; hydration).
 */
class Searcher(docs: DataFrame, idCol: String, nameCol: String, addrCol: String,
               spellErrorLines: Iterable[String] = Nil,
               maxDriverVocab: Long = Searcher.DefaultMaxDriverVocab,
               store: Option[Searcher.ModelTables] = None) {

  val index: SearchIndex = store.map(_.index)
    .getOrElse(new SearchIndex(docs, idCol, nameCol, addrCol))

  /** True when the vocabulary exceeds the driver budget: all model state
   *  stays distributed (one count job decides the mode at construction). */
  val distributed: Boolean = index.vocabulary.count() > maxDriverVocab

  private val noisy: SpellCorrector.NoisyModel = store.flatMap(_.noisy)
    .getOrElse(SpellCorrector.buildNoisyModel(spellErrorLines))

  // ---- model tables (shared by both modes; built once, never per query) --

  /** (t, term_id, lmid): sorted-rank ids (deterministic, vs the reference's
   *  first-seen mutex counter, util.go:16-42) with the UNK-thresholded LM
   *  id alongside (hapax -> <UNK>, ngram_lm.go:69-110). */
  private[graft] lazy val dict: DataFrame =
    store.map(_.dict).getOrElse(Searcher.dictOf(index.vocabulary).cache())

  /** Deletion-neighborhood candidate index (del_key, term, freq, lmid) —
   *  at rest: bucketed by del_key ([[SearchIndexStore]]). */
  private[graft] lazy val spellNbr: DataFrame =
    store.map(_.spellNbr)
      .getOrElse(Searcher.neighborhoodOf(index.vocabulary, dict).cache())

  /** Keyed n-gram count tables (n, gram_key, cnt) — at rest: bucketed by
   *  gram_key. Built WITHOUT collecting the dictionary (ids map by join;
   *  empty docs keep their padded grams, exactly like the collected path). */
  private[graft] lazy val lmKeyed: DataFrame =
    store.map(_.lmKeyed).getOrElse(NGramLM.keyedCounts(
      Searcher.lmCountTables(docs, idCol, nameCol, addrCol, dict)).cache())

  /** Unigram mass — one job at first use, a constant thereafter. */
  private lazy val lmTotal: Long = NGramLM.keyedTotal(lmKeyed)

  // ---- collected-mode state (reference-faithful, vocab <= budget) --------

  /** The whole vocabulary on the driver, collected once: membership, LM
   *  ids (hapax already <UNK> in dict), prefix and edit candidates. */
  private lazy val driverVocab: Searcher.DriverVocab =
    Searcher.DriverVocab.collect(index.vocabulary, dict)

  private def lmTermId(t: String): Long = driverVocab.lmid(t).getOrElse(NGramLM.UnkId)

  /** The reference's in-RAM LM (searcher.go:37-73), collected once from
   *  the same count tables the distributed path probes. */
  private lazy val lm: NGramLM.Model = NGramLM.collectModelKeyed(lmKeyed)

  // ---- distributed-mode candidate generation -----------------------------

  /** All tokens probed in ONE job; candidates sorted (dist, term) for
   *  deterministic cartesian expansion under the candidate cap. */
  private def batchCandidates(tokens: Seq[String]): Map[String, Seq[SpellJoin.Cand]] =
    SpellJoin.candidatesBatch(spellNbr, tokens, SpellJoin.MaxDeletes)
      .map { case (t, cs) => t -> cs.sortBy(c => (c.dist, c.term)) }

  /** Per-token candidate terms from the probe, with the reference's
   *  fallback ladder: vocabulary hit -> edit1 -> edit2 -> keep as-is. */
  private def candsFor(probe: Map[String, Seq[SpellJoin.Cand]], t: String): Seq[String] = {
    val rows = probe.getOrElse(t, Seq.empty)
    if (rows.exists(_.dist == 0)) Seq(t)
    else {
      val d1 = rows.filter(_.dist <= 1).map(_.term)
      val cs = if (d1.nonEmpty) d1 else rows.map(_.term)
      if (cs.nonEmpty) cs else Seq(t) // unknown, uncorrectable: keep as-is
    }
  }

  /** Rank candidate queries: distributed LM probe + driver noisy-channel
   *  (edit probs are per-candidate arithmetic, not model lookups).
   *  `knownIds`: term -> LM id already learned from the candidate probe;
   *  only terms outside it (e.g. prefix completions) cost a dict lookup. */
  private def rankDistributed(candidates: Seq[Seq[String]], tokens: Seq[String],
                              topK: Int, knownIds: Map[String, Long]): Seq[Seq[String]] = {
    val missing = candidates.flatten.distinct.filterNot(knownIds.contains)
    val ids = knownIds ++ (
      if (missing.isEmpty) Map.empty
      else dict.filter(col("t").isin(missing: _*)).select("t", "lmid")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    val lmScores = NGramLM.queryLogProbsProbed(lmKeyed, lmTotal,
      candidates.zipWithIndex.map { case (c, i) =>
        (i, c.map(t => ids.getOrElse(t, NGramLM.UnkId)))
      })
    candidates.zipWithIndex.map { case (cand, i) =>
      val editLp = cand.zip(tokens).map { case (c, o) => noisy.editLogProb(o, c) }.sum
      (cand, lmScores.getOrElse(i, Double.NegativeInfinity) + editLp)
    }.sortBy { case (c, p) => (-p, c.mkString(" ")) }
      .take(topK).map(_._1)
  }

  private def rankCollected(candidates: Seq[Seq[String]], tokens: Seq[String],
                            topK: Int): Seq[Seq[String]] =
    SpellCorrector.rankCandidates(candidates, tokens, lm, lmTermId, noisy, topK)

  // ---- composed lifecycles -----------------------------------------------

  /** Per-token candidate generation + LM/noisy ranking → corrected tokens
   *  (FreeFormQuery steps 3-6). Distributed mode: exactly one neighborhood
   *  probe + one LM probe per request, regardless of token count. */
  def correct(query: String): Seq[String] = {
    val tokens = Tokenizer.tokenize(query)
    if (tokens.isEmpty) return tokens
    if (distributed) {
      val probe = batchCandidates(tokens)
      val perToken = tokens.map(t => candsFor(probe, t))
      val candidates = SpellCorrector.queryCandidates(perToken)
      val knownIds = probe.values.flatten
        .flatMap(c => c.lmid.map(c.term -> _)).toMap
      rankDistributed(candidates, tokens, 1, knownIds).head
    } else {
      // candidates come in term order, so the candidate cap truncates the
      // same way however the vocabulary was built or loaded
      val perToken = tokens.map { t =>
        if (driverVocab.lmid(t).isDefined) Seq(t)
        else {
          val c1 = driverVocab.edits(t, 1)
          val cs = if (c1.nonEmpty) c1 else driverVocab.edits(t, 2)
          if (cs.nonEmpty) cs else Seq(t)
        }
      }
      rankCollected(SpellCorrector.queryCandidates(perToken), tokens, 1).head
    }
  }

  /** /api/search composed end-to-end. */
  def freeFormQuery(query: String, k: Int, offset: Int = 0,
                    scoring: String = "bm25f"): DataFrame =
    index.search(correct(query).mkString(" "), k, offset, scoring)

  /** /api/autocomplete with the reference's full candidate set for the last
   *  token: prefix ∪ edit1 ∪ edit2, deduped (searcher.go:284-315), candidate
   *  queries ranked by LM+edit, the top 3 scored in one BM25F pass
   *  ([[SearchIndex.bm25fMax]]). An empty query returns an empty frame of
   *  the usual schema. */
  def autocomplete(query: String, k: Int, offset: Int = 0): DataFrame = {
    val tokens = Tokenizer.tokenize(query)
    if (tokens.isEmpty) return index.topK(index.bm25fMax(Nil), k, offset)
    val last = tokens.last
    val (completions, knownIds) =
      if (distributed) {
        val rows = batchCandidates(Seq(last)).getOrElse(last, Seq.empty)
        (index.prefixCandidates(last, max = 10) ++ rows.map(_.term),
          rows.flatMap(c => c.lmid.map(c.term -> _)).toMap)
      } else
        (driverVocab.prefix(last, max = 10) ++ driverVocab.edits(last, 2),
          Map.empty[String, Long])
    val candidateQueries = completions.distinct match {
      case Seq() => Seq(tokens)
      case cs => cs.map(c => tokens.init :+ c)
    }
    val top3 =
      if (distributed)
        rankDistributed(candidateQueries, tokens, SpellCorrector.KAutocomplete, knownIds)
      else rankCollected(candidateQueries, tokens, SpellCorrector.KAutocomplete)
    index.topK(index.bm25fMax(top3), k, offset)
  }
}

object Searcher {
  /**
   * The collected-mode driver table: (term, freq, lmid) for the whole
   * vocabulary, sorted by term in Spark's binary string order. It answers
   * with no Spark job what the distributed path probes for: membership and
   * LM ids, prefix candidates (the same rows and order as
   * [[SearchIndex.prefixCandidates]]) and edit candidates through
   * `UTF8String.levenshteinDistance(other, threshold)` — the function
   * Spark's `levenshtein(col, lit, threshold)` evaluates, so the set is
   * the vocabulary filter's.
   */
  final class DriverVocab private (terms: Array[UTF8String], freqs: Array[Long],
                                   lmids: Array[Long]) {
    private def lowerBound(t: UTF8String): Int = {
      val i = java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], t)
      if (i >= 0) i else -i - 1
    }

    /** The term's LM id, or None when it is not in the vocabulary. */
    def lmid(t: String): Option[Long] = {
      val u = UTF8String.fromString(t)
      val i = lowerBound(u)
      if (i < terms.length && terms(i) == u) Some(lmids(i)) else None
    }

    /** Up to `max` terms starting with `pre`, by (freq desc, term). */
    def prefix(pre: String, max: Int): Seq[String] = {
      val p = UTF8String.fromString(pre)
      Iterator.from(lowerBound(p)).takeWhile(i => i < terms.length && terms(i).startsWith(p))
        .toSeq.sortBy(i => (-freqs(i), i)).take(max).map(terms(_).toString)
    }

    /** Terms within edit distance `maxDist` of `token`, in term order. */
    def edits(token: String, maxDist: Int): Seq[String] = {
      val u = UTF8String.fromString(token)
      terms.iterator.filter(_.levenshteinDistance(u, maxDist) >= 0).map(_.toString).toSeq
    }
  }

  object DriverVocab {
    /** One collect of (term, freq) from `vocab` joined with `dict`'s LM ids. */
    def collect(vocab: DataFrame, dict: DataFrame): DriverVocab = {
      val rows = vocab.select(col("term"), col("freq"))
        .join(dict.select(col("t").as("term"), col("lmid")), Seq("term"))
        .collect()
        .map(r => (UTF8String.fromString(r.getString(0)), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      new DriverVocab(rows.map(_._1), rows.map(_._2), rows.map(_._3))
    }
  }

  /** Vocabulary budget for holding the LM/dictionary on the driver — the
   *  reference's in-RAM regime. OSM-scale vocabularies are far below it;
   *  a web-scale caption corpus trips it and every model structure stays
   *  distributed. */
  val DefaultMaxDriverVocab: Long = 10000000L

  /** At-rest model artifacts served without rebuild ([[fromStore]]). */
  case class ModelTables(index: SearchIndex, dict: DataFrame, spellNbr: DataFrame,
                         lmKeyed: DataFrame, noisy: Option[SpellCorrector.NoisyModel])

  /** Serve a [[Searcher]] from a persisted [[SearchIndexStore]] — the
   *  reference's server lifecycle (load artifacts and serve,
   *  cmd/server/main.go:33-57). No corpus pass, no model rebuild. */
  def fromStore(spark: SparkSession, dir: String,
                maxDriverVocab: Long = DefaultMaxDriverVocab): Searcher =
    SearchIndexStore.loadSearcher(spark, dir, maxDriverVocab)

  /** Deterministic term dictionary (t, term_id, lmid): sorted-vocab rank
   *  (ids from 3; 0-2 are <s>, </s>, <UNK>), lmid = term_id when corpus
   *  freq >= COUNT_THRESOLD_NGRAM else <UNK> — the reference ALWAYS builds
   *  (and queries) its LM over the UNK-thresholded corpus
   *  (ngram_lm.go:69-110). vocabulary.freq IS that corpus frequency (sum
   *  of tf over both fields), so no extra distributed pass is needed. */
  def dictOf(vocab: DataFrame): DataFrame =
    TextIndex.termIds(vocab)
      .join(vocab.select(col("term"), col("freq")), Seq("term"))
      .select(col("term").as("t"), col("term_id"),
        when(col("freq") >= NGramLM.CountThreshold, col("term_id"))
          .otherwise(lit(NGramLM.UnkId)).as("lmid"))

  /** Deletion neighborhood with the LM id riding along on every row, so a
   *  candidate probe needs no second id-lookup job. */
  def neighborhoodOf(vocab: DataFrame, dict: DataFrame): DataFrame =
    SpellJoin.neighborhood(vocab)
      .join(dict.select(col("t").as("term"), col("lmid")), Seq("term"))
      .select(col("del_key"), col("term"), col("freq"), col("lmid"))

  /** N-gram count tables (n, gram array, cnt) built WITHOUT collecting the
   *  dictionary: tokens map to LM ids by join; empty docs are preserved
   *  (their padded grams count, exactly as in the reference's
   *  addStartEndToken over every doc). */
  def lmCountTables(docs: DataFrame, idCol: String, nameCol: String,
                    addrCol: String, dict: DataFrame): DataFrame = {
    val exploded = docs
      .select(col(idCol).as("did"),
        posexplode(graft.sources.Derived.tokens(
          concat_ws(" ", col(nameCol), col(addrCol)))).as(Seq("pos", "t")))
    val grouped = exploded
      .join(dict.select(col("t"), col("lmid")), Seq("t"), "left")
      .select(col("did"), col("pos"), coalesce(col("lmid"), lit(NGramLM.UnkId)).as("tid"))
      .groupBy("did")
      .agg(array_sort(collect_list(struct(col("pos"), col("tid")))).as("ps"))
      .select(col("did"), transform(col("ps"), p => p("tid")).as("terms"))
    val termDocs = docs.select(col(idCol).as("did")).join(grouped, Seq("did"), "left")
      .select(coalesce(col("terms"), array().cast("array<long>")).as("terms"))
    NGramLM.countTables(termDocs)
  }
}
