package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.TextIndex
import graft.sources.Derived

/**
 * Scoring constants — faithful to the reference
 * (/root/reference/pkg/searcher/constant.go:29-39). Note the reference's
 * address branch reuses NAME_B (scoring.go:59); ADDRESS_B is declared but
 * never used — reproduced as-is.
 */
object ScoringConstants {
  val K1Bm25f = 10.0
  val NameWeight = 20.0
  val AddressWeight = 1.0
  val NameB = 0.95
  // BM25+ (constant.go:29-31)
  val Delta = 1.0
  val K1 = 1.2
  val B = 0.98
}

/**
 * Full-text search over a two-field document table, BM25F / BM25+ /
 * TF-IDF-cosine scored, as declarative Spark jobs against the postings
 * tables built by [[graft.index.TextIndex]].
 *
 * Mirrors /root/reference/pkg/searcher/scoring.go:
 *  - BM25F (scoring.go:9-76): per (term, doc, field)
 *      w = W_f * tf / (1 + B * (len_fd/avgLen_f - 1));  contrib = w/(K1+w) * idf
 *      idf = log10(N - df + 0.5) - log10(df + 0.5), df over BOTH fields' docs
 *  - BM25+ (scoring.go:143-181): merged name++address postings
 *      idf = log10(N+1) - log10(df); contrib = idf * (DELTA + ((K1+1)+tf) /
 *      (K1*(1-B+B*dl/avgdl)+tf))
 *  - TF-IDF cosine (scoring.go:183-228): (1+log10 tf_d)*idf * (1+log10
 *    tf_q)*idf summed; norms computed but never applied — faithful bug,
 *    reproduced by simply not dividing.
 *
 * Query plan shape: every posting row carries what scoring needs —
 * (term, doc_id, tf, len, df), the field length and the term's df over
 * both fields — built once with the index (one cached table per field
 * fresh, the store's `postings_*` tables at rest). A BM25F request is then
 * one term-pruned scan of both fields' postings (`isin` on term,
 * partition/row-group prunable), per-row saturation and idf as column
 * arithmetic under literal per-field stats and query-term multiplicities,
 * a partial aggregate per doc, and `orderBy(desc(score)).limit(k)` as
 * TakeOrderedAndProject — a true distributed top-k, never a full sort at
 * scale — with no per-request join or broadcast of lengths or df.
 */
class SearchIndex(docs: DataFrame, idCol: String, nameCol: String, addrCol: String,
                  prebuilt: Option[SearchIndex.Tables] = None) {

  // fresh build: in-session cache mirrors the reference server's RAM index
  // (ownership: the TextQueries/Searcher memoizer holds the index for the
  // session). Loaded from an at-rest store ([[SearchIndexStore]]): the
  // bucketed tables ARE the index — no cache, term lookups prune at scan.

  /** Vocabulary across both fields (term, freq, df). Fresh build: cached
   *  in-session. Loaded from a store: the store's bucketed `vocab` table is
   *  served as-is (term lookups prune at scan, no rebuild). */
  lazy val vocabulary: DataFrame = prebuilt.map(_.vocab).getOrElse(
    SearchIndex.vocabOf(TextIndex.postingsWithLen(docs, idCol, nameCol),
      TextIndex.postingsWithLen(docs, idCol, addrCol)).cache())

  /** Scoring postings per field: (term, doc_id, tf, len, df). */
  val postingsName: DataFrame = prebuilt.map(_.postingsName).getOrElse(SearchIndex
    .withDf(TextIndex.postingsWithLen(docs, idCol, nameCol), vocabulary).cache())
  val postingsAddr: DataFrame = prebuilt.map(_.postingsAddr).getOrElse(SearchIndex
    .withDf(TextIndex.postingsWithLen(docs, idCol, addrCol), vocabulary).cache())
  // every doc's field length, zero-token docs included: read once for the
  // per-field averages and doc count, and by BM25+'s merged doc length
  private val lenName: DataFrame = prebuilt.map(_.lenName)
    .getOrElse(TextIndex.fieldLengths(docs, idCol, nameCol))
  private val lenAddr: DataFrame = prebuilt.map(_.lenAddr)
    .getOrElse(TextIndex.fieldLengths(docs, idCol, addrCol))

  lazy val (avgLenName: Double, docsCount: Long) = TextIndex.fieldStats(lenName)
  lazy val avgLenAddr: Double = TextIndex.fieldStats(lenAddr)._1
  /** merged doc length (name + address tokens, indexer.go:787-790) */
  lazy val docLen: DataFrame = lenName.select(col("doc_id"), col("len").as("nlen"))
    .join(lenAddr.select(col("doc_id"), col("len").as("alen")), Seq("doc_id"))
    .select(col("doc_id"), (col("nlen") + col("alen")).as("dl")).cache()
  lazy val avgDocLen: Double = docLen.agg(avg(col("dl"))).head().getDouble(0)

  private def termFilter(terms: Seq[String])(df: DataFrame): DataFrame =
    df.filter(col("term").isin(terms: _*))

  /** Per-occurrence multiplicity of each query term, a literal map looked
   *  up by the row's term: NULL for a term outside `terms`. */
  private def multiplicity(terms: Seq[String]): Column =
    typedLit(terms.groupBy(identity).map { case (t, l) => (t, l.size) }).apply(col("term"))

  import ScoringConstants._

  /** BM25F scores: (doc_id, score). `terms` keeps duplicates — the
   *  reference accumulates once per query-term occurrence. */
  def bm25f(terms: Seq[String]): DataFrame = bm25fMax(Seq(terms))

  /**
   * Per-doc maximum of [[bm25f]] over `queries`, in ONE pass over the
   * postings of their combined terms: each (term, doc, field) contribution
   * is computed once, off the posting row, and summed per query under that
   * query's literal multiplicity map; the doc's score is the greatest
   * per-query sum. A doc none of a query's terms hit has a NULL sum for
   * that query (not 0), so a negative-idf query still wins its docs
   * exactly as the per-query plans' union + max did.
   */
  def bm25fMax(queries: Seq[Seq[String]]): DataFrame = {
    if (queries.isEmpty) return bm25fMax(Seq(Nil))
    val terms = queries.flatten.distinct
    // df over both fields (scoring.go:26-51), from the row
    val idf = log10(lit(docsCount.toDouble) - col("df") + 0.5) - log10(col("df") + 0.5)

    // w/(K1+w) * idf per (term, doc, field)
    def fieldContrib(postings: DataFrame, weight: Double, b: Double,
                     avgLen: Double): DataFrame = {
      val w = lit(weight) * col("tf") /
        (lit(1.0) + lit(b) * (col("len") / lit(avgLen) - lit(1.0)))
      postings.transform(termFilter(terms))
        .select(col("doc_id"), col("term"), ((w / (lit(K1Bm25f) + w)) * idf).as("contrib"))
    }

    val perQuery = queries.zipWithIndex.map { case (q, i) =>
      sum(col("contrib") * multiplicity(q)).as(s"s$i")
    }
    val sums = perQuery.indices.map(i => col(s"s$i"))
    val best = if (sums.size == 1) sums.head else greatest(sums: _*)
    fieldContrib(postingsName, NameWeight, NameB, avgLenName)
      .unionByName(fieldContrib(postingsAddr, AddressWeight, NameB, avgLenAddr))
      .groupBy("doc_id").agg(perQuery.head, perQuery.tail: _*)
      .select(col("doc_id"), best.as("score"))
  }

  /** (term, doc_id, tf, df) of `terms` over merged name++address postings
   *  (tf summed across the fields). */
  private def mergedPostings(terms: Seq[String]): DataFrame = {
    def field(p: DataFrame) =
      p.transform(termFilter(terms.distinct)).select("term", "doc_id", "tf", "df")
    field(postingsName).unionByName(field(postingsAddr))
      .groupBy("term", "doc_id", "df").agg(sum("tf").as("tf"))
  }

  /** BM25+ over merged name++address postings (scoring.go:143-181). */
  def bm25plus(terms: Seq[String]): DataFrame = {
    val idf = log10(lit(docsCount.toDouble) + 1.0) - log10(col("df"))
    mergedPostings(terms)
      .join(docLen, Seq("doc_id"))
      .withColumn("contrib", idf * (lit(Delta) +
        ((lit(K1 + 1.0) + col("tf")) /
          (lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / lit(avgDocLen)) + col("tf")))) *
        multiplicity(terms))
      .groupBy("doc_id").agg(sum(col("contrib")).as("score"))
  }

  /** TF-IDF "cosine" without norm division — faithful to scoring.go:183-228. */
  def tfidf(terms: Seq[String]): DataFrame = {
    val idf = log10(lit(docsCount.toDouble)) - log10(col("df"))
    mergedPostings(terms)
      .withColumn("tfidf_doc", (lit(1.0) + log10(col("tf"))) * idf)
      .withColumn("tfidf_query", (lit(1.0) + log10(multiplicity(terms))) * idf)
      .withColumn("contrib", col("tfidf_doc") * col("tfidf_query"))
      .groupBy("doc_id").agg(sum(col("contrib")).as("score"))
  }

  /** Top-k search: tokenize -> score -> distributed top-k -> hydrate
   *  (the reference's FreeFormQuery steps 7-9, searcher.go:159-204). */
  def search(query: String, k: Int, offset: Int = 0,
             scoring: String = "bm25f"): DataFrame = {
    val terms = Tokenizer.tokenize(query)
    val scores = scoring match {
      case "bm25f" => bm25f(terms)
      case "bm25plus" => bm25plus(terms)
      case "tfidf" => tfidf(terms)
    }
    topK(scores, k, offset)
  }

  /** Distributed top-k of (doc_id, score), then the top-k hydration join
   *  (J6): k ids vs the doc table -> broadcast. */
  private[query] def topK(scores: DataFrame, k: Int, offset: Int): DataFrame = {
    val ranked = scores.orderBy(desc("score"), col("doc_id"))
      .limit(k + offset).offset(offset)
    broadcast(ranked).join(docs.withColumnRenamed(idCol, "doc_id"), Seq("doc_id"))
  }

  /** Prefix candidates for autocomplete from the broadcast-sized vocabulary
   *  (replaces the FST prefix automaton, spell_corrector.go:361-392). */
  def prefixCandidates(prefix: String, max: Int = 10): Seq[String] =
    vocabulary.filter(col("term").startsWith(prefix))
      .orderBy(desc("freq"), col("term"))
      .limit(max).select("term").collect().map(_.getString(0)).toSeq

  /**
   * Autocomplete (searcher.go:207-399): last token is treated as a prefix;
   * up to 3 candidate queries are scored BM25F in one pass, each doc keeping
   * its best candidate's score, then globally ranked. (Candidate ranking by
   * ngram-LM happens in SpellCorrector; here the frequency-ranked prefix
   * expansion reproduces the no-typo path.) An empty query ranks nothing
   * and returns an empty frame of the usual schema.
   */
  def autocomplete(query: String, k: Int, offset: Int = 0): DataFrame = {
    val terms = Tokenizer.tokenize(query)
    val candidateQueries =
      if (terms.isEmpty) Nil
      else prefixCandidates(terms.last, max = 3) match {
        case Seq() => Seq(terms)
        case completions => completions.map(c => terms.init :+ c)
      }
    topK(bm25fMax(candidateQueries), k, offset)
  }
}

object SearchIndex {
  /** Prebuilt index artifacts for the at-rest path. */
  case class Tables(postingsName: DataFrame, postingsAddr: DataFrame,
                    lenName: DataFrame, lenAddr: DataFrame, vocab: DataFrame)

  /** Vocabulary (term, freq, df) of two fields' postings: df counts the
   *  distinct (term, doc_id) pairs over both fields (scoring.go:26-51). */
  def vocabOf(name: DataFrame, addr: DataFrame): DataFrame =
    TextIndex.vocab(name.select("term", "doc_id", "tf")
      .unionByName(addr.select("term", "doc_id", "tf"))
      .groupBy("term", "doc_id").agg(sum("tf").as("tf")))

  /** A field's scoring postings: each row joined with its term's df. */
  def withDf(postings: DataFrame, vocab: DataFrame): DataFrame =
    postings.join(vocab.select("term", "df"), Seq("term"))
}

/**
 * The index's AT-REST form — the engine twin of the reference server's
 * on-disk index load (indexer writes segments + metadata, the server mmaps
 * and serves, /root/reference/pkg/index): every index artifact is a table
 * of ONE TableIO stage (`idx`) under the store directory, committed by its
 * one manifest rename. Postings for both fields are EXTERNAL BUCKETED
 * tables keyed by `term` (query-term lookups prune buckets and push
 * `term IN (...)` to the scan), field lengths and the doc table bucketed by
 * `doc_id`. [[load]] in any later session re-registers from the manifest
 * and serves WITHOUT rebuilding. A store whose postings lack the `len` and
 * `df` columns fails [[load]], naming the table.
 */
object SearchIndexStore {
  import graft.pipeline.TableIO
  import TableIO.Table

  val NBuckets = 8

  /** The stage that holds every table of the store. */
  val Stage = "idx"

  /**
   * Build and persist every index artifact as one stage; idempotent (a
   * committed store is not rewritten; a write cut before its commit is
   * redone whole). The scoring tables:
   *  - `postings_name`, `postings_addr` (term, doc_id, tf, len, df),
   *    bucketed by term: each row carries its field length and its term's
   *    df over both fields, so a request scores off one term-pruned scan
   *    with no join;
   *  - `len_name`, `len_addr` (doc_id, len), bucketed by doc_id: every
   *    doc's field length, zero-token docs included, for the per-field
   *    averages, the doc count and BM25+'s doc length;
   *  - `docs`, bucketed by doc_id, for the top-k hydration.
   * The vocabulary is written before the postings, which join its df.
   * Beyond the scoring tables, the MODEL artifacts
   * of the composed [[Searcher]] are persisted too — the engine twin of
   * the reference's ngram.index (ngram_lm.go:386-423), noisy_model.index
   * (spell_corrector.go:453-490) and term map (indexer.go:872-903):
   *  - `vocab` (term, freq, df), bucketed by term;
   *  - `dict` (t, term_id, lmid), bucketed by t;
   *  - `spell_nbr` — the deletion neighborhood with lmid riding along,
   *    bucketed by del_key so query probes prune;
   *  - `lm_counts` — keyed n-gram counts (n, gram_key, cnt), bucketed by
   *    gram_key so LM probes prune;
   *  - `noisy` — the noisy-channel confusion counts.
   */
  def write(spark: SparkSession, docs: DataFrame, idCol: String,
            nameCol: String, addrCol: String, dir: String,
            spellErrorLines: Iterable[String] = Nil): Unit = {
    def bucketed(name: String, key: String)(compute: (String => DataFrame) => DataFrame) =
      Table(name, bucket = Some((key, NBuckets)))(compute)
    // the vocabulary comes from the unstaged postings first, so each
    // field's staged postings carry their terms' df
    val pn = TextIndex.postingsWithLen(docs, idCol, nameCol)
    val pa = TextIndex.postingsWithLen(docs, idCol, addrCol)
    TableIO.write(spark, dir, Stage)(
      bucketed("docs", "doc_id")(_ => docs.withColumnRenamed(idCol, "doc_id")),
      bucketed("vocab", "term")(_ => SearchIndex.vocabOf(pn, pa)),
      bucketed("postings_name", "term")(t => SearchIndex.withDf(pn, t("vocab"))),
      bucketed("postings_addr", "term")(t => SearchIndex.withDf(pa, t("vocab"))),
      bucketed("len_name", "doc_id")(_ => TextIndex.fieldLengths(docs, idCol, nameCol)),
      bucketed("len_addr", "doc_id")(_ => TextIndex.fieldLengths(docs, idCol, addrCol)),
      bucketed("dict", "t")(t => Searcher.dictOf(t("vocab"))),
      bucketed("spell_nbr", "del_key")(t => Searcher.neighborhoodOf(t("vocab"), t("dict"))),
      bucketed("lm_counts", "gram_key")(t => graft.index.NGramLM.keyedCounts(
        Searcher.lmCountTables(docs, idCol, nameCol, addrCol, t("dict")))),
      Table("noisy")(_ => graft.spell.SpellCorrector.noisyToDf(spark,
        graft.spell.SpellCorrector.buildNoisyModel(spellErrorLines))))
  }

  /** A reader of the store's tables; fails unless the store is committed. */
  private def served(spark: SparkSession, dir: String): String => DataFrame = {
    require(TableIO.isComplete(dir, Stage),
      s"stage $Stage missing under $dir — run SearchIndexStore.write first")
    TableIO.reader(spark, dir, Stage)
  }

  /** Serve from the persisted artifacts (no rebuild, no in-session cache —
   *  the bucketed tables are the index). Works in a fresh session: the
   *  tables re-register from the manifest. */
  def load(spark: SparkSession, dir: String): SearchIndex = {
    val t = served(spark, dir)
    val Seq(pn, pa) = Seq("postings_name", "postings_addr").map { name =>
      val p = t(name)
      require(Seq("len", "df").forall(p.columns.contains),
        s"table $name of $dir/$Stage has columns (${p.columns.mkString(", ")}), not " +
          "(term, doc_id, tf, len, df): it was written before postings carried the " +
          "field length and df; delete the store and run SearchIndexStore.write again")
      p
    }
    new SearchIndex(t("docs"), "doc_id", "", "",
      prebuilt = Some(SearchIndex.Tables(pn, pa, t("len_name"), t("len_addr"), t("vocab"))))
  }

  /** Serve the COMPOSED [[Searcher]] from the persisted artifacts — the
   *  reference server's lifecycle (cmd/server/main.go:33-57): load, never
   *  rebuild. Every model structure stays a bucketed at-rest table; query
   *  probes prune at the scan. */
  def loadSearcher(spark: SparkSession, dir: String,
                   maxDriverVocab: Long = Searcher.DefaultMaxDriverVocab): Searcher = {
    val t = served(spark, dir)
    new Searcher(t("docs"), "doc_id", "", "",
      maxDriverVocab = maxDriverVocab,
      store = Some(Searcher.ModelTables(load(spark, dir), t("dict"), t("spell_nbr"),
        t("lm_counts"), Some(graft.spell.SpellCorrector.noisyFromDf(t("noisy"))))))
  }
}

/** Driver-side tokenizer — the exact same spec as the column version
 *  (Derived.tokens); query strings are tiny. */
object Tokenizer {
  def tokenize(s: String): Seq[String] =
    s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split("\\s+").toSeq
      .filter(_.nonEmpty)
}
