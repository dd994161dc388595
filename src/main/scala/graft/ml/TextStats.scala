package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Derived

/**
 * Text analysis operators for training-data curation: language ID
 * (stopword-hit heuristic), quality scoring, token counting, and document
 * fingerprinting. Every op is pure column arithmetic (codegen'd, no UDF)
 * and has an exact DuckDB SQL twin used by the verification oracle.
 */
object TextStats {

  /** Tiny per-language stopword lists (shared with the oracle SQL). */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "sich", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "pas", "pour", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "no", "por", "que"))

  def stopwordHits(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isin(words: _*)))

  /** Language ID expression: argmax of stopword hits with fixed priority on
   *  ties (en > de > fr > es); zero hits everywhere -> 'und'.
   *
   *  Branch-free formulation (optimization round): the natural when-chain
   *  references each language's hit count in several CaseWhen branches, and
   *  codegen subexpression elimination does not share subtrees across
   *  conditional branches — so the tokenizer (a regex split) re-ran ~13x
   *  per row (measured ~100 µs/row at sf0.1; x7's filter was 0.8 s for 5k
   *  rows). Encode the argmax instead: best = max_i(hits_i * 8 + prio_i)
   *  with prio en=3 > de=2 > fr=1 > es=0 — the max's winner is exactly the
   *  when-chain's priority-tie-broken argmax. All-zero hits give best = 3
   *  (the bare en priority), any hit gives best >= 8, so
   *  idx = (best >= 8) * (best mod 8 + 1) is 0 for 'und' and prio+1
   *  otherwise — every subexpression is unconditional, so the tokenizer
   *  and the four hit counts evaluate once per row.
   *
   *  NULL text gives 'es', as in the oracle's [[langIdSqlCase]]: there
   *  every hit count is NULL, so each WHEN compares NULL and the CASE falls
   *  through to ELSE 'es'. Here NULL tokens make `best` NULL, and the
   *  `coalesce` (whose first argument codegen still shares subexpressions
   *  in, unlike a CASE branch) maps it to 'es'. Empty text has no hits:
   *  'und'. */
  def langIdCol(textCol: Column): Column = {
    val toks = Derived.tokens(textCol)
    val prio = Stopwords.length - 1 to 0 by -1 // en=3, de=2, fr=1, es=0
    val best = greatest(Stopwords.zip(prio).map { case ((_, ws), p) =>
      size(filter(toks, t => t.isin(ws: _*))).cast("long") * 8 + p
    }: _*)
    coalesce(element_at(
      typedLit(Seq("und", "es", "fr", "de", "en")),
      ((best >= 8).cast("long") * (pmod(best, lit(8L)) + 1) + 1).cast("int")), lit("es"))
  }

  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), langIdCol(col(textCol)).as("lang_pred"))

  def langIdSqlCase(textExpr: String): String = {
    def hits(ws: Seq[String]) =
      s"len(list_filter(${Derived.tokensSql(textExpr)}, t -> t IN (${ws.map(w => s"'$w'").mkString(",")})))"
    val h = Stopwords.map { case (l, ws) => l -> hits(ws) }.toMap
    s"""CASE WHEN ${h("en")} + ${h("de")} + ${h("fr")} + ${h("es")} = 0 THEN 'und'
       | WHEN ${h("en")} >= ${h("de")} AND ${h("en")} >= ${h("fr")} AND ${h("en")} >= ${h("es")} THEN 'en'
       | WHEN ${h("de")} >= ${h("fr")} AND ${h("de")} >= ${h("es")} THEN 'de'
       | WHEN ${h("fr")} >= ${h("es")} THEN 'fr'
       | ELSE 'es' END""".stripMargin
  }

  /**
   * Quality signals per doc: token count, mean token length, punctuation
   * ratio, stopword ratio (en), digit ratio — and a composite score in
   * [0, 1] = clamp(0.25*sw + 0.25*(1-punct) + 0.25*(1-digit) +
   * 0.25*min(1, n_tokens/64)). All quantized 1e-4 for hash-stable compare.
   */
  /** The composite quality score in [0, 1] as a column — shared by
   *  [[quality]] and the curation filter ([[Curation]]). */
  def qualityScoreCol(t: Column): Column = {
    val toks = Derived.tokens(t)
    val nTok = size(toks).cast("double")
    val punct = size(regexp_extract_all(t, lit("[.!?,;:]"), lit(0))).cast("double") /
      greatest(length(t).cast("double"), lit(1.0))
    val digit = size(regexp_extract_all(t, lit("[0-9]"), lit(0))).cast("double") /
      greatest(length(t).cast("double"), lit(1.0))
    // branch-free guard (the langIdCol CSE rationale): hits/max(n,1) equals
    // the when(n > 0, hits/n).otherwise(0) form exactly — zero tokens imply
    // zero hits — and keeps the tokenizer subexpression unconditional so
    // codegen evaluates it once per row
    val sw = stopwordHits(toks, Stopwords.head._2).cast("double") /
      greatest(nTok, lit(1.0))
    least(lit(1.0),
      lit(0.25) * sw + lit(0.25) * (lit(1.0) - punct) + lit(0.25) * (lit(1.0) - digit) +
        lit(0.25) * least(lit(1.0), nTok / 64.0))
  }

  def quality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = Derived.tokens(t)
    val nTok = size(toks).cast("double")
    // max(n,1) guards: exact for n = 0 (empty sums/hits), branch-free so
    // the tokenizer stays one CSE'd evaluation (see qualityScoreCol)
    val meanLen = aggregate(toks, lit(0.0), (a, x) => a + length(x)) /
      greatest(nTok, lit(1.0))
    val punct = size(regexp_extract_all(t, lit("[.!?,;:]"), lit(0))).cast("double") /
      greatest(length(t).cast("double"), lit(1.0))
    val sw = stopwordHits(toks, Stopwords.head._2).cast("double") /
      greatest(nTok, lit(1.0))
    docs.select(col(idCol).as("doc_id"),
      nTok.cast("long").as("n_tokens"),
      Derived.q4(meanLen).as("mean_len4"),
      Derived.q4(punct).as("punct4"),
      Derived.q4(sw).as("stop4"),
      Derived.q4(qualityScoreCol(t)).as("quality4"))
  }

  /** DuckDB twin of [[qualityScoreCol]] (the raw double score). */
  def qualityScoreSql(textExpr: String): String = {
    val toks = Derived.tokensSql(textExpr)
    val nTok = s"CAST(len($toks) AS DOUBLE)"
    val punct = s"(len(regexp_extract_all($textExpr, '[.!?,;:]')) / greatest(CAST(len($textExpr) AS DOUBLE), 1.0))"
    val digit = s"(len(regexp_extract_all($textExpr, '[0-9]')) / greatest(CAST(len($textExpr) AS DOUBLE), 1.0))"
    val en = Stopwords.head._2.map(w => s"'$w'").mkString(",")
    val sw = s"(CASE WHEN $nTok > 0 THEN len(list_filter($toks, t -> t IN ($en))) / $nTok ELSE 0.0 END)"
    s"least(1.0, 0.25*$sw + 0.25*(1.0-$punct) + 0.25*(1.0-$digit) + 0.25*least(1.0, $nTok/64.0))"
  }

  def qualitySqlSelect(textExpr: String): Seq[String] = {
    val toks = Derived.tokensSql(textExpr)
    val nTok = s"CAST(len($toks) AS DOUBLE)"
    val meanLen = s"(CASE WHEN $nTok > 0 THEN list_sum(list_transform($toks, x -> len(x))) / $nTok ELSE 0.0 END)"
    val punct = s"(len(regexp_extract_all($textExpr, '[.!?,;:]')) / greatest(CAST(len($textExpr) AS DOUBLE), 1.0))"
    val en = Stopwords.head._2.map(w => s"'$w'").mkString(",")
    val sw = s"(CASE WHEN $nTok > 0 THEN len(list_filter($toks, t -> t IN ($en))) / $nTok ELSE 0.0 END)"
    val score = qualityScoreSql(textExpr)
    Seq(
      s"CAST($nTok AS BIGINT) AS n_tokens",
      s"${Derived.q4Sql(meanLen)} AS mean_len4",
      s"${Derived.q4Sql(punct)} AS punct4",
      s"${Derived.q4Sql(sw)} AS stop4",
      s"${Derived.q4Sql(score)} AS quality4")
  }

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
   *  ([a-z0-9]+ runs and single non-space symbols over the lowercased text). */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(Derived.tokens(col(textCol))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(lower(col(textCol)),
        lit("[a-z0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("bpe_tokens"))

  def tokenCountsSqlSelect(textExpr: String): Seq[String] = Seq(
    s"CAST(len(${Derived.tokensSql(textExpr)}) AS BIGINT) AS ws_tokens",
    s"CAST(len(regexp_extract_all(lower($textExpr), '[a-z0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens")

  /** Position-weighted checksum fingerprint mod 1e9+7 — deterministic and
   *  SQL-twinable (sum over chars of ascii(c_i) * i). */
  val FpMod = 1000000007L
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = lower(col(textCol))
    val fp = aggregate(
      transform(sequence(lit(1), length(t)), i => ascii(t.substr(i, lit(1))).cast("long") * i),
      lit(0L), (a, x) => a + x) % FpMod
    docs.select(col(idCol).as("doc_id"), fp.as("fingerprint"))
  }

  def fingerprintSql(textExpr: String): String =
    s"CAST(list_sum(list_transform(range(1, len(lower($textExpr)) + 1), " +
      s"i -> CAST(ascii(substr(lower($textExpr), CAST(i AS INTEGER), 1)) AS BIGINT) * i)) % $FpMod AS BIGINT)"

  /**
   * Within-document repetition signal (Gopher-style duplicate-n-gram
   * fraction): rep4 = 1 - distinct/total over the doc's word 3-grams,
   * quantized 1e-4. High values flag boilerplate / looping generations.
   * Docs with fewer than 3 tokens emit n3 = 0, rep4 = 0. Pure per-row
   * column arithmetic — no shuffle, codegen'd, exact in both engines
   * (the ratio is one IEEE division of small ints).
   */
  /** Duplicate-3-gram fraction as a column — shared by [[repetition]] and
   *  the curation filter ([[Curation]]). */
  def repetitionCol(textCol: Column): Column = {
    val t = Derived.tokens(textCol)
    val grams = transform(sequence(lit(1), size(t) - 2), i => concat_ws(" ",
      element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))
    when(size(t) >= 3,
      lit(1.0) - size(array_distinct(grams)).cast("double") / (size(t) - 2))
      .otherwise(lit(0.0))
  }

  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = Derived.tokens(col(textCol))
    val n3 = when(size(t) >= 3, (size(t) - 2).cast("long")).otherwise(lit(0L))
    docs.select(col(idCol).as("doc_id"), n3.as("n3"),
      Derived.q4(repetitionCol(col(textCol))).as("rep4"))
  }

  def repetitionSqlSelect(textExpr: String): Seq[String] = {
    val t = Derived.tokensSql(textExpr)
    val g = s"list_transform(range(1, len($t) - 1), i -> " +
      s"$t[CAST(i AS INTEGER)] || ' ' || $t[CAST(i AS INTEGER) + 1] || ' ' || $t[CAST(i AS INTEGER) + 2])"
    Seq(
      s"CASE WHEN len($t) >= 3 THEN CAST(len($t) - 2 AS BIGINT) ELSE 0 END AS n3",
      s"${Derived.q4Sql(s"CASE WHEN len($t) >= 3 THEN 1.0 - CAST(len(list_distinct($g)) AS DOUBLE) / (len($t) - 2) ELSE 0.0 END")} AS rep4")
  }

  /** Conservative ASCII-only patterns chosen to behave identically under
   *  Java regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround, no
   *  unicode classes. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumberPattern = "[0-9]{3,}"

  /**
   * PII / identifier scrubbing — the standard curation redaction step:
   * emails -> <EMAIL>, digit runs of 3+ -> <NUM>. Pure per-row
   * `regexp_replace` chain (codegen'd, no shuffle) with a byte-identical
   * DuckDB twin (x8). Order matters: emails first, so an address with a
   * numeric local part is one <EMAIL>, not part-<NUM>.
   */
  def redact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      regexp_replace(
        regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
        LongNumberPattern, "<NUM>").as("redacted"))

  def redactSql(textExpr: String): String =
    s"regexp_replace(regexp_replace($textExpr, '$EmailPattern', '<EMAIL>', 'g'), " +
      s"'$LongNumberPattern', '<NUM>', 'g')"

  /** Stupid-backoff discount (same constant as the reference's query LM,
   *  ngram_lm.go stupidBackoff / SURVEY F14). */
  val LmAlpha = 0.4

  /**
   * Corpus-LM quality score: per-document average log10-probability under a
   * bigram stupid-backoff model built over the SAME corpus — the standard
   * LLM training-data quality filter (low avg log-prob = boilerplate-free /
   * unusual text; near-zero = repetitive junk).
   *
   * P(w_i | w_{i-1}) = c(w_{i-1}, w_i) / c(w_{i-1}) when the bigram occurs,
   * else LmAlpha * c(w_i) / N; the first token scores unigram c(w)/N. OOV
   * cannot occur (corpus model over the scored corpus itself).
   *
   * Scale shape: counts are two groupBy shuffles (vocab- and bigram-
   * cardinality, partial-agg compacted); scoring is equi-joins of the token
   * stream against those counts — no driver-side model, unlike the search
   * LM which is bounded-vocab by contract. Docs with zero tokens produce no
   * output row (no probability is defined), identical in the SQL twin.
   *
   * Output: (doc_id, n_tokens, avg_lp4) — avg log-prob quantized 1e-4.
   */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    lmScoreAgainst(docs, docs, idCol, textCol)

  /** [[lmScore]] generalized to a separate count corpus (score NEW documents
   *  against an existing model — the production filter shape). Backoff and
   *  OOV floors then genuinely fire:
   *  P_uni(w) = c(w)/N, or LmAlpha/N when w is unseen;
   *  P(w|v)   = c(v,w)/c(v) when the bigram is seen, else LmAlpha * P_uni(w).
   *  On corpus-self scoring both fallbacks are provably dead (every scored
   *  bigram occurs in its own counts), which is what keeps the x5 oracle's
   *  SQL twin simple. */
  def lmScoreAgainst(docs: DataFrame, corpus: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    def stream(src: DataFrame) = {
      val toks = Derived.tokens(col(textCol))
      // (doc_id, term, prev) — prev is null for the first token; the pair
      // stream is built from the token array in-place (no window shuffle)
      src.select(col(idCol).as("doc_id"), toks.as("p"))
        .filter(size(col("p")) >= 1)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(p)), i -> struct(element_at(p, i) AS term, " +
            "IF(i = 1, CAST(NULL AS STRING), element_at(p, i - 1)) AS prev))")).as("s"))
        .select(col("doc_id"), col("s.term"), col("s.prev"))
    }
    val corpusStream = stream(corpus)
    val uni = corpusStream.groupBy("term").agg(count(lit(1)).as("c"))
    // N = sum of unigram counts: one extra unigram-aggregation job up
    // front (deliberately NOT .cache()d — a cache pinned inside a library
    // call leaks storage memory for the session's lifetime with no owner
    // to unpersist it; callers scoring repeatedly should persist the
    // corpus token stream themselves). An empty corpus degenerates to N=1
    // so the OOV floor stays defined (the scored side is then judged
    // entirely by the alpha floors).
    val n = Option(uni.agg(sum("c")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(1L)
    val big = corpusStream.filter(col("prev").isNotNull)
      .groupBy(col("prev").as("w1"), col("term").as("w2"))
      .agg(count(lit(1)).as("c12"))
    val pUni = when(col("c2").isNotNull, col("c2") / n).otherwise(lit(LmAlpha) / n)
    val p = when(col("prev").isNull, pUni)
      .when(col("c12").isNotNull, col("c12") / col("c1"))
      .otherwise(lit(LmAlpha) * pUni)
    stream(docs)
      .join(uni.select(col("term"), col("c").as("c2")), Seq("term"), "left")
      .join(uni.select(col("term").as("prev"), col("c").as("c1")), Seq("prev"), "left")
      .join(big, col("prev") === col("w1") && col("term") === col("w2"), "left")
      .select(col("doc_id"), log10(p).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), Derived.q4(avg("lp")).as("avg_lp4"))
  }

  /** DuckDB twin of [[lmScore]] — assumes the `doc_terms` CTE
   *  (doc_id, pos, term) from [[Derived.docTermsSqlCte]] is in scope. */
  val lmScoreSql: String =
    s"""uni AS (SELECT term, COUNT(*) AS c FROM doc_terms GROUP BY 1),
       |nn AS (SELECT COUNT(*) AS n FROM doc_terms),
       |big AS (SELECT a.term AS w1, b.term AS w2, COUNT(*) AS c12
       |  FROM doc_terms a JOIN doc_terms b
       |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT t.doc_id,
       |    log10(CASE
       |      WHEN t.pos = 0 THEN CAST(u2.c AS DOUBLE) / (SELECT n FROM nn)
       |      WHEN bg.c12 IS NOT NULL THEN CAST(bg.c12 AS DOUBLE) / u1.c
       |      ELSE CAST($LmAlpha AS DOUBLE) * u2.c / (SELECT n FROM nn) END) AS lp
       |  FROM doc_terms t
       |  JOIN uni u2 ON u2.term = t.term
       |  LEFT JOIN doc_terms prev ON prev.doc_id = t.doc_id AND prev.pos = t.pos - 1
       |  LEFT JOIN uni u1 ON u1.term = prev.term
       |  LEFT JOIN big bg ON bg.w1 = prev.term AND bg.w2 = t.term)
       |SELECT doc_id, COUNT(*) AS n_tokens, ${Derived.q4Sql("AVG(lp)")} AS avg_lp4
       |FROM scored GROUP BY doc_id""".stripMargin

  /**
   * Exact per-group quantiles of a bounded-domain integer column via the
   * VALUE HISTOGRAM: one corpus-scale shuffle (groupBy (group, value)),
   * then a cumulative window over the histogram — at most groups × |domain|
   * rows, corpus-size-INDEPENDENT. The textbook alternative
   * (partitionBy(group).orderBy(value) over the raw rows) puts an entire
   * group in one task: at 10^12 rows one dominant language serializes the
   * job. Quantiles are nearest-rank — value at rank ceil(p·n), tested as
   * cum·den >= n·num in pure integer arithmetic (no float interpolation,
   * no rounding boundary) — so results are bit-exact cross-engine.
   *
   * `ps` are (numerator, denominator) rationals, 0 < num <= den. Output:
   * (group, n, p<num>_<den>...).
   */
  def groupQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     ps: Seq[(Int, Int)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ps.nonEmpty && ps.forall { case (nu, de) => nu > 0 && nu <= de },
      s"quantiles must be rationals in (0, 1]: $ps")
    val hist = df.groupBy(col(groupCol), col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val totals = hist.groupBy(col(groupCol)).agg(sum(col("c")).as("n"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(totals), Seq(groupCol))
    val qs = ps.map { case (nu, de) =>
      // cum >= ceil(n·nu/de)  ⟺  cum·de >= n·nu  (integers)
      min(when(col("cum") * de >= col("n") * nu, col("v"))).as(s"p${nu}_$de")
    }
    val aggs = max(col("n")).as("n") +: qs
    cum.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Exact per-group quantiles over an UNBOUNDED (continuous) value domain —
   * the general path [[groupQuantiles]]'s bounded-integer contract can't
   * serve. Same nearest-rank semantics (value at rank ceil(p·n), tested as
   * cum·den >= n·num in integer count arithmetic — the VALUE stays a
   * double, only counts are integers), different cumulative machinery:
   *
   *  1. value histogram groupBy(group, v) — with continuous values this can
   *     stay raw-data-sized, which is fine for a SHUFFLE (distributed) but
   *     fatal for a per-group window (one task per group);
   *  2. the cumulative count comes from [[Packing]]'s two-pass distributed
   *     prefix scan instead of `Window.partitionBy(group)`: range-partition
   *     the histogram by (group, v) and materialize ONCE (partition ids are
   *     only meaningful against one concrete shuffle output), aggregate
   *     per-(partition, group) subtotals — at most numPartitions + groups
   *     rows, corpus-size-independent — and prefix/total them via a self-join
   *     over THAT tiny table; per-partition running sums then run fully
   *     parallel (window keyed by (pid, group): bounded by the range
   *     partition's size, never by a group's);
   *  3. the subtotal table broadcast-joins back, and the final selection is
   *     one groupBy(group) aggregate.
   *
   * A mega-group spanning the whole corpus is split across range partitions
   * — no task ever owns more than one partition's slice of it (spec'd via
   * a plan assertion: every Window partitions by pid). NULL values are
   * excluded (SQL aggregate convention); NaN is not supported (Spark and
   * DuckDB order NaN differently). Output: (group, n, p<num>_<den>... as
   * double).
   */
  def groupQuantilesGeneral(df: DataFrame, groupCol: String, valueCol: String,
                            ps: Seq[(Int, Int)], numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ps.nonEmpty && ps.forall { case (nu, de) => nu > 0 && nu <= de },
      s"quantiles must be rationals in (0, 1]: $ps")
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
            else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val hist = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(valueCol).cast("double").as("v"))
      .agg(count(lit(1)).as("c"))
    val ranged = hist.repartitionByRange(n, col("grp"), col("v"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    // per-(partition, group) subtotals: <= numPartitions + groups rows (a
    // range partition holds a contiguous run of groups), so the windows
    // below are over a bounded table, not the data
    val partials = ranged.groupBy(col("pid"), col("grp")).agg(sum(col("c")).as("t"))
    // exclusive prefix + group total via a subtotal-table self-join (not a
    // window: the ONLY windows in this plan partition by pid — asserted in
    // SketchSpec; a join over <= (numPartitions + groups)^2 / groups rows
    // is noise)
    val offs = partials
      .join(partials.select(col("pid").as("pid2"), col("grp"), col("t").as("t2")),
        Seq("grp"))
      .groupBy(col("pid"), col("grp"))
      .agg(sum(when(col("pid2") < col("pid"), col("t2")).otherwise(lit(0L))).as("off"),
        sum(col("t2")).as("n"))
    val local = Window.partitionBy(col("pid"), col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ranged.withColumn("lc", sum(col("c")).over(local))
      .join(broadcast(offs), Seq("pid", "grp"))
      .withColumn("cum", col("lc") + col("off"))
    val qs = ps.map { case (nu, de) =>
      min(when(col("cum") * de >= col("n") * nu, col("v"))).as(s"p${nu}_$de")
    }
    val aggs = max(col("n")).as("n") +: qs
    cum.groupBy(col("grp").as(groupCol)).agg(aggs.head, aggs.tail: _*)
  }
}
