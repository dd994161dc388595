package graft.spell

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed edit-distance candidate generation via deletion
 * neighborhoods (SymSpell-style) — the web-scale path for the reference's
 * FST x Levenshtein-DFA walk
 * (/root/reference/pkg/searcher/spell_corrector.go:273-302).
 *
 * The driver-held vocabulary scan (`Searcher.DriverVocab`) applies
 * `levenshtein(term, token)` to every term — fine at the reference's OSM
 * vocabulary but a real ceiling when the vocabulary of a 100-TB caption
 * corpus is not driver- or scan-per-query-sized. The neighborhood recasts
 * it as an index lookup:
 *
 *  - INDEX TIME: every vocab term is exploded into its <=maxDel-deletion
 *    variants — (del_key, term, freq), ~(1 + L + L^2/2) rows per term —
 *    one distributed projection, persisted bucketed/sorted by del_key so
 *    query-time lookups prune (SymSpell's guarantee: lev(a,b) <= d implies
 *    the depth-d deletion neighborhoods of a and b intersect).
 *  - QUERY TIME: the token's own <=maxDel variants (a few dozen strings)
 *    select matching neighborhood rows by EQUALITY — pushdown-friendly
 *    `del_key IN (...)` instead of a vocabulary scan — and the exact
 *    `levenshtein` refine removes the false positives the intersection
 *    admits. No vocabulary collect, no full scan; per-token cost is
 *    O(|neighborhood(token)|) index probes.
 */
object SpellJoin {

  val MaxDeletes = 2

  /** 1-deletion variants of a string column, as an array (length n). */
  private def del1(t: Column): Column =
    transform(sequence(lit(1), length(t)), i =>
      concat(t.substr(lit(1), i - 1), t.substr(i + 1, length(t))))

  /** All distinct <=maxDel-deletion variants of `t`, including `t` itself.
   *  Pure column arithmetic (codegen'd) — no UDF. */
  def deletionVariantsCol(t: Column, maxDel: Int = MaxDeletes): Column = {
    require(maxDel >= 1 && maxDel <= 2, "deletion neighborhoods supported for maxDel 1..2")
    val d1 = del1(t)
    val all =
      if (maxDel == 1) concat(array(t), d1)
      else concat(array(t), d1, flatten(transform(d1, v => del1(v))))
    array_distinct(all)
  }

  /** Driver-side mirror of [[deletionVariantsCol]] for query tokens. */
  def deletionVariants(term: String, maxDel: Int = MaxDeletes): Seq[String] = {
    def d1(s: String): Seq[String] = s.indices.map(i => s.substring(0, i) + s.substring(i + 1))
    val one = d1(term)
    val out = if (maxDel == 1) term +: one else (term +: one) ++ one.flatMap(d1)
    out.distinct
  }

  /**
   * The deletion-neighborhood table of a vocabulary: (del_key, term, freq),
   * one row per (term, variant). Build once at index time; persist with
   * `TableIO.bucketedStage(..., key = "del_key", ...)` so query-time key
   * lookups are partition-pruned at 10^9-term scale.
   */
  def neighborhood(vocab: DataFrame, maxDel: Int = MaxDeletes): DataFrame =
    vocab.select(col("term"), col("freq"),
        explode(deletionVariantsCol(col("term"), maxDel)).as("del_key"))
      .select(col("del_key"), col("term"), col("freq"))

  /**
   * Edit-distance <= maxDist candidates of `token` from the neighborhood
   * table: key-equality probe + exact levenshtein refine. Returns
   * (term, freq, dist) — the same shape (and, by the SymSpell property,
   * the same rows) as a brute-force `levenshtein` scan of the vocabulary /
   * the t4_spell query.
   */
  def candidates(neighborhood: DataFrame, token: String, maxDist: Int = MaxDeletes): DataFrame = {
    require(maxDist <= MaxDeletes, s"neighborhood is built for <=$MaxDeletes deletions")
    val keys = deletionVariants(token, maxDist)
    neighborhood
      .filter(col("del_key").isin(keys: _*))
      .select(col("term"), col("freq")).distinct()
      .withColumn("dist", levenshtein(col("term"), lit(token), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
  }

  /** One candidate row of [[candidatesBatch]]; `lmid` is populated when the
   *  probed neighborhood carries an `lmid` column (the Searcher's build
   *  joins it in so LM ids ride along with the candidates — no second
   *  lookup job per request). */
  case class Cand(term: String, freq: Long, dist: Int, lmid: Option[Long])

  /**
   * ALL tokens of a request probed in ONE job: the union of every token's
   * deletion variants selects neighborhood rows by key equality (a single
   * pushdown-friendly `del_key IN (...)` scan), and the per-token exact
   * levenshtein refine runs driver-side over the collected candidate rows
   * — request-scale, like the reference's per-query candidate list. Row
   * sets per token are IDENTICAL to [[candidates]] (asserted in
   * SpellJoinSpec); the difference is one Spark job per request instead of
   * one (or more) per token.
   */
  def candidatesBatch(neighborhood: DataFrame, tokens: Seq[String],
                      maxDist: Int = MaxDeletes): Map[String, Seq[Cand]] = {
    require(maxDist <= MaxDeletes, s"neighborhood is built for <=$MaxDeletes deletions")
    if (tokens.isEmpty) return Map.empty
    val perToken = tokens.distinct.map(t => t -> deletionVariants(t, maxDist))
    val allKeys = perToken.flatMap(_._2).distinct
    val hasLmid = neighborhood.columns.contains("lmid")
    val cols = if (hasLmid) Seq("del_key", "term", "freq", "lmid")
      else Seq("del_key", "term", "freq")
    // no distributed distinct: neighborhood rows are unique per
    // (term, variant) by construction, and the per-token refine below
    // dedups driver-side — a distinct() here would add a shuffle and,
    // under AQE, a second Spark job to what is otherwise ONE scan
    val rows = neighborhood.filter(col("del_key").isin(allKeys: _*))
      .select(cols.head, cols.tail: _*)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (hasLmid) Some(r.getLong(3)) else None))
    val byKey = rows.groupBy(_._1)
    perToken.map { case (t, keys) =>
      val cands = keys.flatMap(k => byKey.getOrElse(k, Array.empty))
        .map { case (_, term, freq, lmid) => (term, freq, lmid) }.distinct
        .flatMap { case (term, freq, lmid) =>
          val d = levenshteinBounded(term, t, maxDist)
          if (d >= 0) Some(Cand(term, freq, d, lmid)) else None
        }
      t -> cands
    }.toMap
  }

  /** Driver-side bounded levenshtein with the same contract as Spark's
   *  `levenshtein(l, r, bound)`: the distance, or -1 when it exceeds
   *  `bound`. Classic DP over two rows; candidate terms are short. */
  def levenshteinBounded(a: String, b: String, bound: Int): Int = {
    if (math.abs(a.length - b.length) > bound) return -1
    var prev = Array.tabulate(b.length + 1)(identity)
    var curr = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      curr(0) = i
      var rowMin = i
      var j = 1
      while (j <= b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        curr(j) = math.min(math.min(prev(j) + 1, curr(j - 1) + 1), prev(j - 1) + cost)
        rowMin = math.min(rowMin, curr(j))
        j += 1
      }
      if (rowMin > bound) return -1
      val t = prev; prev = curr; curr = t
      i += 1
    }
    if (prev(b.length) <= bound) prev(b.length) else -1
  }
}
