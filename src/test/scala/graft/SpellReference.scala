package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Brute-force references the spell-candidate paths are checked against. */
object SpellReference {
  /**
   * Edit-distance candidates from the vocabulary — the FST x Levenshtein-DFA
   * walk (spell_corrector.go:273-302) recast as a filter on the vocabulary
   * DataFrame with Spark's built-in bounded levenshtein.
   */
  def editCandidates(vocab: DataFrame, token: String, maxDist: Int): Seq[String] =
    vocab.filter(levenshtein(col("term"), lit(token), maxDist) >= 0)
      .select("term").collect().map(_.getString(0)).toSeq
}
