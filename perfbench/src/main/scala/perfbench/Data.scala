package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/**
 * Seeded input generators. The engine only ever sees these generated
 * tables; the same seed gives byte-identical inputs.
 *
 *  - `orders.parquet` (o_orderkey): consecutive keys from a seeded offset,
 *    the only orders column the spatial derivations
 *    ([[graft.sources.Derived.objects]], [[graft.Bench.scaledObjects]]) read;
 *  - `documents.parquet` (doc_id, text, lang, source, n_chars), the schema
 *    of the repository's test tables, over a pseudo-word vocabulary with
 *    Zipf frequencies, so spell correction has real neighbours to choose
 *    among.
 */
object Data {
  val Langs = Array("en", "en", "fr", "es", "de", "zh")

  final case class Doc(id: Long, text: String)

  /** `n` consecutive keys from a seeded offset. Consecutive, as in the
   *  repository's orders tables: the derived positions depend on the key
   *  modulo 100,000, so a contiguous block spreads rows evenly over them
   *  for every seed, where a strided key set could pile them onto a few. */
  def orderKeys(seed: Long, n: Int): Seq[Long] = {
    val offset = new scala.util.Random(seed * 31 + 7).nextInt(1 << 30).toLong
    (0 until n).map(offset + _)
  }

  def writeOrders(spark: SparkSession, dir: String, keys: Seq[Long]): Unit = {
    import spark.implicits._
    keys.toDF("o_orderkey").repartition(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  /** `v` distinct lowercase pseudo-words of 2-4 syllables. */
  def vocabulary(seed: Long, v: Int): IndexedSeq[String] = {
    val r = new scala.util.Random(seed * 131 + 3)
    val cons = "bcdfghjklmnprstvwz"; val vows = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < v) {
      val syl = 2 + r.nextInt(3)
      seen += (0 until syl).map(_ =>
        s"${cons(r.nextInt(cons.length))}${vows(r.nextInt(vows.length))}").mkString
    }
    seen.toIndexedSeq
  }

  /** Zipf(1.0) sampler over ranks 0 until n. */
  final class Zipf(n: Int, r: scala.util.Random) {
    private val cdf = {
      val w = (1 to n).map(i => 1.0 / i); val tot = w.sum
      w.scanLeft(0.0)(_ + _ / tot).tail.toArray
    }
    def next(): Int = {
      val x = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, x)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** `n` random documents of 15-50 words, ids from `firstId`. */
  def documents(seed: Long, vocab: IndexedSeq[String], n: Int, firstId: Long = 0L): Seq[Doc] = {
    val r = new scala.util.Random(seed * 977 + 11)
    val z = new Zipf(vocab.size, r)
    (0 until n).map(i => Doc(firstId + i, Seq.fill(15 + r.nextInt(36))(vocab(z.next())).mkString(" ")))
  }

  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val rows = docs.map(d => org.apache.spark.sql.Row(d.id, d.text,
      Langs((d.id % Langs.length).toInt), s"src${d.id % 20}", d.text.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  def writeDocs(spark: SparkSession, dir: String, docs: Seq[Doc]): Unit =
    docsFrame(spark, docs).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  /** One to two character edits that leave a word outside the vocabulary. */
  def misspell(w: String, vocab: Set[String], r: scala.util.Random): String = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    def edit(s: String): String = {
      val i = r.nextInt(s.length)
      r.nextInt(3) match {
        case 0 => s.updated(i, letters(r.nextInt(26)))
        case 1 if s.length > 3 => s.patch(i, "", 1)
        case _ => s.patch(i, letters(r.nextInt(26)).toString, 0)
      }
    }
    Iterator.continually {
      val once = edit(w)
      if (r.nextBoolean()) edit(once) else once
    }.find(m => m != w && !vocab.contains(m)).get
  }
}
