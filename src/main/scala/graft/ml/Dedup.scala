package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Document deduplication for large-scale training-data pipelines:
 * exact (hash groupBy), n-gram Jaccard, MinHash+LSH, SimHash.
 *
 * Scale notes:
 *  - exact: one shuffle on the text hash; map-side partial agg compacts.
 *  - n-gram Jaccard is the *exact* oracle-checkable path; its shingle
 *    self-join explodes on hot shingles, so at scale it runs behind the
 *    MinHash LSH prefilter (candidates only) — `jaccardPairs(prefiltered)`.
 *  - MinHash: signatures are a single groupBy(doc).agg(16 x min) — one
 *    shuffle; banding turns the quadratic pair search into an equi-join on
 *    (band_idx, band_key).
 *  - SimHash: 64-bit signature via bit-contribution explode + groupBy;
 *    near-dup banding over 4 x 16-bit sub-keys (any equal sub-key =>
 *    hamming-distance candidate; exact for hamming <= 3 by pigeonhole over
 *    4 bands).
 */
object Dedup {

  /** Exact dedup: one row per distinct text with the kept (min) id and the
   *  duplicate count. Deterministic keep rule (min id) — the reference's
   *  arrival-order dedup (indexer.go:582-618) is order-sensitive; see
   *  SURVEY.md P4 for the documented divergence. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(col(textCol).as("text"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))

  /**
   * Same-name bbox-containment dedup — the reference's actual P4 semantics
   * (isWayDuplicateCheck / isNodeDuplicateCheck,
   * /root/reference/pkg/index/indexer.go:582-618): an object is a duplicate
   * of a same-name object whose bounding box contains it, or which it
   * contains (contain || inverseContain, indexer.go:594-604). The reference
   * dedups in ARRIVAL order against a growing name->bbox map — order-
   * dependent and non-distributable; the deterministic re-expression keeps,
   * per object, the SMALLEST id among its same-name containment partners
   * (itself included), so keep_id == id marks cluster representatives.
   *
   * Input columns: id, name, lat_min, lat_max, lon_min, lon_max.
   * Output: (id, keep_id), one row per input object.
   *
   * Scale: one shuffle on `name`; the per-name candidate set is the
   * real-world bound (street-name multiplicity). A skewed name can reuse
   * graft.pipeline.Skew salting; a bbox-prefix (cell of the bbox center)
   * can be appended to the join key to shrink giant name groups.
   */
  def spatialClusters(objs: DataFrame): DataFrame = {
    val cols = Seq("id", "name", "lat_min", "lat_max", "lon_min", "lon_max")
    val a = objs.select(cols.map(c => col(c).as(s"a_$c")): _*)
    val b = objs.select(cols.map(c => col(c).as(s"b_$c")): _*)
    def contains(p: String, o: String): Column =
      col(s"${p}_lat_min") <= col(s"${o}_lat_min") &&
        col(s"${p}_lat_max") >= col(s"${o}_lat_max") &&
        col(s"${p}_lon_min") <= col(s"${o}_lon_min") &&
        col(s"${p}_lon_max") >= col(s"${o}_lon_max")
    a.join(b, col("a_name") === col("b_name"))
      .filter(contains("b", "a") || contains("a", "b"))
      .groupBy(col("a_id").as("id"))
      .agg(min(col("b_id")).as("keep_id"))
  }

  /** (doc_id, shingle) exploded pairs. The lowercasing is materialized in
   *  its OWN projection before the shingle lambda — `t.substr(i, n)` inside
   *  `transform` re-evaluates its receiver per position, so inlining
   *  `lower(text)` there re-ran it ~n_chars times per document (the
   *  spanTable lambda hazard; same fix). */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), lower(col(textCol)).as("lt"))
      .select(col("doc_id"), explode(shinglesLowered(col("lt"), n)).as("shingle"))

  /** Character n-gram shingle array (distinct), lowercase. Empty when the
   *  text is shorter than n. Column-level form — when applied over a
   *  DataFrame, prefer [[shingleTable]]'s barrier projection (see its
   *  scaladoc). */
  def shingles(c: Column, n: Int): Column = shinglesLowered(lower(c), n)

  /** Shingle array over an ALREADY-lowercased column. */
  private def shinglesLowered(t: Column, n: Int): Column =
    when(length(t) >= n,
      array_distinct(transform(sequence(lit(1), length(t) - (n - 1)),
        i => t.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Exact n-gram Jaccard near-dup pairs with similarity >= `threshold`.
   *  Output: (id1, id2, sim4) with id1 < id2, sim quantized 1e-4. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double): DataFrame = {
    // deliberately NOT .cache()d (the project cache rule, TextStats.lmScore):
    // a cache pinned inside a library call leaks storage memory for the
    // session's lifetime with no owner to unpersist it. The shingle explode
    // is recomputed per join branch — callers running the refine repeatedly
    // over the same candidate set should persist `docs` (or the prefiltered
    // shingle table) themselves and keep ownership of the unpersist.
    val sh = shingleTable(docs, idCol, textCol, n)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = sh.toDF("id1", "shingle")
      .join(sh.toDF("id2", "shingle"), Seq("shingle"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    common
      .join(sizes.toDF("id1", "sz1"), Seq("id1"))
      .join(sizes.toDF("id2", "sz2"), Seq("id2"))
      .withColumn("sim", col("inter").cast("double") /
        (col("sz1") + col("sz2") - col("inter")))
      .filter(col("sim") >= threshold)
      .select(col("id1"), col("id2"),
        round(col("sim") * 10000).cast("long").as("sim4"))
  }

  /**
   * Exact Jaccard refine over a CANDIDATE pair list (the production shape:
   * banding prefilters, this verifies) — intersection counts are computed
   * only for the given pairs, never all-pairs. Output: (id1, id2) of pairs
   * with shingle-Jaccard >= threshold.
   *
   * Plan contract: the shingle table derived from `docs` appears in SIX
   * plan positions (both sides of the intersection join + four size
   * lookups), so `docs` is evaluated up to 6x — pass a MATERIALIZED
   * (checkpointed) frame whenever its subtree is expensive (unions,
   * bucketed reads, other joins). Curation and Incremental both do;
   * measured: an un-materialized union input grew the incremental
   * ingest's refine by ~60 s per embedded state stage (BENCH.md,
   * ScaleIncrNear). `pairs` must be DISTINCT — duplicate pairs double-
   * count intersections and inflate the computed similarity.
   *
   * Formulation note (optimization round): an un-exploded variant that
   * attaches per-doc shingle SETS to each pair and intersects with
   * `size(array_intersect)` was measured 2.6x SLOWER (18.5 s vs 6.8 s on
   * 167k candidate pairs) despite shipping far
   * fewer rows — the per-pair array materialization and intersect eval
   * lose to the exploded join + count aggregate, whose every operator is
   * whole-stage-codegen'd. Keeping the exploded form is the measured
   * choice, not an oversight.
   */
  def jaccardRefine(docs: DataFrame, idCol: String, textCol: String,
                    n: Int, threshold: Double, pairs: DataFrame): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol, n)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // Size-ratio prefilter (guide §3.2: shrink the big join's input with a
    // cheap exact precondition): |A∩B| <= min(|A|,|B|) and |A∪B| >=
    // max(|A|,|B|), so J(A,B) <= min/max — a pair whose shingle-count ratio
    // is below the threshold can NEVER refine and is dropped before its
    // shingles are exploded into the intersection join. No false negatives:
    // real x <= y implies fl(x) <= fl(y) for correctly-rounded division, so
    // every pair the final double-compare admits passes this one. Each
    // dropped pair saves ~|shingles(id1)| exploded join rows; measured on
    // the d11-shaped corpus (1k docs, 167k banding pairs, threshold 0.7)
    // the cut is 19% of pairs / 17% of exploded rows (SzProbe) — banding
    // already correlates sizes, so the win is a constant factor here, but
    // on corpora with length-skewed hot buckets (boilerplate headers in
    // crawls) the dropped fraction is the dominant one.
    val szOk = pairs.select(col("id1"), col("id2"))
      .join(sizes.toDF("id1", "sz1"), Seq("id1"))
      .join(sizes.toDF("id2", "sz2"), Seq("id2"))
      .filter(least(col("sz1"), col("sz2")).cast("double") /
        greatest(col("sz1"), col("sz2")) >= threshold)
      .select(col("id1"), col("id2"))
    szOk
      .join(sh.toDF("id1", "shingle"), Seq("id1"))
      .join(sh.toDF("id2", "shingle"), Seq("id2", "shingle"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("id1", "sz1"), Seq("id1"))
      .join(sizes.toDF("id2", "sz2"), Seq("id2"))
      .filter(col("inter").cast("double") /
        (col("sz1") + col("sz2") - col("inter")) >= threshold)
      .select(col("id1"), col("id2"))
  }

  /** MinHash parameters shared with the DuckDB oracle SQL — keep in sync. */
  object MinHash {
    val P = 1000000007L
    val NumHashes = 16
    val BandSize = 4
    /** deterministic (a, b) per hash, derived from small primes */
    val A: Seq[Long] = (0 until NumHashes).map(i => (2L * i + 1) * 104729L % P)
    val B: Seq[Long] = (0 until NumHashes).map(i => (i + 1) * 7919L % P)

    /** 3-char shingle -> int code, identical in Spark and DuckDB:
     *  ascii(c1)*65536 + ascii(c2)*256 + ascii(c3). */
    def codeCol(sh: Column): Column =
      ascii(substring(sh, 1, 1)) * 65536 + ascii(substring(sh, 2, 1)) * 256 +
        ascii(substring(sh, 3, 1))
    def codeSql(sh: String): String =
      s"(ascii(substr($sh,1,1))*65536 + ascii(substr($sh,2,1))*256 + ascii(substr($sh,3,1)))"
  }

  /** MinHash signatures: (doc_id, h0..h15) — one shuffle. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import MinHash._
    val sh = shingleTable(docs, idCol, textCol, 3)
      .withColumn("code", codeCol(col("shingle")).cast("long"))
    val aggs = (0 until NumHashes).map(i =>
      min((col("code") * A(i) + B(i)) % P).as(s"h$i"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: docs sharing any of the 4 bands of 4 hashes.
   *
   *  `maxBucket`: skip band buckets holding more than this many docs — the
   *  standard discriminativeness bound for over-dense buckets. A bucket of
   *  B docs forms B(B-1)/2 pairs; on templated corpora a handful of hot
   *  buckets otherwise dominate the whole join quadratically (measured:
   *  the uncapped x9 curation pair join was 337 s at sf0.1, the capped one
   *  seconds), and a bucket shared by thousands of documents carries no
   *  near-dup signal. True near-dups above the banding threshold collide
   *  in several independent bands, so they survive unless every one of
   *  their buckets is hot. None = exact banding semantics (d3/d6). */
  /** Banded LSH keys from a [[minhashSignatures]] table: one
   *  (doc_id, band, band_key) row per band — the probe/index layout shared
   *  by [[minhashCandidates]] and the incremental near-dup state
   *  ([[Incremental.ingestMinhash]]). */
  def minhashBands(signatures: DataFrame): DataFrame = {
    import MinHash._
    val nBands = NumHashes / BandSize
    (0 until nBands).map { b =>
      val key = concat_ws(",",
        (0 until BandSize).map(j => col(s"h${b * BandSize + j}").cast("string")): _*)
      signatures.select(col("doc_id"), lit(b).as("band"), key.as("band_key"))
    }.reduce(_ unionByName _)
  }

  def minhashCandidates(signatures: DataFrame, maxBucket: Option[Int] = None): DataFrame = {
    import MinHash._
    val bands = minhashBands(signatures)
    val admitted = maxBucket match {
      case None => bands
      case Some(cap) =>
        val ok = bands.groupBy(col("band"), col("band_key"))
          .agg(count(lit(1)).as("bn")).filter(col("bn") <= cap)
          .select(col("band"), col("band_key"))
        // re-project in (doc_id, band, band_key) order: the USING join puts
        // its keys first, and the positional toDF below renames by position
        bands.join(ok, Seq("band", "band_key"))
          .select(col("doc_id"), col("band"), col("band_key"))
    }
    admitted.toDF("id1", "band", "band_key")
      .join(admitted.toDF("id2", "band", "band_key"), Seq("band", "band_key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /**
   * Near-duplicate CLUSTERS from a candidate-pair graph (the step after
   * banding): connected components via the shared min-label engine
   * ([[Components.minLabel]]), representative = min doc id per component.
   * Output: (doc_id, keep_id) for EVERY input doc — singletons keep
   * themselves — the table a dedup pipeline joins against to drop or
   * collapse duplicates. Pair graphs from banding are short-diameter by
   * construction (dups of one document band together), so the propagation
   * converges in a handful of rounds.
   */
  def dupClusters(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    Components.minLabel(docs.select(col(idCol).as("id")),
        pairs.select(col("id1"), col("id2")))
      .select(col("id").as("doc_id"), col("comp").as("keep_id"))

  /** Cross-engine 60-bit term hash: the first 15 hex chars of md5, i.e. the
   *  top 60 bits of the digest. Exactly reproducible in DuckDB as
   *  `CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)`, which is what gives
   *  the simhash pipeline a full value-level oracle (d4). Production use
   *  keeps the faster codegen'd xxhash64 basis. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // ---- exact substring-span dedup / decontamination -------------------------

  /** Token k-gram span array over a token-array column: element i is the
   *  space-joined window tokens[i..i+k-1] (0-based window start). Empty when
   *  the doc has fewer than k tokens. */
  def spans(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
      .otherwise(array().cast("array<string>"))

  /** Exploded span occurrences: (doc_id, pos, span) — pos is the 0-based
   *  token index where the k-gram starts. One row per occurrence (NOT
   *  distinct: within-doc repeats are themselves duplication signal).
   *
   *  The tokenization is materialized in its OWN projection before the
   *  window lambda: `slice(toks, i+1, k)` inside `transform` re-evaluates
   *  its argument per window position, so inlining the tokenizer there
   *  re-ran the full regex split ~n_tokens times per document — the same
   *  lambda/CaseWhen subexpression hazard as x7's stratum (measured: the
   *  span explode alone cost 4.2 s at sf0.1; 0.4 s with the barrier
   *  projection). CollapseProject keeps the barrier because the alias is
   *  referenced more than once by a non-trivial expression. */
  def spanTable(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        graft.sources.Derived.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), posexplode(spans(col("toks"), k)).as(Seq("pos", "span")))

  /** Conf key for the hot-span occurrence threshold used by
   *  [[joinSpanStats]] (spans at or above it take the broadcast path). */
  val HotSpanConfKey = "spark.graft.span.hotThreshold"
  val HotSpanDefault = 65536L

  /**
   * Per-occurrence span statistics WITHOUT a span-keyed window — the
   * hot-key-safe core shared by [[spanDupStats]] and [[spanRemove]].
   *
   * The naive `Window.partitionBy(span)` puts every occurrence of a span in
   * ONE task: a mega-hot boilerplate span (a license header's k-gram
   * repeated 10^8–10^9 times in a web crawl) serializes the whole stage.
   * Instead:
   *
   *  1. stats = groupBy(xxhash64(span), span).agg(...) — map-side partial
   *     aggregation compacts a hot span to <= numPartitions partial rows,
   *     so the reduce side never sees the raw fan-in. The xxhash64 prefix
   *     keeps sort/merge comparisons on longs; the raw span stays in the
   *     key so the result is EXACT under hash collisions (a pure-hash key
   *     is the lossy-ok production shrink, not taken here — the DuckDB
   *     oracle shares the raw string).
   *  2. HOT spans (n_occ >= `spark.graft.span.hotThreshold`, default 65536)
   *     are broadcast and joined map-side — their occurrences NEVER enter a
   *     shuffle keyed on the span. The hot set is an aggregate bounded by
   *     totalOccurrences / threshold rows (Zipf corpora: a handful), and
   *     Spark fails loudly if an adversarial corpus overflows the broadcast
   *     budget — lower the threshold trades broadcast size for cold-join
   *     partition width.
   *  3. COLD occurrences are filtered through a broadcast anti-join on the
   *     hot keys (map-side — the hot fan-in is dropped before the exchange)
   *     and shuffle-join the cold stats on (hash, span), where every key
   *     now has < threshold rows by construction.
   *
   * Cost: the span explode is evaluated once per plan branch (stats / hot /
   * cold — it is linear, embarrassingly parallel, and much cheaper than
   * materializing the k-times-corpus-sized span table); the stats exchange
   * is planned once and reused across the hot/cold filters (ReuseExchange).
   *
   * `statAggs` must include `count(lit(1)).as("n_occ")`. Output: the input
   * occurrence rows plus the per-span aggregate columns.
   */
  private def joinSpanStats(sp: DataFrame, statAggs: Seq[Column]): DataFrame = {
    val hotT = sp.sparkSession.conf
      .getOption(HotSpanConfKey).map(_.toLong).getOrElse(HotSpanDefault)
    val spH = sp.withColumn("sh", xxhash64(col("span")))
    val stats = spH.groupBy(col("sh"), col("span"))
      .agg(statAggs.head, statAggs.tail: _*)
    val hot = stats.filter(col("n_occ") >= hotT)
    val cold = stats.filter(col("n_occ") < hotT)
    val hotJoined = spH.join(broadcast(hot), Seq("sh", "span"))
    val coldJoined = spH
      .join(broadcast(hot.select(col("sh"), col("span"))), Seq("sh", "span"), "left_anti")
      .join(cold, Seq("sh", "span"))
    hotJoined.unionByName(coldJoined).drop("sh")
  }

  /**
   * Exact duplicated-span statistics — the ExactSubstr dedup signal of
   * "Deduplicating Training Data Makes Language Models Better" (Lee et al.
   * 2022), re-expressed as relational ops instead of a suffix array: a span
   * is DUPLICATED iff its k-token window occurs >= 2 times anywhere in the
   * corpus (within or across documents). Output, one row per input doc:
   *   (doc_id, n_tokens, n_spans, dup_spans, dup_cov)
   * where dup_spans counts this doc's duplicated span occurrences and
   * dup_cov counts the token positions covered by at least one duplicated
   * span (the merged-interval union a span remover would cut).
   *
   * Scale: the span explode is linear in corpus tokens (k-bounded strings).
   * The occurrence count comes from [[joinSpanStats]] — a two-phase
   * aggregate whose map-side combine absorbs hot boilerplate spans and
   * whose hot/cold split keeps a mega-hot span's occurrences out of any
   * span-keyed shuffle entirely (see its scaladoc; ScaleSpan's hot case
   * proves a single 10^6-occurrence span stays linear). The per-doc window
   * below is doc-bounded, never span-bounded.
   */
  def spanDupStats(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = spanTable(docs, idCol, textCol, k)
    val dupOcc = joinSpanStats(sp, Seq(count(lit(1)).as("n_occ")))
      .filter(col("n_occ") >= 2)
    // merged-interval coverage as a running-max window over each doc's
    // dup-span starts — O(occurrences), vs the k-fold position explode +
    // global distinct the naive form pays (measured 161 s -> seconds at 25M
    // occurrences, ScaleSpan)
    val prevEnd = max(col("pos") + k).over(
      Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1))
    val perDoc = dupOcc
      .withColumn("c", greatest(lit(0),
        (col("pos") + k) - greatest(col("pos"), coalesce(prevEnd, lit(0)))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_spans"), sum(col("c")).cast("long").as("dup_cov"))
    val toks = graft.sources.Derived.tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"), size(toks).as("n_tokens"),
        greatest(size(toks) - (k - 1), lit(0)).cast("long").as("n_spans"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("n_spans"), coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_cov"), lit(0L)).as("dup_cov"))
  }

  /** Max tokens per document assumed by [[spanRemove]]'s keeper encoding
   *  (doc_id * 2^20 + pos must be collision-free and order-preserving). */
  val SpanPosBits = 20

  /**
   * Exact substring-span REMOVAL — the cut stage of ExactSubstr dedup
   * (Lee et al. 2022): for every duplicated k-token span, the globally
   * FIRST occurrence (min (doc_id, pos), encoded as doc_id*2^20+pos — docs
   * are bounded at 2^20 tokens) is kept; every token position covered by a
   * NON-kept duplicated occurrence is cut, and the per-doc text is rebuilt
   * from the surviving tokens in order. Output, one row per input doc:
   *   (doc_id, text_dedup, n_cut)
   *
   * Scale: the occurrence count and keeper key come from [[joinSpanStats]]
   * (hot-key-safe two-phase aggregate — a mega-hot boilerplate span never
   * lands in one task; see its scaladoc), plus the per-doc token
   * re-assembly groupBy — its collect_list is bounded by document length,
   * the floor any per-document text transform pays. The rebuilt text is
   * deterministic (positions sorted), so the operator is exactly
   * reproducible cross-engine.
   */
  def spanRemove(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val enc = lit(1L << SpanPosBits)
    val sp = spanTable(docs, idCol, textCol, k)
    val cut = joinSpanStats(sp, Seq(count(lit(1)).as("n_occ"),
        min(col("doc_id") * enc + col("pos")).as("keep_key")))
      .filter(col("n_occ") >= 2 &&
        col("doc_id") * enc + col("pos") =!= col("keep_key"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("p"))
      .distinct()
    val toks = graft.sources.Derived.tokens(col(textCol))
    val dt = docs.select(col(idCol).as("doc_id"), posexplode(toks).as(Seq("p", "term")))
    val rebuilt = dt.join(cut, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", transform(array_sort(collect_list(struct(col("p"), col("term")))),
        s => s.getField("term"))).as("text_dedup"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol).as("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_cut"))
  }

  /**
   * Benchmark decontamination — the GPT-3/PaLM-style n-gram overlap filter:
   * a training document is CONTAMINATED iff it shares any k-token span with
   * any benchmark document. Output, one row per training doc:
   *   (doc_id, n_hits, contaminated)
   * with n_hits = the number of DISTINCT benchmark-overlapping spans.
   *
   * Scale: the benchmark side (an eval suite — MBs, not TBs) reduces to a
   * distinct span set and is broadcast, so training spans never shuffle for
   * the join; the only shuffle is the per-doc countDistinct (partial agg).
   */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, k: Int): DataFrame = {
    val trainSp = spanTable(train, idCol, textCol, k).select(col("doc_id"), col("span"))
    val benchSp = spanTable(bench, idCol, textCol, k).select(col("span")).distinct()
    val hits = trainSp.join(broadcast(benchSp), Seq("span"))
      .groupBy(col("doc_id")).agg(countDistinct(col("span")).as("n_hits"))
    train.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** SimHash 64-bit signature per doc over its token multiset. Token hash =
   *  xxhash64 (Spark built-in, codegen); bit b contributes ±1 by hash bit. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashWith(docs, idCol, textCol, xxhash64(_), 64)

  /** SimHash with a pluggable term hash and signature width.
   *
   *  One shuffle, no row explosion: summing the per-DISTINCT-term
   *  contribution ±tf_t over terms equals summing ±1 over raw token
   *  OCCURRENCES, so the signature is a single groupBy(doc_id) with nBits
   *  conditional sums (map-side combine compacts each partition to one row
   *  per doc). The previous explode(sequence(0,63)) shape multiplied every
   *  (doc, term) row by 64 and shuffled twice — measured 14 s at sf0.1 vs
   *  ~1 s for this plan. */
  def simhashWith(docs: DataFrame, idCol: String, textCol: String,
                  termHash: Column => Column, nBits: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(graft.sources.Derived.tokens(col(textCol))).as("term"))
      .withColumn("th", termHash(col("term")))
    val bitSums = (0 until nBits).map(b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(lit(1L)) === 1L, lit(1L))
        .otherwise(lit(-1L))).as(s"s$b"))
    toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until nBits).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("simhash"))
  }

  /** SimHash near-dup candidates: any equal 16-bit band (pigeonhole-exact
   *  for hamming distance <= 3); refined by exact hamming via bit_count.
   *
   *  `maxBucket`: skip 16-bit band buckets holding more than this many
   *  docs — the same discriminativeness bound as [[minhashCandidates]]'s
   *  cap (a bucket of B docs forms B(B-1)/2 pairs; a low-entropy corpus
   *  collapsing into a few band keys otherwise goes quadratic, exactly the
   *  degenerate case BENCH.md's ScaleThumb run measured for perceptual
   *  bands). True near-dups collide in several of the 4 independent bands,
   *  so they survive unless every one of their buckets is hot. None =
   *  exact banding semantics (the d4 oracle path). */
  def simhashPairs(sigs: DataFrame, maxHamming: Int,
                   maxBucket: Option[Int] = None): DataFrame = {
    val bands = (0 until 4).map(b =>
      sigs.select(col("doc_id"), lit(b).as("band"),
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)).as("band_key"),
        col("simhash")))
      .reduce(_ unionByName _)
    val admitted = maxBucket match {
      case None => bands
      case Some(cap) =>
        val ok = bands.groupBy(col("band"), col("band_key"))
          .agg(count(lit(1)).as("bn")).filter(col("bn") <= cap)
          .select(col("band"), col("band_key"))
        bands.join(ok, Seq("band", "band_key"))
          .select(col("doc_id"), col("band"), col("band_key"), col("simhash"))
    }
    admitted.toDF("id1", "band", "band_key", "sh1")
      .join(admitted.toDF("id2", "band", "band_key", "sh2"), Seq("band", "band_key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("sh1").bitwiseXOR(col("sh2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
