package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * - `cosineTopK`: exact brute-force cosine top-k — the correctness baseline
 *   (`zip_with` dot product + `aggregate` sum, pure Catalyst expressions,
 *   whole-stage codegen'd; distributed top-k via orderBy.limit ->
 *   TakeOrderedAndProject).
 * - `lshBuckets` / `lshTopK`: random-hyperplane LSH — the scale path. The
 *   hyperplanes are deterministic (seeded integer arithmetic, no RNG state),
 *   signatures are `sign(dot)` bit-packs, and search touches only the
 *   query's bucket plus hamming<=1 neighbor buckets (multiprobe).
 * - `cosinePairs`: near-duplicate pairs by embedding cosine, LSH-bucketed
 *   self-join.
 */
object Ann {

  /** Dot product of an array<float|double> column with a literal query. */
  def dotLit(vec: Column, q: Seq[Double]): Column = {
    val qCol = array(q.map(lit): _*)
    aggregate(zip_with(vec, qCol, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
  }

  def norm(vec: Column): Column =
    sqrt(aggregate(vec, lit(0.0), (acc, x) => acc + x * x))

  def cosineLit(vec: Column, q: Seq[Double]): Column = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    dotLit(vec, q) / (norm(vec) * qn)
  }

  /** Exact cosine top-k against a literal query vector.
   *  Output: (vec_id, cos6) ordered desc, quantized 1e-6. Ranking is by the
   *  QUANTIZED value (+ id tie-break) so near-ties below the quantum cannot
   *  reorder across the LIMIT boundary between engines. */
  def cosineTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                 query: Seq[Double], k: Int): DataFrame =
    embeddings.select(col(idCol).as("vec_id"),
        cosineLit(col(vecCol).cast("array<double>"), query).as("cos"))
      .select(col("vec_id"), round(col("cos") * 1000000).cast("long").as("cos6"))
      .orderBy(desc("cos6"), col("vec_id"))
      .limit(k)

  /** Deterministic hyperplane component h(j, d): integer-arithmetic pseudo-
   *  random in [-1, 1), no floating RNG (reproducible across engines). */
  def hyperplane(j: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { d =>
      val v = ((j.toLong * 73856093L + d.toLong * 19349663L + 83492791L) % 2000001L)
      (if (v < 0) v + 2000001L else v).toDouble / 1000000.0 - 1.0
    }

  /** Bit signature column: bit j = 1 iff dot(vec, h_j) > 0. */
  def lshSignature(vec: Column, nBits: Int, dim: Int): Column =
    (0 until nBits).map { j =>
      val h = hyperplane(j, dim)
      when(dotLit(vec, h.toSeq) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Embeddings with an LSH bucket column. */
  def lshBuckets(embeddings: DataFrame, idCol: String, vecCol: String,
                 nBits: Int, dim: Int): DataFrame =
    embeddings.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("vec"))
      .withColumn("bucket", lshSignature(col("vec"), nBits, dim))

  /** Approximate top-k: probe the query's bucket and all hamming<=1
   *  neighbors, rank exact cosine inside the probed set. */
  def lshTopK(bucketed: DataFrame, query: Seq[Double], k: Int, nBits: Int): DataFrame = {
    val qSig = (0 until nBits).map { j =>
      val h = hyperplane(j, query.length)
      val dot = query.zip(h).map { case (a, b) => a * b }.sum
      if (dot > 0) 1L << j else 0L
    }.sum
    val probes = qSig +: (0 until nBits).map(j => qSig ^ (1L << j))
    bucketed.filter(col("bucket").isin(probes.map(java.lang.Long.valueOf): _*))
      .select(col("vec_id"), cosineLit(col("vec"), query).as("cos"))
      .select(col("vec_id"), round(col("cos") * 1000000).cast("long").as("cos6"))
      .orderBy(desc("cos6"), col("vec_id"))
      .limit(k)
  }

  // ---- IVF (inverted-file index) — the second standard ANN scale path ----
  //
  // A coarse k-means quantizer partitions the vector space into `nlist`
  // cells; each vector is assigned to its nearest centroid (the "inverted
  // list"). A query probes only the `nprobe` nearest lists. At rest
  // ([[AnnStore]]) the lists are a TableIO table PARTITIONED BY list, so a
  // probe is partition pruning — the scan touches nprobe/nlist of the data.
  // With nprobe = nlist, IVF search is exactly brute force (asserted in
  // AnnSpec).

  /**
   * Deterministic distributed k-means: seeds are the `nlist` rows with the
   * smallest id-hash (stable, data-independent of partitioning), then
   * `iters` Lloyd iterations — assignment is a broadcast argmin over
   * centroids; new means are computed distributed via posexplode +
   * groupBy(list, pos).avg. Only `nlist × dim` doubles ever reach the
   * driver.
   */
  def ivfCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
                   nlist: Int, iters: Int = 3): Array[Array[Double]] = {
    val base = embeddings
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("vec"))
    var cents = base
      .orderBy(pmod(xxhash64(col("vec_id")), lit(1000003L)), col("vec_id"))
      .limit(nlist).collect().map(_.getSeq[Double](1).toArray)
    for (_ <- 1 to iters) {
      val means = ivfAssign(base, "vec_id", "vec", cents)
        .select(col("list"), posexplode(col("vec")))
        .groupBy("list", "pos").agg(avg("col").as("m"))
        .collect()
      val byList = means.groupBy(_.getInt(0))
      cents = cents.indices.map { l =>
        byList.get(l).map { rows =>
          val arr = new Array[Double](cents(l).length)
          rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
          arr
        }.getOrElse(cents(l)) // empty list keeps its centroid
      }.toArray
    }
    cents
  }

  /** Assign each vector to its nearest centroid (L2 argmin, broadcast). */
  def ivfAssign(embeddings: DataFrame, idCol: String, vecCol: String,
                centroids: Array[Array[Double]]): DataFrame = {
    val bc = embeddings.sparkSession.sparkContext.broadcast(centroids)
    val assign = udf((v: Seq[Double]) => {
      val cs = bc.value
      var best = 0; var bd = Double.MaxValue; var i = 0
      while (i < cs.length) {
        var d = 0.0; var j = 0
        while (j < cs(i).length) { val t = v(j) - cs(i)(j); d += t * t; j += 1 }
        if (d < bd) { bd = d; best = i }
        i += 1
      }
      best
    })
    embeddings
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("vec"))
      .withColumn("list", assign(col("vec")))
  }

  /** The `nprobe` lists nearest to the query (L2 over centroids). */
  def probeLists(centroids: Array[Array[Double]], query: Seq[Double], nprobe: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, i) =>
        (i, c.zip(query).map { case (a, b) => val t = a - b; t * t }.sum)
      }
      .sortBy { case (i, d) => (d, i) }.take(nprobe).map(_._1).toSeq

  private def scoreTopK(lists: DataFrame, query: Seq[Double], k: Int): DataFrame =
    lists.select(col("vec_id"), cosineLit(col("vec"), query).as("cos"))
      .select(col("vec_id"), round(col("cos") * 1000000).cast("long").as("cos6"))
      .orderBy(desc("cos6"), col("vec_id"))
      .limit(k)

  /** IVF top-k: probe the `nprobe` centroids nearest to the query, exact
   *  cosine rank inside the probed lists. */
  def ivfTopK(assigned: DataFrame, centroids: Array[Array[Double]],
              query: Seq[Double], k: Int, nprobe: Int): DataFrame = {
    val probes = probeLists(centroids, query, nprobe)
    scoreTopK(
      assigned.filter(col("list").isin(probes.map(Integer.valueOf): _*)), query, k)
  }

  /**
   * SQ8 scalar quantization of the embedding column — the memory-reduction
   * step an ANN index runs before PQ/IVF at scale (4× smaller vectors,
   * asymmetric-distance-ready). Per-dimension corpus min/max (one small
   * aggregation — 1 row per dim), then code = round((v−lo)·255/(hi−lo)),
   * joined back via BROADCAST (the stats table is dims-sized). All
   * arithmetic is double-exact and order-independent (min/max, no float
   * sums), so DuckDB reproduces every code bit-for-bit.
   * Output: (idCol, j, code) — one row per dimension, the layout an
   * at-rest code table stores. Constant dims (hi == lo) code to 0.
   */
  def quantizeSq8(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val x = embeddings.select(col(idCol),
      posexplode(col(vecCol)).as(Seq("j", "vf")))
      .select(col(idCol), col("j"), col("vf").cast("double").as("v"))
    val stats = x.groupBy(col("j"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    x.join(broadcast(stats), Seq("j"))
      .select(col(idCol), col("j"),
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          round((col("v") - col("lo")) * 255.0 / (col("hi") - col("lo")))
            .cast("long")).as("code"))
  }

  // ---- product quantization (PQ) --------------------------------------------

  /** Cross-engine deterministic seed-rank hash (Knuth multiplicative) —
   *  reproducible in DuckDB as `(vec_id * 2654435761) % 4294967296`.
   *  [[ivfCentroids]] keeps xxhash64 (no oracle needs its seeds); PQ's
   *  oracle re-derives the centroids, so the seed order must be portable. */
  def seedRank(c: Column): Column = pmod(c * lit(2654435761L), lit(4294967296L))

  /**
   * PQ codebooks: the vector is split into `nsub` contiguous subspaces and
   * each gets its own `ksub`-centroid k-means — deterministic seeds (the
   * `ksub` rows with the smallest (seedRank, id), subvector s of seed c is
   * centroid (s, c)) plus a FIXED number of Lloyd iterations, so the whole
   * training run is re-derivable by unrolling `iters` assign/mean rounds in
   * SQL. Assignment ties break to the smallest centroid index; an empty
   * cluster keeps its previous centroid (both rules mirrored in the
   * oracle). Returns [nsub][ksub][subdim].
   *
   * Scale: one broadcast-argmin assignment pass + one (s, code, dim-slot)
   * aggregation per iteration; only nsub x ksub x subdim doubles (= dim x
   * ksub) ever reach the driver.
   */
  def pqCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
                  nsub: Int, ksub: Int, iters: Int): Array[Array[Array[Double]]] = {
    val base = embeddings
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("vec"))
    val dim = base.select(size(col("vec"))).head().getInt(0)
    require(dim % nsub == 0, s"dim $dim not divisible into $nsub subspaces")
    val subdim = dim / nsub
    val seeds = base.orderBy(seedRank(col("vec_id")), col("vec_id"))
      .limit(ksub).collect().map(_.getSeq[Double](1))
    var cents: Array[Array[Array[Double]]] = Array.tabulate(nsub, ksub) { (s, c) =>
      seeds(c).slice(s * subdim, (s + 1) * subdim).toArray }
    for (_ <- 1 to iters) {
      val means = pqAssign(base, "vec_id", "vec", cents)
        .select(col("codes"), posexplode(col("vec")).as(Seq("d", "x")))
        .withColumn("s", (col("d") / subdim).cast("int"))
        .select(col("s"), element_at(col("codes"), col("s") + 1).as("ci"),
          (col("d") % subdim).as("ld"), col("x"))
        .groupBy(col("s"), col("ci"), col("ld")).agg(avg(col("x")).as("m"))
        .collect()
      val next = Array.tabulate(nsub, ksub)((s, c) => cents(s)(c).clone())
      means.foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      cents = next // clusters with no mean row keep their previous centroid
    }
    cents
  }

  /** Assign each vector its nsub PQ codes (per-subspace L2 argmin over the
   *  broadcast codebook; ties keep the smallest centroid index).
   *  Output: input columns renamed (vec_id, vec) plus codes: array<int>. */
  def pqAssign(embeddings: DataFrame, idCol: String, vecCol: String,
               cents: Array[Array[Array[Double]]]): DataFrame = {
    val bc = embeddings.sparkSession.sparkContext.broadcast(cents)
    val assign = udf((v: Seq[Double]) => {
      val cs = bc.value
      val subdim = cs(0)(0).length
      Array.tabulate(cs.length) { s =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cs(s).length) {
          var d = 0.0; var j = 0
          while (j < subdim) { val t = v(s * subdim + j) - cs(s)(c)(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        best
      }
    })
    embeddings
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("vec"))
      .withColumn("codes", assign(col("vec")))
  }

  /**
   * Asymmetric-distance (ADC) scoring: the query is NOT quantized — its
   * exact L2² to every codebook centroid is a tiny nsub x ksub lookup
   * table, and a vector's approximate distance is the sum of its codes'
   * lut entries. Output: (vec_id, codes, adc). At query time this touches
   * only the codes table (dim/subdim ints per vector, 4x-32x smaller than
   * the raw vectors) — the memory-bound ANN serving path PQ exists for.
   */
  def pqAdc(assigned: DataFrame, cents: Array[Array[Array[Double]]],
            query: Seq[Double]): DataFrame = {
    val lut: Array[Array[Double]] = Array.tabulate(cents.length, cents(0).length) { (s, c) =>
      val subdim = cents(0)(0).length
      var d = 0.0; var j = 0
      while (j < subdim) { val t = query(s * subdim + j) - cents(s)(c)(j); d += t * t; j += 1 }
      d
    }
    val bc = assigned.sparkSession.sparkContext.broadcast(lut)
    val adc = udf((codes: Seq[Int]) => {
      val l = bc.value
      var d = 0.0; var s = 0
      while (s < codes.length) { d += l(s)(codes(s)); s += 1 }
      d
    })
    assigned.withColumn("adc", adc(col("codes")))
  }

  // ---- IVF-PQ (coarse quantizer + residual product quantization) ------------

  /**
   * Coarse IVF centroids via the PORTABLE seed-rank hash — the coarse
   * k-means is exactly PQ training with a single subspace spanning the
   * whole vector, so this reuses [[pqCentroids]] verbatim. Needed when an
   * oracle must re-derive the coarse quantizer ([[ivfCentroids]] keeps
   * xxhash64 seeds, which no oracle can reproduce; its e3 oracle cancels
   * the centroids out via full probe ≡ brute force instead).
   */
  def ivfCentroidsPortable(embeddings: DataFrame, idCol: String, vecCol: String,
                           nlist: Int, iters: Int): Array[Array[Double]] =
    pqCentroids(embeddings, idCol, vecCol, 1, nlist, iters)(0)

  /** Residual vectors vs the assigned coarse centroid — pure codegen
   *  (map-literal lookup + zip_with), no UDF, no shuffle. */
  def residuals(assigned: DataFrame, coarse: Array[Array[Double]]): DataFrame = {
    val cents = typedLit(coarse.map(_.toSeq).toSeq)
    assigned.withColumn("rvec",
      zip_with(col("vec"), element_at(cents, col("list") + 1), (a, b) => a - b))
  }

  /**
   * IVF-PQ index build (the Faiss-style composed ANN index): coarse-assign
   * each vector to its nearest of `nlist` centroids, PQ-encode the RESIDUAL
   * (v − centroid) with a shared codebook, keep only (vec_id, list, codes)
   * — the memory-bound serving layout. Both stages reuse the portable-seed
   * PQ trainer, so the ENTIRE two-level training run (coarse k-means →
   * residuals → fine k-means → codes) is re-derivable in SQL.
   * Returns (index, coarseCentroids, fineCodebooks).
   */
  def ivfPqIndex(embeddings: DataFrame, idCol: String, vecCol: String,
                 nlist: Int, coarseIters: Int, nsub: Int, ksub: Int,
                 iters: Int): (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val coarse = ivfCentroidsPortable(embeddings, idCol, vecCol, nlist, coarseIters)
    val assigned = pqAssign(embeddings, idCol, vecCol, Array(coarse))
      .select(col("vec_id"), col("vec"), element_at(col("codes"), 1).as("list"))
    val res = residuals(assigned, coarse)
    val fine = pqCentroids(res, "vec_id", "rvec", nsub, ksub, iters)
    val coded = pqAssign(res, "vec_id", "rvec", fine)
      .select(col("vec_id"), col("codes"))
    val index = assigned.select(col("vec_id"), col("list")).join(coded, Seq("vec_id"))
    (index, coarse, fine)
  }

  /**
   * IVF-PQ asymmetric-distance scoring over probed lists: the query is
   * never quantized — per probed list l the residual query (q − coarse(l))
   * gets its own nsub × ksub lookup table, and a vector's distance is the
   * sum of its codes' entries in ITS list's table. Full probe (`probes` =
   * all lists) is deterministic end to end — the oracle path; partial
   * probe is the scale path (only nprobe/nlist of the codes table is
   * read). Output: (vec_id, list, codes, adc).
   */
  def ivfPqAdc(index: DataFrame, coarse: Array[Array[Double]],
               fine: Array[Array[Array[Double]]], query: Seq[Double],
               probes: Seq[Int]): DataFrame = {
    val nsub = fine.length; val ksub = fine(0).length; val subdim = fine(0)(0).length
    val luts: Map[Int, Array[Array[Double]]] = probes.map { l =>
      val qr = Array.tabulate(query.length)(d => query(d) - coarse(l)(d))
      l -> Array.tabulate(nsub, ksub) { (s, c) =>
        var d = 0.0; var j = 0
        while (j < subdim) { val t = qr(s * subdim + j) - fine(s)(c)(j); d += t * t; j += 1 }
        d
      }
    }.toMap
    val bc = index.sparkSession.sparkContext.broadcast(luts)
    val adcU = udf((list: Int, codes: Seq[Int]) => {
      val lut = bc.value(list)
      var d = 0.0; var s = 0
      while (s < codes.length) { d += lut(s)(codes(s)); s += 1 }
      d
    })
    index.filter(col("list").isin(probes.map(Integer.valueOf): _*))
      .withColumn("adc", adcU(col("list"), col("codes")))
  }

  /** Buckets of `bucketed` (a [[lshBuckets]] output under any column
   *  naming that keeps `bucket`) holding more than `cap` rows — the
   *  non-discriminative set a capped pair join skips. */
  private def hotBuckets(bucketed: DataFrame, cap: Int): DataFrame =
    bucketed.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
      .filter(col("bn") > cap).select(col("bucket"))

  /** Cross-set cosine matches (semantic decontamination / retrieval audit):
   *  every (left, right) pair sharing an LSH bucket with cosine >=
   *  threshold. Both inputs must be bucketed by the SAME [[lshBuckets]]
   *  hyperplanes; pairs only form inside a bucket (the scale path — the
   *  right set is typically an eval suite, but nothing here assumes it is
   *  small). Output: (id1 from left, id2 from right, cos6).
   *
   *  `maxBucket`: skip buckets where EITHER side holds more than this many
   *  vectors — the [[graft.ml.Dedup.minhashCandidates]] discriminativeness
   *  bound: a bucket of A x B members forms A·B pairs, and a low-entropy
   *  embedding set collapsing into one hyperplane cell otherwise goes
   *  quadratic while carrying no similarity signal. None = exact bucketed
   *  semantics (the x15 oracle path). */
  def cosineMatch(leftBucketed: DataFrame, rightBucketed: DataFrame,
                  threshold: Double, maxBucket: Option[Int] = None): DataFrame = {
    // norms are computed per VECTOR ROW before the pair join, not per pair:
    // a vector in p pairs paid p sqrt+sum-of-squares passes (cos itself is
    // the identical n1*n2 double product, so values are bit-unchanged)
    val a0 = leftBucketed.select(col("vec_id").as("id1"), col("vec").as("v1"),
      norm(col("vec")).as("n1"), col("bucket"))
    val b0 = rightBucketed.select(col("vec_id").as("id2"), col("vec").as("v2"),
      norm(col("vec")).as("n2"), col("bucket"))
    val (a, b) = maxBucket match {
      case None => (a0, b0)
      case Some(cap) =>
        val hot = hotBuckets(a0, cap).unionByName(hotBuckets(b0, cap)).distinct()
        (a0.join(broadcast(hot), Seq("bucket"), "left_anti"),
          b0.join(broadcast(hot), Seq("bucket"), "left_anti"))
    }
    a.join(b, Seq("bucket"))
      .withColumn("dot", aggregate(zip_with(col("v1"), col("v2"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("cos", col("dot") / (col("n1") * col("n2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), round(col("cos") * 1000000).cast("long").as("cos6"))
      .distinct()
  }

  /** Near-duplicate pairs by cosine >= threshold, LSH-bucketed self-join
   *  (exact within a bucket; recall governed by nBits).
   *
   *  `maxBucket`: skip buckets holding more than this many vectors — see
   *  [[cosineMatch]]; a bucket of B vectors forms B(B-1)/2 pairs, so one
   *  degenerate all-same-signature corpus otherwise dominates the join
   *  quadratically. None = exact bucketed semantics (the e4 oracle path). */
  def cosinePairs(bucketed: DataFrame, threshold: Double,
                  maxBucket: Option[Int] = None): DataFrame = {
    val base = maxBucket match {
      case None => bucketed
      case Some(cap) =>
        bucketed.join(broadcast(hotBuckets(
          bucketed.select(col("vec_id"), col("bucket")), cap)),
          Seq("bucket"), "left_anti")
    }
    // per-row norms before the pair join — the cosineMatch rationale;
    // cos = dot / (n1 * n2) is the identical double expression
    val a = base.select(col("vec_id").as("id1"), col("vec").as("v1"),
      norm(col("vec")).as("n1"), col("bucket"))
    val b = base.select(col("vec_id").as("id2"), col("vec").as("v2"),
      norm(col("vec")).as("n2"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("id1") < col("id2"))
      .withColumn("dot", aggregate(zip_with(col("v1"), col("v2"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("cos", col("dot") / (col("n1") * col("n2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), round(col("cos") * 1000000).cast("long").as("cos6"))
      .distinct()
  }
}
