package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GeoMath
import graft.query.{Geofence, SearchIndexStore, Searcher, Spatial, Tokenizer}
import graft.query.Geofence.Fence
import graft.sources.Derived

/**
 * `api`: request latency on the reference server's serving path. Set-up
 * builds a [[SearchIndexStore]] over a generated documents table
 * (`text`/`source` fields) and serves it with [[Searcher.fromStore]],
 * prepares the cell-encoded [[Derived.objects]] table and seeds a
 * [[Geofence.FenceStore]] collection. One client then sends decks of the
 * six request types, each deck in a seeded order and the first one
 * untimed, in a closed loop, collecting every response; `fence_upsert`
 * writes beside the reads.
 */
object Api {
  /** The request types. The client sends decks of one request of each
   *  type, in a seeded order. */
  val Types = Seq("search", "autocomplete", "reverse", "places", "geofence", "fence_upsert")
  /** Timed decks per run at least, after one untimed warm-up deck: each
   *  type is timed this many times, and the fastest counts. */
  val MinDecks = 2
  /** Every second search carries a 1-2 letter typo, the warm-up's first
   *  one excepted, so each run sends misspelled searches and spell
   *  correction does real work. */
  val MisspellEvery = 2
  val K = 10
  val Collection = "bench"

  /** This workload's per-layer metrics (traced run), with units. */
  val layerMetrics: Seq[(String, String)] =
    Types.flatMap(k => Seq(s"api.$k.jobs" -> "count", s"api.$k.tasks" -> "count",
      s"api.$k.driver_ms" -> "ms", s"api.$k.cpu_ms" -> "ms", s"api.$k.p50_ms" -> "ms")) ++
    Seq("api.p90_ms" -> "ms", "api.search.correct_ms" -> "ms", "api.search.score_ms" -> "ms",
      "api.search.corrected_ratio" -> "ratio", "api.trace_ratio" -> "ratio")

  final case class State(spark: SparkSession, dir: String, docs: DataFrame,
                         searcher: Searcher, objects: DataFrame,
                         fences: Geofence.FenceStore)

  /** One issued request and what the client got back. */
  final case class Req(i: Int, kind: String, ms: Double, traced: Boolean, cpuMs: Double = 0, query: String = "",
                       intended: String = "", corrected: Seq[String] = Nil,
                       lat: Double = 0, lon: Double = 0, radiusKm: Double = 0,
                       feature: String = "", track: Seq[(Long, Double, Double)] = Nil,
                       fenceSnapshot: Seq[Fence] = Nil, rows: Seq[Row] = Nil)

  def run(ctx: Ctx): Unit = {
    val o = ctx.o; val tr = ctx.tracer; val out = ctx.out; val rng = ctx.rng
    val nDocs = if (o.tiny) 300 else 2000
    val nOrders = if (o.tiny) 3000 else 15000
    val nVocab = if (o.tiny) 200 else 1200
    val nFences = 2
    val vocab = Data.vocabulary(o.seed, nVocab)
    val vocabSet = vocab.toSet
    val docs = Data.documents(o.seed, vocab, nDocs)
    // only words the corpus really contains can be searched for and restored
    val used = docs.flatMap(_.text.split(" ")).groupBy(identity).map { case (w, xs) => w -> xs.size }
    val terms = used.keys.toIndexedSeq.sorted
    val common = used.toSeq.filter { case (w, n) => n >= 3 && w.length >= 5 }.map(_._1).sorted.toIndexedSeq
    out.info ++= Seq("docs" -> nDocs, "vocab" -> nVocab, "orders_keys" -> nOrders,
      "fences" -> nFences, "k" -> K, "loop" -> "closed, 1 client",
      "deck" -> Types, "misspelled_share_of_search" -> 1.0 / MisspellEvery)

    def fenceAt(key: String): Fence = Fence(key, -8.4 + rng.nextDouble() * 2.8,
      106.1 + rng.nextDouble() * 4.8, 2.0 + rng.nextDouble() * 18.0)
    val model = mutable.LinkedHashMap.empty[String, Fence]

    val st = ctx.setup {
      val s = ctx.session(o.nproc, "api")
      val d = ctx.dir("api")
      Data.writeOrders(s, d, Data.orderKeys(o.seed, nOrders))
      Data.writeDocs(s, d, docs)
      val docsDf = s.read.parquet(s"$d/documents.parquet")
      tr.span("api.setup.index")(SearchIndexStore.write(s, docsDf, "doc_id", "text", "source", s"$d/index"))
      val searcher = tr.span("api.setup.load")(Searcher.fromStore(s, s"$d/index"))
      val objs = Derived.objects(s, d).cache()
      tr.span("api.setup.objects")(objs.count())
      val fs = new Geofence.FenceStore(s, ctx.dir("api/fences"))
      model.clear()
      tr.span("api.setup.fences") {
        fs.addCollection(Collection)
        (0 until nFences).foreach { f =>
          val fence = fenceAt(f"fence$f%02d")
          fs.upsertFencePoint(Collection, fence)
          model(fence.key) = fence
        }
      }
      State(s, d, docsDf, searcher, objs, fs)
    }
    val s = st.spark
    import s.implicits._
    val objPts = Derived.objects(s, st.dir).select("id", "lat", "lon", "feature").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getString(3)))

    def nearObject(): (Double, Double) = {
      val (_, lat, lon, _) = objPts(rng.nextInt(objPts.length))
      (lat + (rng.nextDouble() - 0.5) * 0.004, lon + (rng.nextDouble() - 0.5) * 0.004)
    }

    var searches = 0
    /** Issue request `i` of `kind`; returns what the checks need. */
    def request(i: Int, kind: String, traced: Boolean): Req = {
      val t0 = System.nanoTime(); val c0 = ctx.cpuMark()
      def done(r: Req): Req = r.copy(ms = (System.nanoTime() - t0) / 1e6, cpuMs = ctx.cpuSince(c0) / 1e6)
      val base = Req(i, kind, 0, traced)
      kind match {
        case "search" =>
          val words = Seq.fill(1 + rng.nextInt(2))(terms(rng.nextInt(terms.size)))
          searches += 1
          val (q, intended) =
            if (searches % MisspellEvery == 0) {
              val w = common(rng.nextInt(common.size))
              ((words :+ Data.misspell(w, vocabSet, rng)).mkString(" "), w)
            } else (words.mkString(" "), "")
          // Searcher.freeFormQuery's two steps, each its own span
          val corrected = tr.span("api.search.correct")(st.searcher.correct(q))
          val rows = tr.span("api.search.score")(
            st.searcher.index.search(corrected.mkString(" "), K).collect().toSeq)
          done(base.copy(query = q, intended = intended, corrected = corrected, rows = rows))
        case "autocomplete" =>
          val w = terms(rng.nextInt(terms.size))
          val prefix = w.take(math.min(w.length, 2 + rng.nextInt(3)))
          val q = (if (rng.nextBoolean()) terms(rng.nextInt(terms.size)) + " " else "") + prefix
          done(base.copy(query = q, rows = st.searcher.autocomplete(q, K).collect().toSeq))
        case "reverse" =>
          val (lat, lon) = nearObject()
          val rows = Spatial.reverseGeocode(st.objects,
            Seq((1L, lat, lon)).toDF("qid", "qlat", "qlon")).collect().toSeq
          done(base.copy(lat = lat, lon = lon, rows = rows))
        case "places" =>
          val (lat, lon) = nearObject()
          val r = 1.0 + rng.nextDouble() * 4.0
          val f = s"f${rng.nextInt(7)}"
          val rows = Spatial.knn(st.objects, lat, lon, K, radiusKm = Some(r), feature = Some(f))
            .collect().toSeq
          done(base.copy(lat = lat, lon = lon, radiusKm = r, feature = f, rows = rows))
        case "geofence" =>
          val start = model.values.toIndexedSeq(rng.nextInt(model.size))
          var (lat, lon) = (start.lat, start.lon)
          val track = (0 until 6).map { j =>
            lat += (rng.nextDouble() - 0.5) * 0.1; lon += (rng.nextDouble() - 0.5) * 0.1
            (i * 100L + j, lat, lon)
          }
          val snapshot = model.values.toSeq
          val rows = st.fences.search(Collection, trackFrame(s, track)).collect().toSeq
          done(base.copy(track = track, fenceSnapshot = snapshot, rows = rows))
        case "fence_upsert" =>
          val key = f"fence${rng.nextInt(nFences)}%02d"
          val fence = fenceAt(key)
          st.fences.upsertFencePoint(Collection, fence)
          model(key) = fence
          done(base)
      }
    }

    // one untimed warm-up deck takes the cold JIT and code generation of
    // every request type out of the timed decks
    tr.untraced(rng.shuffle(Types).foreach(k => out.op(s"api.$k")(request(-1, k, traced = false))))

    val reqs = mutable.ArrayBuffer.empty[Req]
    val cpu0 = ctx.cpuMark()
    val startNs = System.nanoTime()
    var i = 0
    val seenOfType = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    var deckS = 0.0
    // whole decks only; at least MinDecks, none started past the deadline
    var decks = 0
    while (decks < MinDecks || (System.nanoTime() - startNs) / 1e9 + deckS <= o.seconds) {
      decks += 1
      val d0 = System.nanoTime()
      rng.shuffle(Types).foreach { kind =>
        // in a traced run every other request of a type runs untraced:
        // tracing overhead
        val traced = !o.trace || seenOfType(kind) % 2 == 0
        seenOfType(kind) += 1
        def issue(): Option[Req] = out.op(s"api.$kind")(request(i, kind, traced))
        val r = if (traced) tr.span(s"api.$kind", s"req-$i")(issue()) else tr.untraced(issue())
        r.foreach(reqs += _)
        i += 1
      }
      deckS = (System.nanoTime() - d0) / 1e9
    }
    val loopS = (System.nanoTime() - startNs) / 1e9
    val cpuS = ctx.cpuSince(cpu0) / 1e9

    val c0 = System.nanoTime()
    checks(ctx, st, reqs.toSeq, docs, objPts, model.values.toSeq)
    out.info ++= Seq("measure_s" -> loopS, "checks_s" -> (System.nanoTime() - c0) / 1e9)

    val lat = reqs.map(_.ms).toSeq
    reqs.filter(q => !o.trace || !q.traced).foreach(q => out.sample(s"api.${q.kind}", q.ms, q.cpuMs))
    out.setOpMetrics()
    val (tp, tv) = Stats.tail(lat)
    out.named("api.p90_ms") = (tv, "ms")
    out.info ++= Seq("requests" -> i, "decks" -> decks, "mean_ms" -> loopS * 1000 / math.max(1, i),
      "cpu_ms_per_request" -> cpuS * 1000 / math.max(1, i), "tail_percentile" -> tp,
      "per_type_count" -> Types.map(k => k -> reqs.count(_.kind == k)).toMap)
    for (k <- Types) {
      val xs = reqs.filter(_.kind == k).map(_.ms).toSeq
      out.named(s"api.$k.p50_ms") = (if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }
    if (o.trace) traceMetrics(ctx, reqs.toSeq)
  }

  def trackFrame(s: SparkSession, track: Seq[(Long, Double, Double)]): DataFrame = {
    import s.implicits._
    track.map { case (id, lat, lon) =>
      (id, 1L, new java.sql.Timestamp(1700000000000L + id * 1000L), lat, lon)
    }.toDF("event_id", "user_id", "ts", "lat", "lon")
  }

  /** Output checks outside the timers. Every reverse/places answer is
   *  compared with brute-force haversine over the collected objects; one
   *  sampled search (a misspelled one) with an in-memory
   *  [[Searcher]] over the same documents, scoring the corrected text,
   *  whose every token must be a corpus term or the token sent; every
   *  autocomplete answer must be non-empty and at most k long, and one
   *  sampled answer equals the in-memory [[Searcher]]'s (ids and scores);
   *  one geofence answer with [[Geofence.fenceStatus]] over the fences the
   *  client had written; and the store's final fence set. */
  private def checks(ctx: Ctx, st: State, reqs: Seq[Req], docs: Seq[Data.Doc],
                     objPts: Array[(Long, Double, Double, String)], finalFences: Seq[Fence]): Unit = {
    val out = ctx.out
    val r = new scala.util.Random(ctx.o.seed ^ 0x5eed)
    val docTerms = docs.map(d => d.id -> (Tokenizer.tokenize(d.text) ++
      Tokenizer.tokenize(s"src${d.id % 20}")).toSet).toMap
    val vocab = docTerms.values.flatten.toSet
    def sample(kind: String) = r.shuffle(reqs.filter(_.kind == kind)).sortBy(_.intended.isEmpty)
    ctx.tracer.untraced {
      def scored(rows: Seq[Row]): Set[(Long, Long)] =
        rows.map(x => (x.getAs[Long]("doc_id"), math.round(x.getAs[Double]("score") * 1e6))).toSet
      // the same documents, indexed in memory instead of through the store
      lazy val inMemory = new Searcher(st.docs, "doc_id", "text", "source")
      for (q <- sample("search").take(1)) {
        val got = ctx.maybeCorrupt(scored(q.rows))(_ + ((-1L, 0L)))
        val exp = scored(inMemory.index.search(q.corrected.mkString(" "), K).collect().toSeq)
        val sent = Tokenizer.tokenize(q.query)
        out.check(got == exp && q.corrected.size == sent.size &&
          q.corrected.zip(sent).forall { case (c, t) => c == t || vocab.contains(c) },
          s"api.search '${q.query}' -> ${q.corrected}: ${got.size} hits vs ${exp.size} in memory")
      }
      for (q <- sample("autocomplete")) out.check(q.rows.nonEmpty && q.rows.size <= K,
        s"api.autocomplete '${q.query}': ${q.rows.size} hits")
      for (q <- sample("autocomplete").take(1)) {
        val exp = scored(inMemory.autocomplete(q.query, K).collect().toSeq)
        out.check(scored(q.rows) == exp,
          s"api.autocomplete '${q.query}': ${q.rows.size} hits vs ${exp.size} in memory")
      }
      def dist(q: Req, p: (Long, Double, Double, String)) = GeoMath.haversineKm(q.lat, q.lon, p._2, p._3)
      /** ids equal, up to order among distances within 1e-9 km. */
      def sameNearest(got: Seq[(Long, Double)], exp: Seq[(Long, Double)]): Boolean =
        got.size == exp.size && got.zip(exp).forall { case ((gi, gd), (ei, ed)) =>
          math.abs(gd - ed) < 1e-6 && (gi == ei || math.abs(gd - ed) < 1e-9)
        }
      for (q <- sample("reverse")) {
        val best = objPts.map(p => (p._1, dist(q, p))).filter(_._2 <= 0.35)
          .sortBy(x => (x._2, x._1)).take(1).toSeq
        val got = q.rows.map(x => (x.getAs[Long]("id"), x.getAs[Double]("dist_km")))
        out.check(sameNearest(got, best), s"api.reverse (${q.lat}, ${q.lon}): $got vs $best")
      }
      for (q <- sample("places")) {
        val exp = objPts.filter(_._4 == q.feature).map(p => (p._1, dist(q, p)))
          .filter(_._2 <= q.radiusKm).sortBy(x => (x._2, x._1)).take(K).toSeq
        val got = q.rows.map(x => (x.getAs[Long]("id"), x.getAs[Double]("dist_km")))
        out.check(sameNearest(got, exp), s"api.places (${q.lat}, ${q.lon}) r=${q.radiusKm}: differs")
      }
      for (q <- sample("geofence").take(1)) {
        val exp = Geofence.fenceStatus(trackFrame(st.spark, q.track), q.fenceSnapshot)
          .collect().map(_.toString).sorted.toSeq
        out.check(q.rows.map(_.toString).sorted == exp, s"api.geofence req ${q.i}: statuses differ")
      }
      if (reqs.exists(_.kind == "fence_upsert"))
        out.check(st.fences.fences(Collection) == finalFences.sortBy(_.key),
          "api.fence_upsert: stored fences differ from the written ones")
    }
    val misspelled = reqs.filter(q => q.kind == "search" && q.intended.nonEmpty)
    out.named("api.search.corrected_ratio") = (
      if (misspelled.isEmpty) 0.0
      else misspelled.count(q => q.corrected.contains(q.intended)).toDouble / misspelled.size, "ratio")
  }

  private def traceMetrics(ctx: Ctx, reqs: Seq[Req]): Unit = {
    val tr = ctx.tracer; val out = ctx.out
    tr.drain()
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    for (k <- Types) {
      val sp = tr.named(s"api.$k"); val w = sp.map(tr.workOf)
      out.layer(s"api.$k.jobs") = (mean(w.map(_.jobs.toDouble)), "count")
      out.layer(s"api.$k.tasks") = (mean(w.map(_.tasks.toDouble)), "count")
      out.layer(s"api.$k.driver_ms") = (mean(sp.map(tr.driverMs)), "ms")
      out.layer(s"api.$k.cpu_ms") = (mean(w.map(_.cpuNs / 1e6)), "ms")
    }
    out.layer("api.search.correct_ms") = (mean(tr.named("api.search.correct").map(_.durMs)), "ms")
    out.layer("api.search.score_ms") = (mean(tr.named("api.search.score").map(_.durMs)), "ms")
    out.layer("api.search.corrected_ratio") = out.named("api.search.corrected_ratio")
    // tracing overhead: per type, traced over untraced median, then geomean
    val ratios = Types.flatMap { k =>
      val t = reqs.filter(q => q.kind == k && q.traced).map(_.ms)
      val u = reqs.filter(q => q.kind == k && !q.traced).map(_.ms)
      if (t.nonEmpty && u.nonEmpty) Some(Stats.median(t) / Stats.median(u)) else None
    }
    out.layer("api.trace_ratio") = (if (ratios.isEmpty) 0.0 else Stats.geomean(ratios), "ratio")
    for (k <- Types) out.layer(s"api.$k.p50_ms") = out.named(s"api.$k.p50_ms")
    out.layer("api.p90_ms") = out.named("api.p90_ms")
  }
}
