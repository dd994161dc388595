package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.GeoMath
import graft.query.Geofence
import graft.query.Geofence.Fence
import graft.sources.Derived
import graft.streaming.GeofenceStream

/**
 * Geofence transition truth table (/root/reference/pkg/geofence/
 * geofence.go:97-116), the batch operator against a brute-force reference,
 * and batch-vs-streaming parity.
 */
class GeofenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val fence = Fence("f", -7.5, 110.8, 2.0)
  def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)

  // positions: inside = center; outside = ~10 km east; far = ~30 km east
  val inside = (-7.5, 110.8)
  val outside = (-7.5, 110.895)
  val outsideW = (-7.5, 110.705)
  val far = (-7.5, 111.1)

  def runBatch(track: Seq[(Long, Long, Timestamp, Double, Double)]): Seq[(Long, Int, String)] =
    Geofence.fenceStatus(
        track.toDF("event_id", "user_id", "ts", "lat", "lon"), Seq(fence))
      .select("event_id", "seq", "status").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted

  test("empty fence set: zero status rows, schema intact (FenceStore's empty-collection state)") {
    val track = Seq((1L, 1L, ts(0), inside._1, inside._2))
      .toDF("event_id", "user_id", "ts", "lat", "lon")
    val out = Geofence.fenceStatus(track, Seq.empty)
    assert(out.columns.toSeq ==
      Seq("event_id", "user_id", "ts", "fence_key", "seq", "status"))
    assert(out.count() == 0)
  }

  test("IN->IN = INSIDE; IN->OUT = EXIT,OUTSIDE; OUT->IN = ENTER,INSIDE") {
    val out = runBatch(Seq(
      (1L, 1L, ts(0), inside._1, inside._2),   // first seen (prev sentinel): ENTER,INSIDE
      (2L, 1L, ts(1), inside._1, inside._2),   // IN->IN: INSIDE
      (3L, 1L, ts(2), outside._1, outside._2), // IN->OUT: EXIT,OUTSIDE
      (4L, 1L, ts(3), inside._1, inside._2)))  // OUT->IN: ENTER,INSIDE
    assert(out == Seq(
      (1L, 0, "ENTER"), (1L, 1, "INSIDE"),
      (2L, 0, "INSIDE"),
      (3L, 0, "EXIT"), (3L, 1, "OUTSIDE"),
      (4L, 0, "ENTER"), (4L, 1, "INSIDE")).sorted)
  }

  test("OUT->OUT crossing the circle = CROSS; not crossing = OUTSIDE") {
    assert(GeoMath.lineCircleIntersect(fence.lat, fence.lon, fence.radiusKm,
      outsideW._1, outsideW._2, outside._1, outside._2))
    val out = runBatch(Seq(
      (1L, 2L, ts(0), outsideW._1, outsideW._2), // first seen, outside
      (2L, 2L, ts(1), outside._1, outside._2),   // OUT->OUT through center: CROSS
      (3L, 2L, ts(2), far._1, far._2)))          // OUT->OUT east, no cross: OUTSIDE
    assert(out.filter(_._1 == 2L) == Seq((2L, 0, "CROSS")))
    assert(out.filter(_._1 == 3L) == Seq((3L, 0, "OUTSIDE")))
  }

  test("only the 3 nearest fences are evaluated (geofence.go:65)") {
    val fences = Seq(
      Fence("a", -7.5, 110.80, 2.0), Fence("b", -7.5, 110.82, 2.0),
      Fence("c", -7.5, 110.84, 2.0), Fence("d", -7.5, 112.5, 2.0))
    val out = Geofence.fenceStatus(
        Seq((1L, 1L, ts(0), -7.5, 110.8)).toDF("event_id", "user_id", "ts", "lat", "lon"),
        fences)
      .select("fence_key").distinct().collect().map(_.getString(0)).toSet
    assert(out == Set("a", "b", "c"))
  }

  /** 40 fences over the derived track's region. */
  private val grid40 = (for (i <- 0 until 8; j <- 0 until 5) yield
    Fence(f"g$i%02d_$j", -8.2 + i * 0.35, 110.0 + j * 0.5, 20.0 + (i + j) % 3 * 10)).toSeq

  /** grid40 shifted by a tenth of a degree, twice over: 80 fences. */
  private val grid80 = grid40 ++ grid40.map(f => f.copy(key = f.key + "b", lat = f.lat + 0.1))

  /** 10k fences on a 0.02 x 0.05 degree lattice, about one per level-13 cell. */
  private val lattice10k = (0 until 10000).map(i =>
    Fence(f"k$i%05d", -8.5 + (i % 100) * 0.02, 105.5 + (i / 100) * 0.05, 5.0))

  private type Status = (Long, String, Int, String)

  private def statusKeys(df: org.apache.spark.sql.DataFrame): Set[Status] =
    df.select("event_id", "fence_key", "seq", "status").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet

  /** The operator by brute force on the driver: rows without a position
   *  dropped, each user's rows in (ts, event_id) order, every fence sorted
   *  by (GeoMath haversine, key) and the first k kept, then the truth
   *  table with GeoMath's circleContains and lineCircleIntersect. */
  private def reference(track: org.apache.spark.sql.DataFrame, fences: Seq[Fence],
                        k: Int = 3): Set[Status] = {
    val located = track
      .select(col("event_id"), col("user_id"), col("ts").cast("timestamp"), col("lat"), col("lon"))
      .collect().toSeq
      .filterNot(r => r.isNullAt(3) || r.isNullAt(4))
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime, r.getDouble(3), r.getDouble(4)))
    located.groupBy(_._2).values.flatMap { rows =>
      val byTime = rows.sortBy(p => (p._3, p._1))
      byTime.zip(None +: byTime.map(p => Some((p._4, p._5)))).flatMap {
        case ((id, _, _, lat, lon), prev) =>
          fences.sortBy(f => (GeoMath.haversineKm(lat, lon, f.lat, f.lon), f.key)).take(k).flatMap { f =>
            def in(p: (Double, Double)) = GeoMath.circleContains(f.lat, f.lon, f.radiusKm, p._1, p._2)
            val (pLat, pLon) = prev.getOrElse((-999.0, -999.0))
            val st = (prev.exists(in), in((lat, lon))) match {
              case (true, true) => Seq("INSIDE")
              case (true, false) => Seq("EXIT", "OUTSIDE")
              case (false, true) => Seq("ENTER", "INSIDE")
              case (false, false) =>
                if (GeoMath.lineCircleIntersect(f.lat, f.lon, f.radiusKm, pLat, pLon, lat, lon)) Seq("CROSS")
                else Seq("OUTSIDE")
            }
            st.zipWithIndex.map { case (s, i) => (id, f.key, i, s) }
          }
      }
    }.toSet
  }

  private def diverged(got: Set[Status], exp: Set[Status]) =
    s"extra ${got.diff(exp).take(3)}, missing ${exp.diff(got).take(3)}"

  test("fenceStatus == brute-force reference at 0, 1, 2, 3, 40 and 80 fences") {
    val track = Derived.track(spark, TestSpark.Sf)
    for (fences <- Seq(Nil, grid40.take(1), grid40.take(2), grid40.take(3), grid40, grid80)) {
      val got = statusKeys(Geofence.fenceStatus(track, fences))
      val exp = reference(track, fences)
      assert(got == exp, s"${fences.size} fences: ${diverged(got, exp)}")
      if (fences.size >= 40) assert(exp.exists(_._4 == "INSIDE"), "no track point came inside a fence")
    }
  }

  test("building the plan runs 0 jobs at 2, 40 and 80 fences; collect() at most 2") {
    val track = Derived.track(spark, TestSpark.Sf)
    for (fences <- Seq(grid40.take(2), grid40, grid80)) {
      val (out, buildJobs) = TestSpark.jobsOf(Geofence.fenceStatus(track, fences))
      assert(buildJobs == 0, s"building the plan at ${fences.size} fences ran $buildJobs jobs")
      val (rows, jobs) = TestSpark.jobsOf(out.collect())
      assert(rows.nonEmpty)
      // 2: what the literal-array plan this one replaced ran at 40 fences
      assert(jobs <= 2, s"collect() at ${fences.size} fences ran $jobs jobs")
    }
  }

  test("a null lat or lon emits nothing and is no previous position, batch and stream") {
    // at 40 fences, (-8.2, 110.0) is the centre of g00_0; at 10k fences,
    // (-7.4, 108.1) is the centre of k05255
    val cases = Seq(
      (grid40, Seq[(Long, Long, Timestamp, Option[Double], Option[Double])](
        (1L, 1L, ts(0), Some(-8.2), None), (2L, 1L, ts(1), Some(-8.2), Some(110.0)),
        (3L, 2L, ts(2), Some(-7.5), Some(110.5)), (4L, 2L, ts(3), None, None),
        (5L, 2L, ts(4), Some(-7.5), Some(110.6))), (2L, "g00_0")),
      (lattice10k, Seq[(Long, Long, Timestamp, Option[Double], Option[Double])](
        (1L, 1L, ts(0), Some(-7.5), Some(108.0)), (2L, 1L, ts(1), None, Some(108.1)),
        (3L, 2L, ts(2), Some(-7.4), None), (4L, 2L, ts(3), Some(-7.4), Some(108.1))), (4L, "k05255")))
    for (((fences, rows, (centred, fence)), i) <- cases.zipWithIndex) {
      val track = rows.toDF("event_id", "user_id", "ts", "lat", "lon")
      val batch = statusKeys(Geofence.fenceStatus(track, fences))
      val stream = statusKeys(GeofenceStream.runBatchAsStream(spark, track, fences,
        queryName = s"geofence_null_$i"))
      val exp = reference(track, fences)
      assert(batch == exp, s"${fences.size} fences, batch: ${diverged(batch, exp)}")
      assert(stream == exp, s"${fences.size} fences, stream: ${diverged(stream, exp)}")
      assert(batch.map(_._1) == rows.filter(r => r._4.nonEmpty && r._5.nonEmpty).map(_._1).toSet)
      // the first located row of its user, at a fence centre
      assert(Set((centred, fence, 0, "ENTER"), (centred, fence, 1, "INSIDE")).subsetOf(batch))
    }
  }

  test("ties rank by key in batch and stream, at k = 1 and k = 3") {
    // four fences on one centre; and a pair the same distance from
    // `tiePoint` up to rounding, which GeoMath's haversine puts ta first
    // and the column form of the same formula tb first
    val tiePoint = (-6.811697496874067, 110.22311108787784)
    val fences = Seq("d", "b", "c", "a").map(Fence(_, -7.5, 110.8, 2.0)) ++ Seq(
      Fence("ta", -6.676984077735144, 110.21600285390147, 5.0),
      Fence("tb", -6.699855888824801, 110.29906386512008, 5.0))
    val track = Seq((1L, 1L, ts(0), -7.5, 110.8), (2L, 2L, ts(0), tiePoint._1, tiePoint._2))
      .toDF("event_id", "user_id", "ts", "lat", "lon")
    for ((k, keys) <- Seq(1 -> Map(1L -> Set("a"), 2L -> Set("ta")),
                          3 -> Map(1L -> Set("a", "b", "c"), 2L -> Set("ta", "tb", "a")))) {
      val batch = statusKeys(Geofence.fenceStatus(track, fences, k))
      val stream = statusKeys(GeofenceStream.runBatchAsStream(spark, track, fences,
        queryName = s"geofence_ties_$k", nearestFences = k))
      assert(batch.groupBy(_._1).view.mapValues(_.map(_._2)).toMap == keys, s"k=$k: $batch")
      assert(batch == reference(track, fences, k), s"k=$k: batch differs from the reference")
      assert(stream == batch, s"k=$k: stream ${diverged(stream, batch)}")
    }
  }

  test("10k fences: no fence-key literal in the plan, 3 nearest per point") {
    val track = Seq((1L, 1L, ts(0), -7.5, 108.0), (2L, 1L, ts(1), -7.4, 108.1))
      .toDF("event_id", "user_id", "ts", "lat", "lon")
    val out = Geofence.fenceStatus(track, lattice10k)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("k09999"),
      "fence keys must not be inlined as plan literals")
    val rows = out.collect()
    assert(rows.length >= 2 * 3 && rows.forall(_.getString(5).nonEmpty))
    val perEvent = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(3)).distinct.length)
    assert(perEvent.values.forall(_ == 3), s"expected 3 nearest fences per point: $perEvent")
  }

  test("FenceGrid: ring-probe k-nearest == full-scan k-nearest over 10k fences") {
    val fences = lattice10k
    val grid = Geofence.FenceGrid.build(fences)
    val points = (0 until 50).map(i => (-8.6 + i * 0.045, 105.3 + i * 0.11)) ++
      Seq((-20.0, 150.0), (-8.5, 105.5)) // far outside + exactly on a center
    for ((lat, lon) <- points; k <- Seq(1, 3, 7)) {
      val brute = fences
        .sortBy(f => (graft.core.GeoMath.haversineKm(lat, lon, f.lat, f.lon), f.key))
        .take(k).map(_.key)
      assert(grid.nearest(lat, lon, k).map(_.key) == brute,
        s"grid k-nearest diverged at ($lat,$lon) k=$k")
    }
  }

  test("streaming geofence at 10k fences == batch, both on the fence grid") {
    val track = (0 until 24).map { i =>
      (i.toLong, (i % 4).toLong, ts(i), -8.4 + (i % 7) * 0.15, 105.6 + (i % 5) * 0.9)
    }.toDF("event_id", "user_id", "ts", "lat", "lon")
    val batch = statusKeys(Geofence.fenceStatus(track, lattice10k))
    val stream = statusKeys(GeofenceStream.runBatchAsStream(spark, track, lattice10k,
      queryName = "geofence_stream_10k"))
    assert(batch.nonEmpty && stream == batch, s"stream: ${diverged(stream, batch)}")
    val exp = reference(track, lattice10k)
    assert(batch == exp, s"batch: ${diverged(batch, exp)}")
  }

  test("FenceStore: persisted named collections with MERGE upsert (fence_index.go:21-48,88-96)") {
    val dir = java.nio.file.Files.createTempDirectory("fence-store").toString
    val store = new Geofence.FenceStore(spark, dir)
    store.addCollection("jakarta")
    intercept[IllegalArgumentException](store.addCollection("jakarta")) // AddFence errors on dup (:33-38)
    intercept[IllegalArgumentException](store.fences("nope"))           // Search errors on missing (:49-54)
    assert(store.fences("jakarta") == Seq.empty)                        // empty collection persists
    store.upsertFencePoint("jakarta", Fence("a", -7.5, 110.8, 2.0))
    store.upsertFencePoint("jakarta", Fence("b", -7.6, 110.9, 3.0))
    // MERGE: same key replaces
    store.upsertFencePoint("jakarta", Fence("a", -7.5, 110.8, 9.0))
    // a second collection does not interfere
    store.addCollection("bogor")
    store.upsertFencePoint("bogor", Fence("a", -6.6, 106.8, 1.0))
    // a fresh store instance re-reads everything from disk
    val store2 = new Geofence.FenceStore(spark, dir)
    assert(store2.fences("jakarta") ==
      Seq(Fence("a", -7.5, 110.8, 9.0), Fence("b", -7.6, 110.9, 3.0)))
    assert(store2.fences("bogor") == Seq(Fence("a", -6.6, 106.8, 1.0)))
    store2.deleteCollection("jakarta")
    intercept[IllegalArgumentException](store2.fences("jakarta"))
    assert(store2.fences("bogor").nonEmpty)
    // search delegates to fenceStatus over the persisted fences
    val out = store2.search("bogor",
      Seq((1L, 1L, new java.sql.Timestamp(0), -6.6, 106.8))
        .toDF("event_id", "user_id", "ts", "lat", "lon"))
      .select("status").collect().map(_.getString(0)).toSet
    assert(out == Set("ENTER", "INSIDE"))
  }

  test("FenceStore crash window: a version cut before its manifest leaves the previous one readable") {
    import graft.pipeline.TableIO
    val dir = java.nio.file.Files.createTempDirectory("fence-crash").toString
    val store = new Geofence.FenceStore(spark, dir)
    store.addCollection("jakarta")
    store.upsertFencePoint("jakarta", Fence("a", -7.5, 110.8, 2.0))
    val Seq(committed) = TableIO.stages(dir, "fences_") // older versions are gone
    // the next version's data landed (_SUCCESS written), its manifest did not
    val cut = f"fences_${committed.stripPrefix("fences_").toInt + 1}%06d"
    Seq(("bogor", "z", -6.6, 106.8, 1.0)).toDF("collection", "fence_key", "flat", "flon", "fradius")
      .write.parquet(s"$dir/$cut")
    assert(new java.io.File(s"$dir/$cut/_SUCCESS").exists())
    val reopened = new Geofence.FenceStore(spark, dir)
    assert(reopened.fences("jakarta") == Seq(Fence("a", -7.5, 110.8, 2.0)))
    assert(!reopened.collectionExists("bogor"))
    // the next upsert writes over the cut version and commits it
    reopened.upsertFencePoint("jakarta", Fence("b", -7.6, 110.9, 3.0))
    assert(TableIO.stages(dir, "fences_") == Seq(cut))
    assert(new Geofence.FenceStore(spark, dir).fences("jakarta") ==
      Seq(Fence("a", -7.5, 110.8, 2.0), Fence("b", -7.6, 110.9, 3.0)))
    assert(!reopened.collectionExists("bogor"))
  }

  test("streaming flatMapGroupsWithState output equals the batch operator") {
    val track = Derived.track(spark, TestSpark.Sf).filter(col("user_id") < 5)
    val fences = graft.entry.SpatialQueries.Fences.all
    val batch = Geofence.fenceStatus(track, fences)
      .select("event_id", "fence_key", "seq", "status").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    val stream = GeofenceStream.runBatchAsStream(spark, track, fences)
      .select("event_id", "fence_key", "seq", "status").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(batch.nonEmpty)
    assert(stream == batch)
  }
}
