package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.core.GeoMath
import graft.query.Geofence.Fence

/**
 * Streaming geofencing: the reference's per-request KV state
 * (last position per query point, /root/reference/pkg/kvdb/kv_db.go:109-137)
 * becomes `flatMapGroupsWithState` keyed by the point id; each incoming
 * position is evaluated against the broadcast fence set with the exact
 * transition semantics of geofence.go:97-116 (same code path as the batch
 * operator — [[transitions]] is shared).
 *
 * Event-time ordering caveat: within a micro-batch, events of one key are
 * sorted by ts before state is advanced, so replaying a batch table through
 * [[runBatchAsStream]] yields the identical output to the batch lag-window
 * operator (asserted in GeofenceStreamSpec).
 */
object GeofenceStream {

  case class TrackPoint(event_id: Long, user_id: Long, ts: Timestamp,
                        lat: Double, lon: Double)
  case class FenceEvent(event_id: Long, user_id: Long, ts: Timestamp,
                        fence_key: String, seq: Int, status: String)
  case class LastPos(lat: Double, lon: Double)

  /** Transition rule, shared semantics with the batch operator. `grid`:
   *  the cell index used past [[graft.query.Geofence.LiteralFenceMax]]
   *  fences, the same one the batch operator probes there — same
   *  (dist, key)-ordered k-nearest, found by cell probes instead of an
   *  O(|fences|) scan per point. */
  def transitions(prev: Option[LastPos], lat: Double, lon: Double,
                  fences: Seq[Fence], nearestFences: Int = 3,
                  grid: Option[graft.query.Geofence.FenceGrid] = None): Seq[(String, Int, String)] = {
    val nearest = grid.map(_.nearest(lat, lon, nearestFences)).getOrElse(
      fences.sortBy(f => (GeoMath.haversineKm(lat, lon, f.lat, f.lon), f.key))
        .take(nearestFences))
    // missing previous position = sentinel (-999, -999), exactly like the
    // reference (fence_index.go:61-64) — note the sentinel also flows into
    // the CROSS intersection test (geofence.go:108-113), reproduced as-is
    // for parity with the batch operator and the oracle.
    val p = prev.getOrElse(LastPos(-999.0, -999.0))
    nearest.flatMap { f =>
      val prevIn = p.lat != -999.0 &&
        GeoMath.circleContains(f.lat, f.lon, f.radiusKm, p.lat, p.lon)
      val currIn = GeoMath.circleContains(f.lat, f.lon, f.radiusKm, lat, lon)
      val st: Seq[String] = (prevIn, currIn) match {
        case (true, true) => Seq("INSIDE")
        case (true, false) => Seq("EXIT", "OUTSIDE")
        case (false, true) => Seq("ENTER", "INSIDE")
        case (false, false) =>
          val crossed = GeoMath.lineCircleIntersect(
            f.lat, f.lon, f.radiusKm, p.lat, p.lon, lat, lon)
          if (crossed) Seq("CROSS") else Seq("OUTSIDE")
      }
      st.zipWithIndex.map { case (s, i) => (f.key, i, s) }
    }
  }

  def statusStream(points: Dataset[TrackPoint], fences: Seq[Fence]): Dataset[FenceEvent] = {
    val spark = points.sparkSession
    import spark.implicits._
    // fence sets past the literal cap get the cell-grid index the batch
    // operator uses there: per-point cost becomes cell probes, not an
    // O(|fences|) scan. Shipped to tasks as a broadcast, not a closure
    // capture — one copy per executor however many tasks run.
    val gridB = spark.sparkContext.broadcast(
      if (fences.size > graft.query.Geofence.LiteralFenceMax)
        Some(graft.query.Geofence.FenceGrid.build(fences))
      else None)
    val fencesB = spark.sparkContext.broadcast(fences)
    points.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastPos, FenceEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[TrackPoint], state: GroupState[LastPos]) =>
          val sorted = rows.toSeq.sortBy(p => (p.ts.getTime, p.event_id))
          var prev = state.getOption
          val out = sorted.flatMap { p =>
            val evs = transitions(prev, p.lat, p.lon, fencesB.value,
              grid = gridB.value).map {
              case (k, seq, st) => FenceEvent(p.event_id, p.user_id, p.ts, k, seq, st)
            }
            prev = Some(LastPos(p.lat, p.lon))
            evs
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** Drive a batch of rows through the streaming query synchronously
   *  (memory sink), for tests and parity checks. */
  def runBatchAsStream(spark: SparkSession, track: DataFrame, fences: Seq[Fence],
                       queryName: String = "geofence_stream"): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("geofence_stream_src").toString
    track.select("event_id", "user_id", "ts", "lat", "lon")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
      .as[TrackPoint]
    val q = statusStream(stream, fences)
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  private object Files {
    def createTempDirectory(prefix: String): java.nio.file.Path =
      java.nio.file.Files.createTempDirectory(prefix)
  }
}
