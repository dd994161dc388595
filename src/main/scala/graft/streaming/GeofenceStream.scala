package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.query.Geofence
import graft.query.Geofence.{Fence, FenceGrid}

/**
 * Streaming geofencing: the reference's per-request KV state
 * (last position per query point, /root/reference/pkg/kvdb/kv_db.go:109-137)
 * becomes `flatMapGroupsWithState` keyed by the point id; each incoming
 * position is evaluated against a broadcast [[FenceGrid]] with
 * [[FenceGrid.statuses]], the same nearest-fence pick and transition rule
 * as the batch operator [[Geofence.fenceStatus]].
 *
 * Event-time ordering caveat: within a micro-batch, events of one key are
 * sorted by ts before state is advanced, so replaying a batch table through
 * [[runBatchAsStream]] yields the identical output to the batch lag-window
 * operator (asserted in GeofenceSpec and FenceGridSpec).
 */
object GeofenceStream {

  case class TrackPoint(event_id: Long, user_id: Long, ts: Timestamp,
                        lat: Double, lon: Double)
  case class FenceEvent(event_id: Long, user_id: Long, ts: Timestamp,
                        fence_key: String, seq: Int, status: String)
  case class LastPos(lat: Double, lon: Double)

  def statusStream(points: Dataset[TrackPoint], fences: Seq[Fence],
                   nearestFences: Int = Geofence.NearestFences): Dataset[FenceEvent] = {
    val spark = points.sparkSession
    import spark.implicits._
    // a broadcast, not a closure capture: one copy per executor however
    // many tasks run
    val grid = spark.sparkContext.broadcast(FenceGrid.build(fences))
    points.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastPos, FenceEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[TrackPoint], state: GroupState[LastPos]) =>
          val sorted = rows.toSeq.sortBy(p => (p.ts.getTime, p.event_id))
          var prev = state.getOption.getOrElse(LastPos(Geofence.NoPosition, Geofence.NoPosition))
          val out = sorted.flatMap { p =>
            val evs = grid.value.statuses(prev.lat, prev.lon, p.lat, p.lon, nearestFences).map { s =>
              FenceEvent(p.event_id, p.user_id, p.ts, s.fence_key, s.seq, s.status)
            }
            prev = LastPos(p.lat, p.lon)
            evs
          }
          state.update(prev)
          out.iterator
      }
  }

  /** Drive a batch of rows through the streaming query synchronously
   *  (memory sink), for tests and parity checks. Rows with a null lat or
   *  lon are dropped before they are decoded, as the batch operator drops
   *  them. */
  def runBatchAsStream(spark: SparkSession, track: DataFrame, fences: Seq[Fence],
                       queryName: String = "geofence_stream",
                       nearestFences: Int = Geofence.NearestFences): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("geofence_stream_src").toString
    Geofence.located(track).select("event_id", "user_id", "ts", "lat", "lon")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
      .as[TrackPoint]
    val q = statusStream(stream, fences, nearestFences)
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
