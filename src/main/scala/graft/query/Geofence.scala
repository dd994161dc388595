package graft.query

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Geofencing: circle fences vs a stream of per-point positions, with the
 * reference's status-transition semantics
 * (/root/reference/pkg/geofence/geofence.go:97-116):
 *
 *   (prev IN,  curr IN)  -> [INSIDE]
 *   (prev IN,  curr OUT) -> [EXIT, OUTSIDE]
 *   (prev OUT, curr IN)  -> [ENTER, INSIDE]
 *   (prev OUT, curr OUT) -> [CROSS] if segment prev->curr intersects the
 *                           circle (circle.go:54-96) else [OUTSIDE]
 *
 * A missing previous position is the sentinel (-999, -999) treated as
 * OUTSIDE (fence_index.go:61-64). "Contains" is haversine <= radius
 * (circle.go:40-42).
 *
 * The reference evaluates only the 3 fences nearest to the current point
 * (geofence.go:65), found in its fence R-tree. Here one [[FenceGrid]]
 * picks them and [[FenceGrid.statuses]] applies the rule above, for the
 * batch operator [[fenceStatus]] and the streaming operator
 * [[graft.streaming.GeofenceStream]] alike, at every fence count. Batch
 * reads the previous position with lag() over (point, ts), the batch
 * equivalent of the reference's KV store (kv_db.go:109-137); the stream
 * keeps it as keyed state.
 */
object Geofence {

  case class Fence(key: String, lat: Double, lon: Double, radiusKm: Double)

  /** One emitted status; `seq` orders the two of EXIT/OUTSIDE and
   *  ENTER/INSIDE. */
  case class FenceStatus(fence_key: String, seq: Int, status: String)

  /** Fences evaluated per position (geofence.go:65). */
  val NearestFences = 3

  /** Latitude and longitude of the previous position a point's first
   *  position is given (fence_index.go:61-64). */
  val NoPosition = -999.0

  /**
   * Broadcastable cell-grid index over a fence set: the engine's
   * counterpart of the reference's fence R-tree (fence_index.go:33-48),
   * shipped to every task of [[fenceStatus]] and of the streaming
   * operator, where a per-point O(|fences|) scan would multiply a
   * 10^12-point stream by a 10^4-fence set. Fence CENTERS are kept sorted
   * by their cell at `level`, so a coarser cell's fences are one id range
   * ([[graft.core.Cells.childRange]]). [[nearest]] probes disks around the
   * point on the [[Spatial.effectiveDisk]] schedule (at most 25 cells a
   * probe, the whole grid last) and stops when the kth distance is within
   * the [[graft.core.Cells.minDistOutsideDiskKm]] bound of the probed disk,
   * or when the probe saw every fence.
   */
  final class FenceGrid private (level: Int, cells: Array[Long], fences: Array[Fence])
      extends Serializable {
    import graft.core.{Cells, GeoMath}

    /** The k nearest fences to (lat, lon) in (haversine, key) order. When
     *  k covers the whole set there is nothing to prune: every fence, sorted. */
    def nearest(lat: Double, lon: Double, k: Int): Seq[Fence] = {
      @annotation.tailrec
      def probe(r: Int): Seq[Fence] = {
        val (lvl, rad) = Spatial.effectiveDisk(level, r)
        // max-heap on (dist, key): the head is the worst of the k kept
        val top = new java.util.PriorityQueue[(Double, Fence)](k + 1, FenceGrid.Farthest)
        var seen = 0
        for (c <- Cells.disk(Cells.encode(lat, lon, lvl), rad)) {
          val (lo, hi) = Cells.childRange(c, level)
          val end = from(hi + 1)
          var i = from(lo)
          seen += end - i
          while (i < end) {
            top.add((GeoMath.haversineKm(lat, lon, fences(i).lat, fences(i).lon), fences(i)))
            if (top.size > k) top.poll()
            i += 1
          }
        }
        if (seen == fences.length ||
            top.size == k && top.peek._1 <= Cells.minDistOutsideDiskKm(lat, lon, lvl, rad))
          Seq.fill(top.size)(top.poll()._2).reverse
        else probe(2 * r)
      }
      if (k >= fences.length)
        fences.map(f => (GeoMath.haversineKm(lat, lon, f.lat, f.lon), f))
          .sorted(FenceGrid.Nearest).map(_._2).toSeq
      else probe(1)
    }

    /** The rule for a move (prevLat, prevLon) -> (lat, lon), against each
     *  of the k fences [[nearest]] (lat, lon) in turn. A previous position
     *  at [[NoPosition]] is OUTSIDE every fence, but the CROSS test still
     *  sees it, exactly like the reference (geofence.go:108-113). */
    def statuses(prevLat: Double, prevLon: Double, lat: Double, lon: Double,
                 k: Int): Seq[FenceStatus] =
      nearest(lat, lon, k).flatMap { f =>
        val prevIn = prevLat != NoPosition &&
          GeoMath.circleContains(f.lat, f.lon, f.radiusKm, prevLat, prevLon)
        val currIn = GeoMath.circleContains(f.lat, f.lon, f.radiusKm, lat, lon)
        val st = (prevIn, currIn) match {
          case (true, true) => Seq("INSIDE")
          case (true, false) => Seq("EXIT", "OUTSIDE")
          case (false, true) => Seq("ENTER", "INSIDE")
          case (false, false) =>
            if (GeoMath.lineCircleIntersect(f.lat, f.lon, f.radiusKm, prevLat, prevLon, lat, lon))
              Seq("CROSS")
            else Seq("OUTSIDE")
        }
        st.zipWithIndex.map { case (s, i) => FenceStatus(f.key, i, s) }
      }

    /** Index of the first fence whose cell is >= c. */
    private def from(c: Long): Int = {
      var (lo, hi) = (0, cells.length)
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (cells(m) < c) lo = m + 1 else hi = m
      }
      lo
    }
  }

  object FenceGrid {
    private val Nearest: Ordering[(Double, Fence)] =
      Ordering.by[(Double, Fence), (Double, String)](t => (t._1, t._2.key))
    private val Farthest = Nearest.reverse

    def build(fences: Seq[Fence],
              level: Int = graft.core.Cells.DefaultLevel): FenceGrid = {
      val byCell = fences.map(f => (graft.core.Cells.encode(f.lat, f.lon, level), f)).sortBy(_._1)
      new FenceGrid(level, byCell.map(_._1).toArray, byCell.map(_._2).toArray)
    }
  }

  /**
   * Persisted named fence collections (reference FenceIndex,
   * /root/reference/pkg/geofence/fence_index.go:21-48,88-96): collections
   * survive across requests and process restarts (the reference holds them
   * in server memory + a bbolt KV for query points; the batch equivalent is
   * a small parquet table with MERGE-by-key semantics).
   *
   *  - addCollection   = AddFence (:33-38, errors when it already exists)
   *  - deleteCollection = DeleteFence (:40-42)
   *  - upsertFencePoint = AddFencePoint (:88-96) with upsert semantics:
   *    the new circle replaces a same-key circle in the collection
   *  - fences(name) errors when the collection is missing, like Search
   *    (:49-54)
   *
   * Fence tables are broadcast-scale; each mutation writes the whole
   * table as a new version, a [[graft.pipeline.TableIO]] stage
   * `fences_<seq>` whose manifest rename is the commit (at warehouse scale
   * this becomes an Iceberg MERGE INTO — the call shape is identical).
   * Readers take the newest complete version; the older ones are deleted
   * only after the new one commits, so a write cut at any point leaves the
   * previous version readable, and the next write replaces the cut one.
   * An empty collection is a marker row with a null fence_key.
   */
  class FenceStore(spark: SparkSession, dir: String) {
    import spark.implicits._
    import graft.pipeline.TableIO

    private val Prefix = "fences_"

    private def emptyTable: DataFrame =
      Seq.empty[(String, Option[String], Double, Double, Double)]
        .toDF("collection", "fence_key", "flat", "flon", "fradius")

    private def newest(versions: Seq[String]): DataFrame =
      versions.lastOption.fold(emptyTable)(TableIO.read(spark, dir, _))

    /** The newest complete version, read with its manifest's DDL: no
     *  schema-inference job per read. */
    def load(): DataFrame = newest(TableIO.stages(dir, Prefix))

    /** Every stored row, in one job; fence tables are broadcast-scale. */
    private def all(): Seq[Row] = load().collect().toSeq

    /** One mutation: list the versions once, commit `f` of the newest one's
     *  rows as the next version, then retire the listed ones. */
    private def mutate(f: Seq[Row] => Seq[Row]): Unit = {
      val prior = TableIO.stages(dir, Prefix)
      val rows = f(newest(prior).collect().toSeq)
      val seq = prior.lastOption.fold(0)(_.stripPrefix(Prefix).toInt + 1)
      // the new version is built on the driver from the collected old one,
      // so the write never reads the files it replaces
      TableIO.stageWrite(spark, dir, f"$Prefix$seq%06d") {
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), emptyTable.schema)
      }
      TableIO.drop(dir, prior)
    }

    private def inCollection(name: String)(r: Row): Boolean = r.getString(0) == name

    def collectionExists(name: String): Boolean = all().exists(inCollection(name))

    def addCollection(name: String): Unit = mutate { rows =>
      require(!rows.exists(inCollection(name)), s"fence already exists: $name")
      rows :+ Row(name, null, 0.0, 0.0, 0.0)
    }

    def deleteCollection(name: String): Unit = mutate(_.filterNot(inCollection(name)))

    /** MERGE by (collection, fence_key): the new circle wins. */
    def upsertFencePoint(name: String, fence: Fence): Unit = mutate { rows =>
      require(rows.exists(inCollection(name)), s"FenceIndex does not contain fence $name")
      rows.filterNot(r => inCollection(name)(r) && r.getString(1) == fence.key) :+
        Row(name, fence.key, fence.lat, fence.lon, fence.radiusKm)
    }

    def fences(name: String): Seq[Fence] = {
      val rows = all().filter(inCollection(name))
      require(rows.nonEmpty, s"FenceIndex does not contain fence $name")
      rows.filterNot(_.isNullAt(1))
        .map(r => Fence(r.getString(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .sortBy(_.key)
    }

    /** FenceIndex.Search recast for batch: status of a track against the
     *  named persisted collection (fence_index.go:49-72). */
    def search(name: String, track: DataFrame, nearestFences: Int = NearestFences): DataFrame =
      fenceStatus(track, fences(name), nearestFences)
  }

  /**
   * track: (event_id, user_id, ts, lat, lon); fences broadcast.
   * Returns one row per emitted status: (event_id, user_id, ts, fence_key,
   * seq, status) where seq orders multi-status emissions (EXIT/OUTSIDE,
   * ENTER/INSIDE). A row with a null lat or lon emits nothing and is not
   * the previous position of the next row. One projection over the `lag`
   * window: a UDF over a broadcast [[FenceGrid]] applies
   * [[FenceGrid.statuses]], the rule the streaming operator applies too,
   * so building the plan runs no job and puts no fence literal in it.
   */
  def fenceStatus(track: DataFrame, fences: Seq[Fence],
                  nearestFences: Int = NearestFences): DataFrame = {
    val grid = track.sparkSession.sparkContext.broadcast(FenceGrid.build(fences))
    val statuses = udf((prevLat: Double, prevLon: Double, lat: Double, lon: Double) =>
      grid.value.statuses(prevLat, prevLon, lat, lon, nearestFences))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    located(track)
      .withColumn("prev_lat", lag(col("lat"), 1, NoPosition).over(w))
      .withColumn("prev_lon", lag(col("lon"), 1, NoPosition).over(w))
      .select(col("event_id"), col("user_id"), col("ts"),
        inline(statuses(col("prev_lat"), col("prev_lon"), col("lat"), col("lon"))))
  }

  /** The track rows that have a position: both lat and lon non-null. */
  private[graft] def located(track: DataFrame): DataFrame =
    track.filter(col("lat").isNotNull && col("lon").isNotNull)
}
