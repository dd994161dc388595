package graft.query

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.GeoFunctions._

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
 * Batch semantics: the reference processes one API call at a time and reads
 * the previous position from a KV store (kv_db.go:109-137) — the batch
 * equivalent is lag() over (point, ts). The fence set is tiny and broadcast.
 * The reference evaluates only the 3 fences nearest to the current point
 * (geofence.go:65); `nearestFences` reproduces that cap (ordered by center
 * distance — the reference orders by R-tree bbox min-dist, identical for
 * point-like circle bounds of equal radius).
 */
object Geofence {

  case class Fence(key: String, lat: Double, lon: Double, radiusKm: Double)

  /**
   * Broadcastable cell-grid index over a fence set — the DRIVER-SIDE twin
   * of [[fenceStatusJoin]]'s ring join and of the reference's fence R-tree
   * (fence_index.go:33-48), for the streaming operator where each task
   * holds the fence set and a per-point O(|fences|) scan would multiply a
   * 10^12-point stream by a 10^4-fence set. Fence CENTERS are indexed by
   * their cell; [[nearest]] probes expanding disks around the point's cell
   * and stops when the kth candidate distance is within the provable
   * [[graft.core.Cells.minDistOutsideDiskKm]] bound — identical ordering
   * ((dist, key)) and identical results to the batch plans (spec'd parity
   * at 10k fences).
   */
  case class FenceGrid(level: Int, byCell: Map[Long, Array[Fence]],
                       all: Array[Fence]) {
    import graft.core.{Cells, GeoMath}

    private val maxR = 1 << math.min(6, level) // beyond this: brute force

    def nearest(lat: Double, lon: Double, k: Int): Seq[Fence] = {
      if (all.length <= k) return sortAll(lat, lon).toSeq
      val c = Cells.encode(lat, lon, level)
      var r = 1
      while (r <= maxR) {
        val cand = Cells.disk(c, r).flatMap(byCell.getOrElse(_, FenceGrid.NoFences))
        if (cand.length >= k) {
          val top = cand
            .map(f => (GeoMath.haversineKm(lat, lon, f.lat, f.lon), f))
            .sortBy { case (d, f) => (d, f.key) }
            .take(k)
          if (top.last._1 <= Cells.minDistOutsideDiskKm(lat, lon, level, r))
            return top.map(_._2).toSeq
        }
        r *= 2
      }
      sortAll(lat, lon).take(k).toSeq
    }

    private def sortAll(lat: Double, lon: Double): Array[Fence] =
      all.sortBy(f => (GeoMath.haversineKm(lat, lon, f.lat, f.lon), f.key))
  }

  object FenceGrid {
    private val NoFences = Array.empty[Fence]

    def build(fences: Seq[Fence],
              level: Int = graft.core.Cells.DefaultLevel): FenceGrid = {
      val arr = fences.toArray
      FenceGrid(level,
        arr.groupBy(f => graft.core.Cells.encode(f.lat, f.lon, level)), arr)
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
   * Fence tables are broadcast-scale; each mutation rewrites the table
   * (at warehouse scale this becomes an Iceberg MERGE INTO — the call
   * shape is identical). An empty collection is a marker row with a null
   * fence_key.
   */
  class FenceStore(spark: SparkSession, dir: String) {
    import spark.implicits._
    private val path = s"$dir/fences.parquet"

    private def emptyTable: DataFrame =
      Seq.empty[(String, Option[String], Double, Double, Double)]
        .toDF("collection", "fence_key", "flat", "flon", "fradius")

    /** Read with the known schema: no schema-inference job per read. */
    def load(): DataFrame =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
        spark.read.schema(emptyTable.schema).parquet(path)
      else emptyTable

    /** Every stored row, in one job; fence tables are broadcast-scale. */
    private def all(): Seq[Row] = load().collect().toSeq

    private def write(rows: Seq[Row]): Unit =
      // the new table is built on the driver from the collected old one,
      // so the overwrite never reads the files it replaces
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), emptyTable.schema)
        .write.mode("overwrite").parquet(path)

    private def inCollection(name: String)(r: Row): Boolean = r.getString(0) == name

    def collectionExists(name: String): Boolean = all().exists(inCollection(name))

    def addCollection(name: String): Unit = {
      val rows = all()
      require(!rows.exists(inCollection(name)), s"fence already exists: $name")
      write(rows :+ Row(name, null, 0.0, 0.0, 0.0))
    }

    def deleteCollection(name: String): Unit =
      write(all().filterNot(inCollection(name)))

    /** MERGE by (collection, fence_key): the new circle wins. */
    def upsertFencePoint(name: String, fence: Fence): Unit = {
      val rows = all()
      require(rows.exists(inCollection(name)), s"FenceIndex does not contain fence $name")
      val kept = rows.filterNot(r => inCollection(name)(r) && r.getString(1) == fence.key)
      write(kept :+ Row(name, fence.key, fence.lat, fence.lon, fence.radiusKm))
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
    def search(name: String, track: DataFrame, nearestFences: Int = 3): DataFrame =
      fenceStatus(track, fences(name), nearestFences)
  }

  /** Above this fence count the literal-array plan stops being the right
   *  shape (plan-size blowup from an N-element literal in every task) and
   *  [[fenceStatus]] switches to the cell-keyed broadcast ring join —
   *  the engine equivalent of the reference's fence R-tree
   *  (fence_index.go:33-48). */
  val LiteralFenceMax = 64

  /**
   * track: (event_id, user_id, ts, lat, lon); fences broadcast.
   * Returns one row per emitted status: (event_id, user_id, ts, fence_key,
   * seq, status) where seq orders multi-status emissions (EXIT/OUTSIDE,
   * ENTER/INSIDE). Fence sets up to [[LiteralFenceMax]] evaluate map-side
   * as a literal array; larger sets route through [[fenceStatusJoin]]
   * (same rows, join-shaped plan).
   */
  def fenceStatus(track: DataFrame, fences: Seq[Fence], nearestFences: Int = 3): DataFrame = {
    val spark = track.sparkSession
    import spark.implicits._

    // empty fence set (a supported FenceStore state: collection exists, no
    // circles yet): no statuses, like the reference's FenceIndex.Search
    // over an empty index. Without this guard the zero-struct literal
    // array() types as array<null> and the transform lambda's field
    // extraction fails analysis.
    if (fences.isEmpty)
      return track
        .select(col("event_id"), col("user_id"), col("ts"),
          lit("").as("fence_key"), lit(0).as("seq"), lit("").as("status"))
        .limit(0)

    if (fences.size > LiteralFenceMax)
      return fenceStatusJoin(track,
        fences.map(f => (f.key, f.lat, f.lon, f.radiusKm))
          .toDF("fence_key", "flat", "flon", "fradius"),
        nearestFences)

    // keep the `nearestFences` fences per point, by center distance — the
    // fence set is a literal array, so per-row sort + slice selects the
    // nearest MAP-SIDE: no track x fences cross product through a
    // row_number window (that shape shuffles every candidate row; this one
    // adds zero shuffles beyond the lag window above). struct field order
    // (fdist, fence_key) makes array_sort reproduce ORDER BY fdist, key.
    val fenceArr = array(fences.map(f => struct(
      lit(f.key).as("fence_key"), lit(f.lat).as("flat"),
      lit(f.lon).as("flon"), lit(f.radiusKm).as("fradius"))): _*)
    val ranked = array_sort(transform(fenceArr, f => struct(
      haversineKm(col("lat"), col("lon"), f("flat"), f("flon")).as("fdist"),
      f("fence_key").as("fence_key"), f("flat").as("flat"),
      f("flon").as("flon"), f("fradius").as("fradius"))))
    val nearest = withPrev(track)
      .withColumn("nf", explode(slice(ranked, 1, nearestFences)))
      .select(col("*"), col("nf.fence_key").as("fence_key"), col("nf.flat").as("flat"),
        col("nf.flon").as("flon"), col("nf.fradius").as("fradius"),
        col("nf.fdist").as("fdist"))
      .drop("nf")
    statusFromNearest(nearest)
  }

  /** lag() previous position per user — shared by both plans. */
  private def withPrev(track: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    track
      .withColumn("prev_lat", lag(col("lat"), 1, -999.0).over(w))
      .withColumn("prev_lon", lag(col("lon"), 1, -999.0).over(w))
  }

  /** Status projection over per-(point, fence) candidate rows — the shared
   *  tail of both plans. Input columns: event_id, user_id, ts, lat, lon,
   *  prev_lat, prev_lon, fence_key, flat, flon, fradius, fdist. */
  private def statusFromNearest(nearest: DataFrame): DataFrame = {
    // each predicate is computed ONCE as a boolean column before the CASE:
    // CaseWhen branches are lazily evaluated, so Catalyst cannot eliminate
    // a subexpression shared ACROSS branches — inlining these re-evaluated
    // the prev-position haversine in every branch condition (measured 1.7 s
    // vs 0.3 s for the whole status projection at sf0.1). curr_in reuses
    // the nearest-fence distance already computed for the ranking.
    val prevIn = col("prev_lat") =!= -999.0 &&
      haversineKm(col("flat"), col("flon"), col("prev_lat"), col("prev_lon")) <= col("fradius")
    val currIn = col("fdist") <= col("fradius")
    val crosses = lineCircleIntersect(col("flat"), col("flon"), col("fradius"),
      col("prev_lat"), col("prev_lon"), col("lat"), col("lon"))

    val statuses = when(col("prev_in") && col("curr_in"), array(lit("INSIDE")))
      .when(col("prev_in") && !col("curr_in"), array(lit("EXIT"), lit("OUTSIDE")))
      .when(!col("prev_in") && col("curr_in"), array(lit("ENTER"), lit("INSIDE")))
      .otherwise(when(col("crossed"), array(lit("CROSS"))).otherwise(array(lit("OUTSIDE"))))

    nearest
      .withColumn("prev_in", prevIn)
      .withColumn("curr_in", currIn)
      .withColumn("crossed", crosses)
      .withColumn("statuses", statuses)
      .select(col("event_id"), col("user_id"), col("ts"), col("fence_key"),
        posexplode(col("statuses")).as(Seq("seq", "status")))
  }

  /**
   * Large-fence-set plan: the `nearestFences` nearest fences per point via a
   * cell-keyed BROADCAST ring join — the engine twin of the reference's
   * fence R-tree kNN (fence_index.go:49-72). Unlike [[Spatial.knnJoin]],
   * whose one plan broadcasts the query side's covers, the BIG side here is
   * the track, which is never broadcast and never collected; the fence
   * table is broadcast-scale, so the fences take the covers and the search
   * runs in rounds.
   *
   * Per round: fences explode into their <=25-cell disk at a coarsened
   * level ([[Spatial.effectiveDisk]] — broadcast side bounded at 25 x
   * |fences| rows however wide the search), points join on their own single
   * cell, per-point candidates reduce to the k nearest by (dist, key) —
   * identical ordering to the literal plan's array_sort. A point converges
   * when its kth candidate distance is within the band-conservative ring
   * bound ([[graft.core.Cells.minDistOutsideDiskBandKm]], one constant per
   * round — no per-row bound UDF); unconverged points retry with a doubled
   * radius, pending tracked by ANTI-JOIN (no driver-side point ids).
   * Per-point candidate buffers are bounded by the fences in one disk.
   */
  def fenceStatusJoin(track: DataFrame, fenceDf: DataFrame, nearestFences: Int = 3,
                      level: Int = graft.core.Cells.DefaultLevel,
                      maxRounds: Int = 32): DataFrame = {
    import graft.core.Cells
    // round materialization uses localCheckpoint: the blocks backing each
    // round cut lineage; once the caller drops the result, the
    // ContextCleaner reclaims them with the unreferenced RDDs
    val emptyOut = track
      .select(col("event_id"), col("user_id"), col("ts"),
        lit("").as("fence_key"), lit(0).as("seq"), lit("").as("status"))
      .limit(0)
    if (fenceDf.isEmpty) return emptyOut

    val fenceCount = fenceDf.count()
    val k = math.min(nearestFences.toLong, fenceCount).toInt
    // one pass for the conservative convergence band (max |lat| of points)
    val bandRow = track.agg(max(abs(col("lat")))).head()
    if (bandRow.isNullAt(0)) return emptyOut
    val maxAbsLat = bandRow.getDouble(0)

    var pending = withPrev(track).localCheckpoint(eager = true)
    var acc: Option[DataFrame] = None
    var r = 1
    var round = 0
    var pendingCount = pending.count()
    while (round < maxRounds && pendingCount > 0) {
      val (lvl, rad) = Spatial.effectiveDisk(level, r)
      val fullCover = lvl <= 1 && rad >= 2
      val cand = fenceRoundCandidates(pending, fenceDf, lvl, rad)
      // (fdist, fence_key) struct order == the literal plan's array_sort key
      val sel = cand.groupBy(col("event_id"))
        .agg(first(col("user_id")).as("user_id"), first(col("ts")).as("ts"),
          first(col("lat")).as("lat"), first(col("lon")).as("lon"),
          first(col("prev_lat")).as("prev_lat"), first(col("prev_lon")).as("prev_lon"),
          slice(array_sort(collect_list(struct(
            col("fdist"), col("fence_key"), col("flat"), col("flon"), col("fradius")))),
            1, k).as("nf"))
      val bound = Cells.minDistOutsideDiskBandKm(maxAbsLat, lvl, rad)
      val done = (if (fullCover) sel
        else sel.filter(size(col("nf")) >= k && element_at(col("nf"), k)("fdist") <= bound))
        .localCheckpoint(eager = true)
      val doneRows = done
        .withColumn("x", explode(col("nf")))
        .select(col("event_id"), col("user_id"), col("ts"), col("lat"), col("lon"),
          col("prev_lat"), col("prev_lon"),
          col("x.fence_key").as("fence_key"), col("x.flat").as("flat"),
          col("x.flon").as("flon"), col("x.fradius").as("fradius"),
          col("x.fdist").as("fdist"))
      acc = Some(acc.map(_.unionByName(doneRows)).getOrElse(doneRows))
      pending =
        if (fullCover) pending.limit(0)
        else pending.join(done.select(col("event_id")), Seq("event_id"), "left_anti")
          .localCheckpoint(eager = true)
      pendingCount = if (fullCover) 0L else pending.count()
      r *= 2
      round += 1
    }
    // unreachable with the default level/maxRounds (rings coarsen to a
    // full-grid cover first), but silently omitting still-pending points
    // would be a wrong answer — fail loudly, like Components
    if (pendingCount > 0)
      throw new IllegalStateException(
        s"fenceStatusJoin did not converge: $pendingCount track points " +
          s"still pending after $maxRounds rounds (level=$level); " +
          "raise maxRounds or lower the starting level")
    acc.map(statusFromNearest).getOrElse(emptyOut)
  }

  /** One ring-join round of [[fenceStatusJoin]]: fences exploded into their
   *  disk cells (broadcast), points joined on their own cell. Exposed so
   *  plan shape (BroadcastHashJoin, no fence literals) is assertable —
   *  inside the loop every round materializes behind a checkpoint. */
  def fenceRoundCandidates(pending: DataFrame, fenceDf: DataFrame,
                           lvl: Int, rad: Int): DataFrame = {
    val fx = fenceDf.withColumn("jcell",
      explode(cellDisk(cellEncode(col("flat"), col("flon"), lit(lvl)), lit(rad))))
    pending
      .withColumn("jcell", cellEncode(col("lat"), col("lon"), lit(lvl)))
      .join(broadcast(fx), Seq("jcell"))
      .withColumn("fdist", haversineKm(col("lat"), col("lon"), col("flat"), col("flon")))
  }
}
