package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Cells, GeoMath}
import graft.functions.GeoFunctions._
import graft.functions.TopK

/**
 * Spatial query operators over a cell-indexed point table
 * (columns: id, lat, lon, [feature], cell).
 *
 * Re-expresses the reference's R-tree operators
 * (/root/reference/pkg/datastructure/rtree.go):
 *  - nearest search with a radius cap (reverse geocoding searcher.go:402,
 *    nearby places searcher.go:461, rtree.go:656-682) -> ONE capped plan,
 *    [[knnJoin]] with `maxKm`: a per-query cell box that provably holds
 *    every point within the cap, one equi-join, an exact bbox prefilter,
 *    a bounded top-k and the haversine cap. [[reverseGeocode]] and
 *    [[nearestJoin]] are thin wrappers over it; [[knn]] folds the same
 *    bounds for its one literal query into a filter over the points;
 *  - incremental nearest-neighbour without a cap (rtree.go:685-723) ->
 *    [[knnJoin]] without `maxKm`: ring-expansion rounds with a distance
 *    lower-bound stop test ([[Cells.minDistOutsideDiskKm]]);
 *  - range/bbox search (rtree.go:505-531)              -> cell-cover equi-join
 *  - nearest-street join (indexer.go:986-1026)         -> cell-prefilter +
 *    min_by refine join
 *  - region PIP join (indexer.go:1035-1061)            -> broadcast polygon
 *    cell cover + exact winding-number refine
 *
 * Scale design: the point table is assumed partitioned/sorted by `cell`
 * (see pipeline.TableIO), so the `isin` cover filters prune partitions and
 * row groups. The neighbour plans never pass query data through the
 * driver: covers are per-row expressions and the joins run in the plan.
 */
object Spatial {

  case class Polygon(id: Long, name: String, lats: Array[Double], lons: Array[Double])

  /** Single-point kNN: (id, dist_km) of the k nearest points after the
   *  first `offset`, ordered by (dist, id), plus a constant `feature`
   *  column when `feature` filters the points. With `radiusKm` it is the
   *  capped plan of [[knnJoin]] for one literal query: its bounds fold to
   *  constants, so the exact bbox prefilter filters the points (no cover,
   *  no join) and one ordered limit replaces the per-query top-k. Without it,
   *  the exact ring-expansion rounds, whose results equal the R-tree's
   *  incremental-NN output (rtree_test.go:281-290 parity is asserted in
   *  KnnSpec). */
  def knn(points: DataFrame, lat: Double, lon: Double, k: Int,
          level: Int = Cells.DefaultLevel,
          radiusKm: Option[Double] = None,
          feature: Option[String] = None,
          offset: Int = 0): DataFrame = {
    import points.sparkSession.implicits._
    val candidates = feature.fold(points)(f => points.filter(col("feature") === f))
    val pairs = radiusKm match {
      // a literal query: the cap's bounds fold to constants, so the exact
      // prefilter is a filter over the points, with no cover and no join
      case Some(r) =>
        candidates.filter(capPrefilter(lit(lat), lit(lon), capLonSpanDeg(lit(lat), r), r))
          .select(col("id"), haversineKm(lit(lat), lit(lon), col("lat"), col("lon")).as("dist_km"))
      case None =>
        knnJoin(candidates, Seq((0L, lat, lon)).toDF("qid", "qlat", "qlon"), k + offset, level)
    }
    // the cap applies after the ordered limit (points within it sort
    // first), so the haversine is evaluated once per candidate
    val nn = pairs.orderBy(col("dist_km"), col("id")).limit(k + offset).offset(offset)
      .filter(radiusKm.fold(lit(true))(col("dist_km") <= _))
      .select(col("id"), col("dist_km"))
    feature.fold(nn)(f => nn.withColumn("feature", lit(f)))
  }

  /** The shared trade-level-for-radius rule: coarsen from `level` until the
   *  per-level radius is <= 2 (disk <= 25 cells) or the grid bottoms out.
   *  Every search-disk construction (kNN rings, capped covers, way covers)
   *  goes through this one invariant. */
  private[query] def coarsen(level: Int, radAt: Int => Int): (Int, Int) = {
    var lvl = level
    while (radAt(lvl) > 2 && lvl > 1) lvl -= 1
    (lvl, radAt(lvl))
  }

  /**
   * Effective (level, radius) for a disk of Chebyshev radius `r` at `level`:
   * coarsen one level per halving until the radius is <= 2, so a search disk
   * is at most 25 cells no matter how wide it has grown. Covering is
   * preserved because parent grid coords are child coords >> 1, so
   * |x1-x2| <= r implies |x1>>1 - x2>>1| <= ceil(r/2).
   */
  private[query] def effectiveDisk(level: Int, r: Int): (Int, Int) =
    // halving a Chebyshev radius per level = ceil-dividing by 2^(level-lvl)
    coarsen(level, lv => { val k = level - lv; math.max(1, (r + (1 << k) - 1) >> k) })

  /** Conf key: how many levels FINER than the table's cell level the
   *  uncapped kNN join starts probing at (default [[ProbeDeltaDefault]]; 0
   *  restores the stored-level start). See the probe-level note in
   *  [[knnJoin]]. */
  val ProbeDeltaKey = "spark.graft.knn.probeDelta"
  val ProbeDeltaDefault = 1

  /**
   * Batch kNN join: for EVERY query row (qid, qlat, qlon) its k nearest
   * points as (qid, id, dist_km, rn), rn = 1..k in (dist, id) order.
   *
   * With `maxKm` only points within `maxKm` count, and the answer is ONE
   * plan with no rounds and no driver step: [[cappedPairs]], then the
   * per-query top-k, then the cap.
   *
   * Without it, one shuffle-free broadcast join per round; per-query
   * convergence is checked against the ring lower bound and unconverged
   * queries retry with a wider disk. Scale shape (no driver-side query
   * data AT ALL — every round is joins):
   *  - the search disk is held to <= 25 cells by coarsening the cell LEVEL
   *    instead of growing the radius ([[effectiveDisk]]) — the broadcast
   *    build side is bounded by 25 x |pending| rows forever, round count by
   *    log2(grid), regardless of how far the nearest neighbour is;
   *  - per-round candidates are compacted map-side by the bounded top-k
   *    aggregate (graft.functions.TopK ships <= k rows per query per task);
   *  - convergence (kth distance vs the exact per-row ring bound,
   *    [[graft.functions.MinDistOutsideDiskExpr]]) is decided IN the plan:
   *    converged qids are one semi-joined checkpoint, pending shrinks by
   *    ANTI-join — the query batch never passes through the driver, so the
   *    operator has no literal-list or collect ceiling (the reference holds
   *    its query batch in server RAM, searcher.go:97-204; this form removes
   *    even that bound). Queries with zero candidates this round never
   *    reach the converged set and stay pending by the anti-join.
   */
  def knnJoin(points: DataFrame, queries: DataFrame, k: Int,
              level: Int = Cells.DefaultLevel,
              maxKm: Option[Double] = None): DataFrame = {
    // the cap applies after the top-k (points within it rank first), so
    // the haversine is evaluated once per prefiltered candidate
    if (maxKm.isDefined) return nearest(cappedPairs(points, queries, level, maxKm.get), k, col("qid"))
      .filter(col("dist_km") <= maxKm.get)
    val spark = points.sparkSession
    // Probe-level choice (guide §1.2 step 1: candidate volume is the
    // distributed-algorithm cost here): a round's work is one point-table
    // pass (cell encode + broadcast probe) PLUS one haversine + top-k
    // update per candidate, and candidates per query = rows-per-cell x
    // disk size. On a dense region the stored level is far too coarse —
    // measured on the 768M-row bench input: ~50k rows/cell at level 13,
    // so 1,024 queries x 9-cell disks = 456M candidate haversines, 2x the
    // whole scan cost — while the ring bound only needs the disk to be
    // wider than the kth-NN distance. Starting ONE level finer quarters
    // rows-per-cell while halving the round-0 convergence bound, and the
    // existing coarsening rule walks the expansion back through the coarser
    // levels anyway, so data too sparse for the finer disk pays extra
    // ROUNDS (each a scan+probe pass) rather than wrong results — the
    // bound is computed for the (lvl, rad) actually probed, so the top-k
    // is exact at any probe level. Default 1 is the measured sweet spot on
    // the bench input (knn phase 11.8 -> 6.6 s at 4N: one round either
    // way, 4x fewer candidates); deeper deltas shrank the bound below the
    // data's kth-NN distance and bought extra full scans (delta 3: three
    // rounds, 14 s). Parameterised via [[ProbeDeltaKey]]: raise it for
    // tables orders of magnitude denser per base cell, set 0 to restore
    // the stored-level start for sparse corpora.
    val probeDelta = spark.conf.getOption(ProbeDeltaKey).map(_.toInt)
      .getOrElse(ProbeDeltaDefault)
    val probeLevel = math.min(level + math.max(0, probeDelta), Cells.MaxLevel)
    // the fine start needs (probeLevel - level) more doublings to reach the
    // full-grid cover; keep the loud non-convergence contract at the same
    // effective budget past that point
    val roundBudget = 16 + (probeLevel - level)
    // materialize the query side once — it may derive from a full scan of
    // the point table, and each round references it
    var pending = queries.select(col("qid"), col("qlat"), col("qlon"))
      .localCheckpoint(eager = true)
    // no up-front count: it only guarded loop entry, costing one driver-
    // synced job per call at every parallelism level. Round 0 runs
    // optimistically; an empty query set yields an empty broadcast side,
    // which AQE collapses to an empty join without scanning the points, and
    // the round's own pending count then exits the loop.
    var pendingCount = Long.MaxValue
    var acc: Option[DataFrame] = None
    var r = 1
    var round = 0
    while (round < roundBudget && pendingCount > 0) {
      val (lvl, rad) = effectiveDisk(probeLevel, r)
      // disk(lvl, 2) at lvl <= 1 is the whole grid: every point is a
      // candidate, the round is exact by construction
      val fullCover = lvl <= 1 && rad >= 2
      val qCells = pending
        .withColumn("qcell", cellEncode(col("qlat"), col("qlon"), lit(lvl)))
        .withColumn("jcell", explode(cellDisk(col("qcell"), lit(rad))))
        .drop("qcell")
      val pcell = if (lvl == level) col("cell") else cellEncode(col("lat"), col("lon"), lit(lvl))
      // the query side is small relative to the point table: broadcast it
      val joined = points.withColumn("jcell", pcell).join(broadcast(qCells), Seq("jcell"))
        .withColumn("dist_km", haversineKm(col("qlat"), col("qlon"), col("lat"), col("lon")))
      // bounded top-k aggregate (map-side combine): each map task ships at
      // most k rows per query instead of every candidate in the cell disk —
      // see graft.functions.TopK. Materialized ONCE per round (<= k rows per
      // pending query); everything downstream reads the checkpoint.
      val topk = nearest(joined, k, col("qid"), col("qlat"), col("qlon"))
        .localCheckpoint(eager = true)
      // convergence: kth distance within the provable bound for this
      // (lvl, rad) — per-row, in-plan, codegen'd
      // okQ is NOT checkpointed: it is a small aggregate over the topk
      // checkpoint (<= pending-count rows) referenced twice — embedding it
      // in both consumers is cheaper than a dedicated materialization job,
      // which at low parallelism was a measurable slice of the per-round
      // fixed cost that depresses the N-leg/4N-leg scaling ratio
      val okQ =
        if (fullCover) topk.select(col("qid")).distinct()
        else topk.groupBy(col("qid"))
          .agg(max(col("dist_km")).as("kth"), count(lit(1)).as("cnt"),
            first(col("qlat")).as("qlat"), first(col("qlon")).as("qlon"))
          .filter(col("cnt") >= k && col("kth") <=
            graft.functions.GeoFunctions.minDistOutsideDisk(
              col("qlat"), col("qlon"), lvl, rad))
          .select(col("qid"))
      val done = topk.join(okQ, Seq("qid"), "left_semi")
        .select(col("qid"), col("id"), col("dist_km"), col("rn"))
      // topk is already checkpointed, so the accumulated union stays flat
      acc = Some(acc.map(_.unionByName(done)).getOrElse(done))
      if (fullCover) {
        pendingCount = 0 // queries with zero rows have no data at all
      } else {
        // count first over the un-materialized anti-join (query-set-sized,
        // reads the topk checkpoint), and only pay a checkpoint job when
        // another round will actually consume `pending` — the common
        // converged-in-this-round case skips it entirely
        val nextPending = pending.join(okQ, Seq("qid"), "left_anti")
        pendingCount = nextPending.count()
        if (pendingCount > 0)
          pending = nextPending.localCheckpoint(eager = true)
      }
      r *= 2
      round += 1
    }
    // unreachable (the rings coarsen to a full-grid cover first), but a
    // round budget that runs out must fail LOUDLY rather than silently omit
    // the still-pending queries — the same contract as Components'
    // non-convergence guard
    if (pendingCount > 0)
      throw new IllegalStateException(
        s"knnJoin did not converge: $pendingCount queries still pending " +
          s"after $roundBudget rounds (level=$level, probeLevel=$probeLevel); " +
          "lower the starting level")
    // empty query set / nothing converged: keep the (qid, id, dist_km, rn)
    // output schema so callers' selections still resolve
    acc.getOrElse(
      queries.limit(0).select(col("qid"))
        .crossJoin(points.limit(0).select(col("id")))
        .withColumn("dist_km", lit(0.0)).withColumn("rn", lit(0)))
  }

  /** The k nearest of each query's (id, dist_km) candidates as (keys, id,
   *  dist_km, rn), rn = 1..k in (dist, id) order. The bounded TopK aggregate
   *  hash-aggregates with map-side combine, where min_by(struct, struct)
   *  forces a SortAggregate that sorts every candidate in both phases.
   *  With the capped plan's bbox prefilter, measured on the k=1, 30 km
   *  nearest join at sf0.1 (28.3M joined candidates for 4.7M survivors
   *  without the prefilter): materialized join 8.7 -> 6.9 s, bench-shaped
   *  count 2.4 -> 1.4 s. */
  private def nearest(candidates: DataFrame, k: Int, keys: Column*): DataFrame =
    candidates.groupBy(keys: _*)
      .agg(TopK.topKByDist(k)(col("dist_km"), col("id")).as("nn"))
      .select(keys :+ posexplode(col("nn")): _*)
      .select(keys ++ Seq(col("col._2").as("id"), col("col._1").as("dist_km"),
        (col("pos") + 1).cast("int").as("rn")): _*)

  /**
   * The capped plan of [[knnJoin]] up to the top-k: cell cover -> equi-join
   * -> exact bbox prefilter, as (qid, id, dist_km) for every candidate that
   * may lie within `maxKm` (the caller applies the cap itself).
   * The cap bounds each query's search region before the join runs (as in
   * Distributed Stream KNN Join, SIGMOD 2021), so one cover per query is
   * provably enough: no rounds, no checkpoint, no driver step.
   *
   * The level comes from the cap and the cell height alone ([[coarsen]]):
   * ry = ceil(cap / cellHeight) rows. The box's rx columns come from the
   * per-row longitude span of [[capLonSpanDeg]] ([[Cells.box]] wraps them),
   * which also bounds the prefilter ([[capPrefilter]]).
   */
  private def cappedPairs(points: DataFrame, queries: DataFrame,
                          level: Int, maxKm: Double): DataFrame = {
    val (lvl, ry) = coarsen(level,
      lv => math.max(1, math.ceil(capCoverKm(maxKm) / Cells.cellHeightKm(lv)).toInt))
    val cellWidthDeg = 360.0 / (1L << lvl)
    val cover = queries.select(col("qid"), col("qlat"), col("qlon"),
        capLonSpanDeg(col("qlat"), maxKm).as("qspan"))
      .withColumn("jcell", explode(cellDisk(cellEncode(col("qlat"), col("qlon"), lit(lvl)),
        ceil(col("qspan") / cellWidthDeg), lit(ry))))
    points.select(col("id"), col("lat"), col("lon"),
        cellEncode(col("lat"), col("lon"), lit(lvl)).as("jcell"))
      .join(cover, Seq("jcell"))
      .filter(capPrefilter(col("qlat"), col("qlon"), col("qspan"), maxKm))
      .select(col("qid"), col("id"),
        haversineKm(col("qlat"), col("qlon"), col("lat"), col("lon")).as("dist_km"))
  }

  /** The radius every cap bound is built for: the cap plus 1 m, above the
   *  haversine expression's float error (< 0.3 m). */
  private def capCoverKm(maxKm: Double): Double = maxKm + 1e-3

  /**
   * Longitude span (degrees) holding every point within `maxKm` of a query
   * at `qlat`. Within the cap |Δφ| <= cap/R, so both latitudes lie in the
   * band |φ| <= |qlat| + cap/R where cos φ >= cos(band), and haversine gives
   * sin(Δλ/2) <= sin(cap/2R) / cos(band) for the wrapped Δλ; once the band
   * reaches a pole every longitude counts. A literal `qlat` folds it to a
   * constant.
   */
  private def capLonSpanDeg(qlat: Column, maxKm: Double): Column = {
    val coverKm = capCoverKm(maxKm)
    val band = abs(qlat) + coverKm / Cells.KmPerDegLat
    when(band >= 90.0, lit(360.0)).otherwise(degrees(asin(least(lit(1.0),
      lit(math.sin(coverKm / (2.0 * GeoMath.EarthRadiusKm))) / cos(radians(band))))) * 2.0)
  }

  /** The exact bbox prefilter of the cap for the point columns (lat, lon):
   *  latitude within cap/R of `qlat`, wrapped Δλ within `qspan`. */
  private def capPrefilter(qlat: Column, qlon: Column, qspan: Column, maxKm: Double): Column = {
    val dLon = abs(qlon - col("lon"))
    abs(qlat - col("lat")) <= capCoverKm(maxKm) / Cells.KmPerDegLat &&
      least(dLon, lit(360.0) - dLon) <= qspan
  }

  /** Range (bbox) search — R-tree Search equivalent (rtree.go:505-531).
   *  A box with lonMin > lonMax holds no rows: it does not wrap across the
   *  antimeridian, and the cover ([[Cells.coverBBox]]) and the refine
   *  filter agree on that. */
  def rangeSearch(points: DataFrame, latMin: Double, lonMin: Double,
                  latMax: Double, lonMax: Double,
                  level: Int = Cells.DefaultLevel): DataFrame = {
    val cells = Cells.coverBBox(latMin, lonMin, latMax, lonMax, level)
    points.filter(col("cell").isin(cells.map(java.lang.Long.valueOf): _*))
      .filter(col("lat") >= latMin && col("lat") <= latMax &&
        col("lon") >= lonMin && col("lon") <= lonMax)
  }

  /** Coarse tile level for the at-rest spatial layout: level 7 is 64x
   *  coarser per axis than [[Cells.DefaultLevel]] 13 — ~16k populated
   *  directories for a world table, each holding ~4k fine cells. */
  val TileStoreLevel = 7

  /**
   * The spatial index's at-rest form (the persisted twin of the R-tree,
   * same role as [[graft.ml.Ann.ivfWrite]] for vectors): points persisted
   * PARTITIONED BY a coarse tile, so a bbox query prunes at the DIRECTORY
   * level and the scan never opens tiles outside the query's cover. Within
   * admitted tiles the usual fine-cell prefilter + exact bbox refine runs
   * ([[rangeSearch]]). At 10^12 rows this is the difference between a
   * full-table scan per query and reading cover/total of the data.
   */
  def tiledWrite(points: DataFrame, path: String,
                 coarseLevel: Int = TileStoreLevel): Unit =
    points
      .withColumn("tile", cellEncode(col("lat"), col("lon"), lit(coarseLevel)))
      .write.mode("overwrite").partitionBy("tile").parquet(path)

  /** Bbox search over a [[tiledWrite]] table: coarse-tile partition pruning
   *  (asserted in SpatialStoreSpec), then the exact [[rangeSearch]] refine.
   *  Result set identical to [[rangeSearch]] over the full table. */
  def rangeSearchTiled(spark: org.apache.spark.sql.SparkSession, path: String,
                       latMin: Double, lonMin: Double,
                       latMax: Double, lonMax: Double,
                       level: Int = Cells.DefaultLevel,
                       coarseLevel: Int = TileStoreLevel): DataFrame = {
    val tiles = Cells.coverBBox(latMin, lonMin, latMax, lonMax, coarseLevel)
    val pruned = spark.read.parquet(path)
      .filter(col("tile").isin(tiles.map(java.lang.Long.valueOf): _*))
    // drop the synthetic partition column so the result schema really is
    // identical to rangeSearch over the original table
    rangeSearch(pruned, latMin, lonMin, latMax, lonMax, level).drop("tile")
  }

  /**
   * Nearest-neighbour enrichment join (reference GetFullAdress,
   * indexer.go:986-1026): for every left point, the nearest right point
   * within `maxKm` as (lid, rid, dist_km) — the capped [[knnJoin]] with
   * k = 1.
   */
  def nearestJoin(left: DataFrame, right: DataFrame, maxKm: Double,
                  level: Int = Cells.DefaultLevel): DataFrame =
    knnJoin(right, left.select(col("id").as("qid"), col("lat").as("qlat"), col("lon").as("qlon")),
        k = 1, level = level, maxKm = Some(maxKm))
      .select(col("qid").as("lid"), col("id").as("rid"), col("dist_km"))

  /**
   * Point-in-polygon join (reference region enrichment, indexer.go:1035-1061):
   * broadcast cell-prefilter (conservative polygon cover) + exact
   * winding-number refine. Returns (id, poly_id, poly_name).
   */
  def pipJoin(points: DataFrame, polygons: Seq[Polygon],
              level: Int = Cells.DefaultLevel): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    // classify cover cells driver-side: interior cells (no polygon edge
    // touches the cell, center winding-inside) are all-accepted and skip the
    // per-row refine; only the O(perimeter) boundary cells pay it. The
    // polygon ring is denormalized onto its cover rows so the probe side
    // pays ONE broadcast join (cover tables are thousands of rows; a second
    // broadcast+join per polygon attribute is pure fixed cost)
    val cover = polygons.flatMap(p =>
      Cells.coverPolygon(p.lats, p.lons, level).map(c =>
        (c, p.id, p.name, Cells.cellInteriorOfPolygon(c, p.lats, p.lons),
          p.lats.toSeq, p.lons.toSeq)))
      .toDF("cell", "poly_id", "poly_name", "interior", "plats", "plons")
    points.join(broadcast(cover), Seq("cell"))
      .filter(col("interior") ||
        pointInPolygon(col("lat"), col("lon"), col("plats"), col("plons")))
      .select(col("id"), col("poly_id"), col("poly_name"))
  }

  /**
   * Reverse geocode (reference searcher.go:402-435): nearest object within
   * `capKm` (0.35 km) of each query point — the capped [[knnJoin]] with
   * k = 1.
   */
  def reverseGeocode(points: DataFrame, queries: DataFrame,
                     level: Int = Cells.DefaultLevel, capKm: Double = 0.35): DataFrame =
    knnJoin(points, queries, k = 1, level = level, maxKm = Some(capKm))
      .select(col("qid"), col("id"), col("dist_km"))

  /**
   * Nearest-way enrichment join: for every query row (qid, qlat, qlon), the
   * way (way_id, wlats, wlons) minimizing the projection distance, within
   * `maxKm`. Refine semantics follow the reference exactly:
   *  - `endpointsOnly = true`: the nearest-street pick of GetFullAdress
   *    (indexer.go:1004-1022) projects onto the SINGLE first->last vertex
   *    segment;
   *  - `endpointsOnly = false`: ReverseGeocoding's pointDistanceToOsmWay
   *    (searcher.go:438-460) takes the min over the CLOSED ring of boundary
   *    segments.
   *
   * Plan shape: ways are anchored at their first vertex and covered with
   * disk(rad) cells at a level adapted so rad <= 2 ([[effectiveDisk]]-style
   * coarsening; cover radius = maxKm + the longest vertex span, since any
   * boundary point lies within that span of the anchor). The query side
   * joins on its single exact cell and is broadcast; candidates then pay
   * the exact projection refine ([[graft.functions.GeoFunctions
   * .pointToPolylineKm]], codegen'd) and min_by picks the winner.
   */
  def nearestWayJoin(queries: DataFrame, ways: DataFrame, maxKm: Double,
                     level: Int = Cells.DefaultLevel,
                     endpointsOnly: Boolean = false): DataFrame = {
    val anchorLat = element_at(col("wlats"), 1)
    val anchorLon = element_at(col("wlons"), 1)
    // longest anchor->vertex span + ways' latitude band: one tiny agg
    val span = aggregate(
      zip_with(col("wlats"), col("wlons"),
        (la, lo) => haversineKm(anchorLat, anchorLon, la, lo)),
      lit(0.0), (acc, x) => greatest(acc, x))
    val stats = ways.agg(max(span), min(anchorLat), max(anchorLat)).head()
    if (stats.isNullAt(0)) // no ways at all: no pairs, keep the output schema
      return queries.limit(0).select(col("qid"))
        .crossJoin(ways.limit(0).select(col("way_id")))
        .withColumn("dist_km", lit(0.0))
    val spanKm = stats.getDouble(0)
    val coverKm = maxKm + spanKm
    val bandLat = math.min(89.9,
      math.max(math.abs(stats.getDouble(1)), math.abs(stats.getDouble(2))) +
        coverKm / Cells.KmPerDegLat)
    def radAt(lv: Int): Int = math.max(1, math.ceil(coverKm /
      math.min(Cells.cellWidthKm(bandLat, lv), Cells.cellHeightKm(lv))).toInt)
    val (lvl, rad) = coarsen(level, radAt)

    val rhs = ways
      .withColumn("jcell",
        explode(cellDisk(cellEncode(anchorLat, anchorLon, lit(lvl)), lit(rad))))
    val lhs = queries
      .select(col("qid"), col("qlat"), col("qlon"),
        cellEncode(col("qlat"), col("qlon"), lit(lvl)).as("jcell"))
    val refLats =
      if (endpointsOnly) array(element_at(col("wlats"), 1), element_at(col("wlats"), -1))
      else col("wlats")
    val refLons =
      if (endpointsOnly) array(element_at(col("wlons"), 1), element_at(col("wlons"), -1))
      else col("wlons")
    // same TopK-for-min_by swap as [[knnJoin]]'s capped plan: hash aggregation with
    // map-side combine instead of a two-phase SortAggregate over every
    // candidate (way, query) row
    rhs.join(broadcast(lhs), Seq("jcell"))
      .withColumn("dist_km", pointToPolylineKm(col("qlat"), col("qlon"), refLats, refLons))
      .filter(col("dist_km") <= maxKm)
      .groupBy(col("qid"))
      .agg(TopK.topKByDist(1)(col("dist_km"), col("way_id")).as("nn"))
      .select(col("qid"),
        element_at(col("nn"), 1).getField("_2").as("way_id"),
        element_at(col("nn"), 1).getField("_1").as("dist_km"))
  }
}
