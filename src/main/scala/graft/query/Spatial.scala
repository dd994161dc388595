package graft.query

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{Cells, GeoMath}
import graft.functions.GeoFunctions._
import graft.functions.TopK
import graft.pipeline.TableIO

/**
 * Spatial query operators over a cell-indexed point table
 * (columns: id, lat, lon, [feature], cell).
 *
 * Re-expresses the reference's R-tree operators
 * (/root/reference/pkg/datastructure/rtree.go):
 *  - nearest search, with a radius cap (reverse geocoding searcher.go:402,
 *    nearby places searcher.go:461, rtree.go:656-682) or without one
 *    (incremental nearest-neighbour, rtree.go:685-723) -> ONE lazy plan,
 *    [[knnJoin]]: a per-query cell box that provably holds every point
 *    within the query's cap, one equi-join, an exact bbox prefilter and a
 *    bounded top-k. With `maxKm` the cap is given (and applied after the
 *    top-k); without it each query row gets its own cap from a cell-count
 *    histogram of the points, a distance within which >= k points lie.
 *    [[reverseGeocode]] and [[nearestJoin]] are thin wrappers over the
 *    capped plan; [[knn]] folds the capped bounds for its one literal
 *    query into a filter over the points;
 *  - range/bbox search (rtree.go:505-531)              -> the exact bbox
 *    filter; at rest, a tile-partitioned TableIO stage ([[tiledWrite]])
 *  - nearest-street join (indexer.go:986-1026)         -> the capped plan
 *    with each way as a query, then the polyline refine and a top-1
 *  - region PIP join (indexer.go:1035-1061)            -> broadcast polygon
 *    cell cover + exact winding-number refine
 *
 * Scale design: bbox search is plain lat/lon comparisons, which Parquet
 * and in-memory column stats prune on. The neighbour plans never pass
 * query data through the driver: covers are per-row expressions and the
 * joins run in the plan.
 */
object Spatial {

  case class Polygon(id: Long, name: String, lats: Array[Double], lons: Array[Double])

  /** Single-point kNN: (id, dist_km) of the k nearest points after the
   *  first `offset`, ordered by (dist, id), plus a constant `feature`
   *  column when `feature` filters the points. With `radiusKm` it is the
   *  capped plan of [[knnJoin]] for one literal query: its bounds fold to
   *  constants, so the exact bbox prefilter filters the points (no cover,
   *  no join) and one ordered limit replaces the per-query top-k. Without it,
   *  the histogram-capped candidates of [[knnJoin]] for the one query, under
   *  the same ordered limit; the results equal the R-tree's incremental-NN
   *  output (rtree_test.go:281-290 parity is asserted in KnnSpec). */
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
        candidates.filter(capPrefilter(lit(lat), lit(lon), capLonSpanDeg(lit(lat), lit(r)), lit(r)))
          .select(col("id"), haversineKm(lit(lat), lit(lon), col("lat"), col("lon")).as("dist_km"))
      case None =>
        uncappedPairs(candidates, Seq((0L, lat, lon)).toDF("qid", "qlat", "qlon"), k + offset, level)
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
   *  The literal-cap covers (the way join's included) and the fence-grid
   *  probes go through this one invariant. */
  private[query] def coarsen(level: Int, radAt: Int => Int): (Int, Int) = {
    var lvl = level
    while (radAt(lvl) > 2 && lvl > 1) lvl -= 1
    (lvl, radAt(lvl))
  }

  /**
   * Effective (level, radius) for a disk of Chebyshev radius `r` at `level`:
   * coarsen one level per halving until the radius is <= 2, so a search disk
   * is at most 25 cells no matter how wide it has grown; doubling `r` from
   * 1 ends in a level-1 disk, the whole grid. This is the probe schedule of
   * [[Geofence.FenceGrid]]. Covering is preserved because parent grid
   * coords are child coords >> 1, so |x1-x2| <= r implies
   * |x1>>1 - x2>>1| <= ceil(r/2).
   */
  private[query] def effectiveDisk(level: Int, r: Int): (Int, Int) =
    // halving a Chebyshev radius per level = ceil-dividing by 2^(level-lvl)
    coarsen(level, lv => { val k = level - lv; math.max(1, (r + (1 << k) - 1) >> k) })

  /**
   * Batch kNN join: for EVERY query row (qid, qlat, qlon) its k nearest
   * points as (qid, id, dist_km, rn), rn = 1..k in (dist, id) order.
   *
   * One lazy plan with no rounds, no checkpoint, no count and no query
   * data on the driver: [[cappedPairs]], then the per-query top-k
   * ([[nearest]]). With `maxKm` every query has that cap, at one literal
   * cover level, and the cap applies after the top-k (points within it
   * rank first, so the haversine runs once per candidate). Without it each
   * query row gets its own cap and cover level from a cell-count histogram
   * of the points ([[histogramCaps]]): a distance within which >= k points
   * provably lie, so the k nearest are all inside the cover and no filter
   * follows the top-k. A table with fewer than k points gives every query
   * the full-grid cover.
   */
  def knnJoin(points: DataFrame, queries: DataFrame, k: Int,
              level: Int = Cells.DefaultLevel,
              maxKm: Option[Double] = None): DataFrame = maxKm match {
    case Some(km) => nearest(cappedAt(points, queries, level, km), k, col("qid"))
      .filter(col("dist_km") <= km)
    case None => nearest(uncappedPairs(points, queries, k, level), k, col("qid"))
  }

  /** [[cappedPairs]] with one cap for every query, at one literal level
   *  ([[capLevel]]). */
  private def cappedAt(points: DataFrame, queries: DataFrame, level: Int, maxKm: Double): DataFrame = {
    val lvl = capLevel(level, maxKm)
    cappedPairs(points.select(col("id"), col("lat"), col("lon"),
        cellEncode(col("lat"), col("lon"), lvl).as("jcell")),
      capCover(queries, lit(lvl), lit(maxKm)), lit(maxKm))
  }

  /** The literal cover level of a `maxKm` cap: [[coarsen]]s `level` until
   *  the cover is at most 2 cells tall. */
  private def capLevel(level: Int, maxKm: Double): Int =
    coarsen(level, lv => math.max(1, math.ceil((maxKm + CapMarginKm) / Cells.cellHeightKm(lv)).toInt))._1

  /**
   * Candidate pairs (qid, id, dist_km) that hold each query's k nearest
   * points, with no cap given: [[histogramCaps]] gives each query row its
   * cap and histogram level, the cover is at that level but never finer
   * than `level`, the points are encoded once per level the queries use
   * (cell ids carry their level, so one equi-join on `jcell` matches every
   * level), and [[cappedPairs]] does the rest with the cover broadcast (a
   * query batch is small next to the point table).
   */
  private def uncappedPairs(points: DataFrame, queries: DataFrame, k: Int, level: Int): DataFrame = {
    val caps = histogramCaps(points, queries, k, level)
      .withColumn("lvl", greatest(lit(1), least(lit(level), col("lq"))))
    val pointCells = points.select(col("id"), col("lat"), col("lon"))
      .crossJoin(broadcast(caps.select(col("lvl")).distinct()))
      .select(col("id"), col("lat"), col("lon"),
        cellEncode(col("lat"), col("lon"), col("lvl")).as("jcell"))
    cappedPairs(pointCells, broadcast(capCover(caps, col("lvl"), col("cap"))), col("cap"))
  }

  /** How many levels below the table's `level` the histogram reaches. At
   *  that depth a 3x3 block's corner distance is at most 2 sqrt(5) / 8, about
   *  0.56 of a `level` cell height, so a dense query's cap already fits a
   *  cover of 3x3 cells at `level` (the cover is never finer than `level`);
   *  a finer histogram would only shrink the prefilter box, at up to 4x the
   *  histogram rows per level. */
  private val HistogramDepth = 3

  /**
   * Each query row's histogram level and cap (qid, qlat, qlon, lq, cap):
   * the Distributed Stream KNN Join bound (SIGMOD 2021) from per-cell point
   * counts. One scan counts the points per cell at the finest level,
   * `level` + [[HistogramDepth]]; in ascending cell order with running
   * counts these give the count of any coarser cell from two binary
   * searches ([[Cells.blockLevel]]). The query's level `lq` is the finest
   * whose 3x3 block holds >= k points (blocks nest, so the count only grows
   * with coarser levels) and its cap is [[Cells.blockReachKm]]; with no such
   * level (the table has fewer than k points) `lq` is 0, whose block is the
   * whole grid. The histogram and the query batch are one row each in one
   * task after the scan, so their cartesian product needs no exchange and
   * no broadcast, and the histogram is not copied per query; the batch is
   * read in that task too (it is small by contract: its covers are
   * broadcast).
   */
  private def histogramCaps(points: DataFrame, queries: DataFrame, k: Int, level: Int): DataFrame = {
    val finest = math.min(level + HistogramDepth, Cells.MaxLevel)
    // coalesce(1) keeps each step in one task, so the one-row aggregates and
    // the level set's distinct (see uncappedPairs) add no exchange
    val hist = points.groupBy(cellEncode(col("lat"), col("lon"), finest).as("cell"))
      .agg(count(lit(1)).as("n"))
      .coalesce(1)
      .agg(sort_array(collect_list(struct(col("cell"), col("n")))).as("hist"))
    // one call per batch: the running counts are summed once
    val blockCaps = udf { (lats: Seq[Double], lons: Seq[Double], hist: Seq[Row]) =>
      val cells = hist.map(_.getLong(0)).toArray
      val cum = hist.map(_.getLong(1)).scanLeft(0L)(_ + _).toArray
      lats.zip(lons).map { case (lat, lon) =>
        val lq = Cells.blockLevel(lat, lon, k, finest, cells, cum)
        (lq, Cells.blockReachKm(lat, lon, lq))
      }
    }
    // null coordinates have no neighbours
    queries.filter(col("qlat").isNotNull && col("qlon").isNotNull)
      .select(struct(col("qid"), col("qlat"), col("qlon")).as("q"))
      .coalesce(1)
      .agg(collect_list(col("q")).as("qs"))
      .crossJoin(hist.hint("shuffle_replicate_nl"))
      .select(explode(arrays_zip(col("qs"),
        blockCaps(col("qs.qlat"), col("qs.qlon"), col("hist")).as("caps"))).as("z"))
      .coalesce(1)
      .select(col("z.qs.*"), col("z.caps._1").as("lq"), col("z.caps._2").as("cap"))
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
   * The neighbour plan of [[knnJoin]] up to the top-k: cell cover ->
   * equi-join -> exact bbox prefilter, as (qid, id, dist_km) for every
   * candidate that may lie within the query's cap `capKm` (the caller
   * applies a cap itself if it needs one). `pointCells` are the points
   * (id, lat, lon) with `jcell` at each cover level of `cover`
   * ([[capCover]]). The cap bounds each query's search region before the
   * join runs (as in Distributed Stream KNN Join, SIGMOD 2021), so one cover
   * per query is provably enough: no rounds, no checkpoint, no driver step.
   */
  private def cappedPairs(pointCells: DataFrame, cover: DataFrame, capKm: Column): DataFrame =
    pointCells.join(cover, Seq("jcell"))
      .filter(capPrefilter(col("qlat"), col("qlon"), col("qspan"), capKm))
      .select(col("qid"), col("id"),
        haversineKm(col("qlat"), col("qlon"), col("lat"), col("lon")).as("dist_km"))

  /** Each query row's cover as rows (query columns, qspan, jcell): at level
   *  `lvl` a box of ry = ceil(cap / cellHeight) rows and rx columns from the
   *  per-row longitude span of [[capLonSpanDeg]] ([[Cells.box]] wraps
   *  them), which also bounds the prefilter ([[capPrefilter]]). */
  private def capCover(queries: DataFrame, lvl: Column, capKm: Column): DataFrame = {
    val cellsPerDeg = pow(lit(2.0), lvl) / 360.0
    queries.withColumn("qspan", capLonSpanDeg(col("qlat"), capKm))
      .withColumn("jcell", explode(cellDisk(cellEncode(col("qlat"), col("qlon"), lvl),
        ceil(col("qspan") * cellsPerDeg),
        greatest(lit(1), ceil(capCoverKm(capKm) * cellsPerDeg * 2 / Cells.KmPerDegLat)))))
  }

  /** Every cap bound is built for the cap plus 1 m, above the haversine
   *  expression's float error (< 0.3 m). */
  private val CapMarginKm = 1e-3
  private def capCoverKm(capKm: Column): Column = capKm + CapMarginKm

  /**
   * Longitude span (degrees) holding every point within `capKm` of a query
   * at `qlat`. Within the cap |Δφ| <= cap/R, so both latitudes lie in the
   * band |φ| <= |qlat| + cap/R where cos φ >= cos(band), and haversine gives
   * sin(Δλ/2) <= sin(cap/2R) / cos(band) for the wrapped Δλ; once the band
   * reaches a pole every longitude counts. Literal arguments fold it to a
   * constant.
   */
  private def capLonSpanDeg(qlat: Column, capKm: Column): Column = {
    val coverKm = capCoverKm(capKm)
    val band = abs(qlat) + coverKm / Cells.KmPerDegLat
    when(band >= 90.0, lit(360.0)).otherwise(degrees(asin(least(lit(1.0),
      sin(coverKm / (2.0 * GeoMath.EarthRadiusKm)) / cos(radians(band))))) * 2.0)
  }

  /** The exact bbox prefilter of the cap for the point columns (lat, lon):
   *  latitude within cap/R of `qlat`, wrapped Δλ within `qspan`. */
  private def capPrefilter(qlat: Column, qlon: Column, qspan: Column, capKm: Column): Column = {
    val dLon = abs(qlon - col("lon"))
    abs(qlat - col("lat")) <= capCoverKm(capKm) / Cells.KmPerDegLat &&
      least(dLon, lit(360.0) - dLon) <= qspan
  }

  /** Range (bbox) search — R-tree Search equivalent (rtree.go:505-531):
   *  the exact bbox filter, which scans prune on by their lat/lon stats. A
   *  box with lonMin > lonMax holds no rows (it does not wrap across the
   *  antimeridian), nor does a row with a null coordinate. */
  def rangeSearch(points: DataFrame, latMin: Double, lonMin: Double,
                  latMax: Double, lonMax: Double): DataFrame =
    points.filter(col("lat") >= latMin && col("lat") <= latMax &&
      col("lon") >= lonMin && col("lon") <= lonMax)

  /** Coarse tile level for the at-rest spatial layout: level 7 is 64x
   *  coarser per axis than [[Cells.DefaultLevel]] 13 — ~16k populated
   *  directories for a world table, each holding ~4k fine cells. */
  val TileStoreLevel = 7

  /** The tile store's stage; distinct from [[graft.pipeline.Pipeline]]'s
   *  `tiles` stage, so one directory can hold both. */
  val TileStage = "tile_store"

  /**
   * The spatial index's at-rest form (the persisted twin of the R-tree,
   * same role as [[graft.ml.AnnStore]] for vectors): points persisted as
   * the [[TileStage]] TableIO stage of `dir`, PARTITIONED BY their tile at
   * [[TileStoreLevel]], so a bbox query prunes at the DIRECTORY level and
   * the scan never opens tiles outside the query's cover. Within admitted
   * tiles the exact bbox filter runs ([[rangeSearch]]). At 10^12 rows this
   * is the difference between a full-table scan per query and reading
   * cover/total of the data. The
   * manifest rename commits the stage, and a complete stage is not
   * rewritten: delete it ([[TableIO.drop]]) to re-tile.
   */
  def tiledWrite(points: DataFrame, dir: String): Unit =
    TableIO.stageWrite(points.sparkSession, dir, TileStage, partitionBy = Seq("tile")) {
      points.withColumn("tile", cellEncode(col("lat"), col("lon"), TileStoreLevel))
    }

  /** Bbox search over the [[tiledWrite]] stage of `dir`, read with its
   *  manifest's DDL: coarse-tile partition pruning (asserted in
   *  SpatialStoreSpec) over a [[Cells.coverBBox]] of at most 2^14 tiles,
   *  then the exact [[rangeSearch]] filter. Result set identical to
   *  [[rangeSearch]] over the full table; a stage whose write was cut
   *  before its commit is refused, not served in part. */
  def rangeSearchTiled(spark: org.apache.spark.sql.SparkSession, dir: String,
                       latMin: Double, lonMin: Double,
                       latMax: Double, lonMax: Double): DataFrame = {
    val tiles = Cells.coverBBox(latMin, lonMin, latMax, lonMax, TileStoreLevel)
    val pruned = TableIO.read(spark, dir, TileStage)
      .filter(col("tile").isin(tiles.map(java.lang.Long.valueOf): _*))
    // drop the synthetic partition column so the result schema really is
    // identical to rangeSearch over the original table
    rangeSearch(pruned, latMin, lonMin, latMax, lonMax).drop("tile")
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
   * Plan shape: the capped plan of [[knnJoin]] with the ways as its
   * queries and the query rows as its points. Each way is anchored at its
   * first vertex with the cap `maxKm` + its span (the longest
   * anchor-to-vertex distance): the refine projects onto great-circle arcs
   * between vertices, and a cap under a quarter circumference is convex,
   * so every projected point lies within the span of the anchor (a longer
   * span counts as half the circumference, the whole sphere). Each way
   * gets its [[capCover]] at the literal level of `maxKm` ([[capLevel]]);
   * the queries, encoded at that level, are broadcast and pass the exact
   * [[capPrefilter]]. Candidates then pay the exact projection refine
   * ([[graft.functions.GeoFunctions.pointToPolylineKm]], codegen'd) and a
   * top-1 picks the winner in (dist, way_id) order.
   */
  def nearestWayJoin(queries: DataFrame, ways: DataFrame, maxKm: Double,
                     level: Int = Cells.DefaultLevel,
                     endpointsOnly: Boolean = false): DataFrame = {
    val lvl = capLevel(level, maxKm)
    // each way row is a capped query (qlat, qlon, cap); the query rows are
    // its points (lat, lon)
    val quarterKm = math.Pi / 2 * GeoMath.EarthRadiusKm
    val span = aggregate(
      zip_with(col("wlats"), col("wlons"), (la, lo) => haversineKm(col("qlat"), col("qlon"), la, lo)),
      lit(0.0), (acc, x) => greatest(acc, x))
    val covers = capCover(ways.withColumn("qlat", element_at(col("wlats"), 1))
        .withColumn("qlon", element_at(col("wlons"), 1))
        .withColumn("cap", lit(maxKm) + when(span < quarterKm, span).otherwise(2 * quarterKm)),
      lit(lvl), col("cap"))
    val points = queries.select(col("qid"), col("qlat").as("lat"), col("qlon").as("lon"),
      cellEncode(col("qlat"), col("qlon"), lvl).as("jcell"))
    val refLats =
      if (endpointsOnly) array(element_at(col("wlats"), 1), element_at(col("wlats"), -1))
      else col("wlats")
    val refLons =
      if (endpointsOnly) array(element_at(col("wlons"), 1), element_at(col("wlons"), -1))
      else col("wlons")
    // same TopK-for-min_by swap as [[knnJoin]]'s capped plan: hash aggregation with
    // map-side combine instead of a two-phase SortAggregate over every
    // candidate (way, query) row
    covers.join(broadcast(points), Seq("jcell"))
      // null drops the row either way; the coalesce keeps Catalyst from
      // inferring not-null filters on the cover columns, which it pushes
      // under the explode with the per-way span inlined seven times
      // (j2b on sf0.01: ~0.5 s more per run)
      .filter(coalesce(capPrefilter(col("qlat"), col("qlon"), col("qspan"), col("cap")), lit(false)))
      .withColumn("dist_km", pointToPolylineKm(col("lat"), col("lon"), refLats, refLons))
      .filter(col("dist_km") <= maxKm)
      .groupBy(col("qid"))
      .agg(TopK.topKByDist(1)(col("dist_km"), col("way_id")).as("nn"))
      .select(col("qid"),
        element_at(col("nn"), 1).getField("_2").as("way_id"),
        element_at(col("nn"), 1).getField("_1").as("dist_km"))
  }
}
