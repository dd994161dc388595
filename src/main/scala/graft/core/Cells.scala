package graft.core

import scala.collection.mutable.ArrayBuffer

/**
 * S2-style hierarchical cell index over lat/lon, built from scratch
 * (no H3/S2 jar is available offline — see SURVEY.md §7.1).
 *
 * This replaces the reference's Guttman R-tree
 * (/root/reference/pkg/datastructure/rtree.go:143-165) with a
 * space-filling-curve cell ID column:
 *  - R-tree insert            -> `encode(lat, lon, level)` column
 *  - R-tree range search      -> `coverBBox` / `coverPolygon` cell set + equi-join
 *  - R-tree incremental kNN   -> a per-query cap from point counts per cell
 *    (rtree.go:685-723's min-heap early termination becomes `blockLevel`:
 *    the finest 3x3 block holding k points, and `blockReachKm`, the
 *    distance that block spans), then one `box` cover of that cap
 *
 * Layout of the 64-bit cell ID:
 *   bits [5..63]  Morton interleave of (y, x) at `level` (level <= 29,
 *                 so at most 58 significant bits)
 *   bits [0..4]   level (0..29)
 * where x = floor((lon+180)/360 * 2^level), y = floor((lat+90)/180 * 2^level),
 * clamped to [0, 2^level - 1]. IDs are non-negative and unique per
 * (level, x, y), and a parent's Morton prefix is a prefix of its children's —
 * enabling prefix-range partition pruning when tables are sorted by cellId.
 */
object Cells {
  val MaxLevel = 29

  /** Default level used by the engine's point tables: ~4.9 km x ~4.9 km at the
   *  equator (level 13), comparable to the reference's ±0.35–1 km query boxes
   *  after one ring expansion. */
  val DefaultLevel = 13

  @inline def clamp(v: Long, lo: Long, hi: Long): Long = math.max(lo, math.min(hi, v))

  /** Spread the low 32 bits of v to even bit positions (Morton helper). */
  @inline private def spread(vIn: Long): Long = {
    var v = vIn & 0xffffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8)) & 0x00ff00ff00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  @inline private def compact(vIn: Long): Long = {
    var v = vIn & 0x5555555555555555L
    v = (v | (v >> 1)) & 0x3333333333333333L
    v = (v | (v >> 2)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v >> 4)) & 0x00ff00ff00ff00ffL
    v = (v | (v >> 8)) & 0x0000ffff0000ffffL
    v = (v | (v >> 16)) & 0x00000000ffffffffL
    v
  }

  def xIndex(lon: Double, level: Int): Long =
    clamp(math.floor((lon + 180.0) / 360.0 * (1L << level)).toLong, 0L, (1L << level) - 1)

  def yIndex(lat: Double, level: Int): Long =
    clamp(math.floor((lat + 90.0) / 180.0 * (1L << level)).toLong, 0L, (1L << level) - 1)

  def fromXY(x: Long, y: Long, level: Int): Long = {
    require(level >= 0 && level <= MaxLevel, s"level $level out of [0,$MaxLevel]")
    ((spread(x) | (spread(y) << 1)) << 5) | level.toLong
  }

  /** Encode a point to a cell ID at `level`. */
  def encode(lat: Double, lon: Double, level: Int): Long =
    fromXY(xIndex(lon, level), yIndex(lat, level), level)

  @inline def level(cell: Long): Int = (cell & 0x1fL).toInt
  @inline def x(cell: Long): Long = compact(cell >>> 5)
  @inline def y(cell: Long): Long = compact(cell >>> 6)

  /** Parent cell at `parentLevel` (<= cell level). */
  def parent(cell: Long, parentLevel: Int): Long = {
    val l = level(cell)
    require(parentLevel <= l)
    fromXY(x(cell) >> (l - parentLevel), y(cell) >> (l - parentLevel), parentLevel)
  }

  /**
   * [min, max] cell-ID range of this cell's descendants at `childLevel`.
   * Descendants of one cell are CONTIGUOUS at a fixed level: their Morton
   * codes share the parent's prefix, and the level bits are constant — so a
   * coarse-cell candidate set turns into a handful of BETWEEN predicates on
   * the stored fine-level cell column (range-prunable at the scan), instead
   * of an `isin` over 4^(levels) enumerated children.
   */
  def childRange(cell: Long, childLevel: Int): (Long, Long) = {
    val l = level(cell)
    require(childLevel >= l, s"childLevel $childLevel above cell level $l")
    val d = childLevel - l
    val minC = fromXY(x(cell) << d, y(cell) << d, childLevel)
    val maxC = fromXY(((x(cell) + 1) << d) - 1, ((y(cell) + 1) << d) - 1, childLevel)
    (minC, maxC)
  }

  /** Four children at level+1. */
  def children(cell: Long): Array[Long] = {
    val l = level(cell); val cx = x(cell) << 1; val cy = y(cell) << 1
    Array(fromXY(cx, cy, l + 1), fromXY(cx + 1, cy, l + 1),
          fromXY(cx, cy + 1, l + 1), fromXY(cx + 1, cy + 1, l + 1))
  }

  /** (latMin, lonMin, latMax, lonMax) bounds of the cell. */
  def bounds(cell: Long): (Double, Double, Double, Double) = {
    val l = level(cell); val n = (1L << l).toDouble
    val cx = x(cell); val cy = y(cell)
    val latMin = cy / n * 180.0 - 90.0
    val lonMin = cx / n * 360.0 - 180.0
    (latMin, lonMin, latMin + 180.0 / n, lonMin + 360.0 / n)
  }

  /**
   * Cells at Chebyshev grid distance exactly `r` from `cell` (the ring);
   * r=0 returns the cell itself. Same wrapping as [[box]].
   */
  def ring(cell: Long, r: Int): Array[Long] =
    if (r == 0) Array(cell) else box(cell, r, r).diff(box(cell, r - 1, r - 1))

  /**
   * All cells within `rx` columns and `ry` rows of `cell`. Longitude wraps
   * modulo 2^level, and a box at least as wide as the grid takes every
   * column once; latitude clamps at the poles (out-of-range rows are
   * dropped). Each cell appears once.
   */
  def box(cell: Long, rx: Int, ry: Int): Array[Long] = {
    val l = level(cell); val n = 1L << l
    val cx = x(cell); val cy = y(cell)
    val xs = if (2L * rx + 1 >= n) 0L until n else (-rx.toLong to rx).map(dx => ((cx + dx) % n + n) % n)
    val ys = math.max(0L, cy - ry) to math.min(n - 1, cy + ry)
    (for (yy <- ys; xx <- xs) yield fromXY(xx, yy, l)).toArray
  }

  /** All cells at Chebyshev distance <= r (the disk). */
  def disk(cell: Long, r: Int): Array[Long] = box(cell, r, r)

  /** Cell IDs covering a lat/lon bbox at `level`. A box with
   *  lonMin > lonMax is empty: it does not wrap across the antimeridian. */
  def coverBBox(latMin: Double, lonMin: Double, latMax: Double, lonMax: Double, level: Int): Array[Long] = {
    val x0 = xIndex(lonMin, level); val x1 = xIndex(lonMax, level)
    val y0 = yIndex(latMin, level); val y1 = yIndex(latMax, level)
    val out = new ArrayBuffer[Long](((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
    var xx = x0
    while (xx <= x1) {
      var yy = y0
      while (yy <= y1) { out += fromXY(xx, yy, level); yy += 1 }
      xx += 1
    }
    out.toArray
  }

  private def segmentIntersectsRect(aLat: Double, aLon: Double, bLat: Double, bLon: Double,
                                    latMin: Double, lonMin: Double, latMax: Double, lonMax: Double): Boolean = {
    // trivial accept: an endpoint inside
    if (aLat >= latMin && aLat <= latMax && aLon >= lonMin && aLon <= lonMax) return true
    if (bLat >= latMin && bLat <= latMax && bLon >= lonMin && bLon <= lonMax) return true
    // trivial reject: both ends on one outside side
    if ((aLat < latMin && bLat < latMin) || (aLat > latMax && bLat > latMax) ||
        (aLon < lonMin && bLon < lonMin) || (aLon > lonMax && bLon > lonMax)) return false
    // clip against rect using the Liang–Barsky parametric test
    val dLat = bLat - aLat; val dLon = bLon - aLon
    var t0 = 0.0; var t1 = 1.0
    val p = Array(-dLon, dLon, -dLat, dLat)
    val q = Array(aLon - lonMin, lonMax - aLon, aLat - latMin, latMax - aLat)
    var i = 0
    while (i < 4) {
      if (p(i) == 0) { if (q(i) < 0) return false }
      else {
        val t = q(i) / p(i)
        if (p(i) < 0) { if (t > t1) return false; if (t > t0) t0 = t }
        else { if (t < t0) return false; if (t < t1) t1 = t }
      }
      i += 1
    }
    true
  }

  /**
   * Conservative polygon cover: cells of the polygon's bbox cover whose
   * rectangle actually intersects the polygon (edge crosses the cell, a
   * vertex lies inside, or the cell center is inside the polygon). Always a
   * superset of the exact cover — safe as a PIP prefilter.
   */
  def coverPolygon(polyLat: Array[Double], polyLon: Array[Double], level: Int): Array[Long] = {
    val bbox = coverBBox(polyLat.min, polyLon.min, polyLat.max, polyLon.max, level)
    bbox.filter { cell =>
      val (latMin, lonMin, latMax, lonMax) = bounds(cell)
      @inline def rectsOverlap(aLatMin: Double, aLonMin: Double,
                               aLatMax: Double, aLonMax: Double): Boolean =
        aLatMin <= latMax && aLatMax >= latMin && aLonMin <= lonMax && aLonMax >= lonMin
      val centerInside = GeoMath.isPointInPolygon((latMin + latMax) / 2, (lonMin + lonMax) / 2, polyLat, polyLon)
      centerInside ||
        polyLat.indices.exists(i => polyLat(i) >= latMin && polyLat(i) <= latMax &&
          polyLon(i) >= lonMin && polyLon(i) <= lonMax) ||
        (0 until polyLat.length - 1).exists(i =>
          segmentIntersectsRect(polyLat(i), polyLon(i), polyLat(i + 1), polyLon(i + 1),
            latMin, lonMin, latMax, lonMax)) ||
        // GeoMath.isPointInPolygon faithfully reproduces the reference's
        // edge-BBOX "on segment" short-circuit (geometry.go:94-102), which
        // accepts points outside the exact polygon; the prefilter must stay
        // a superset of that, so also keep cells overlapping any edge bbox.
        (0 until polyLat.length - 1).exists(i => rectsOverlap(
          math.min(polyLat(i), polyLat(i + 1)), math.min(polyLon(i), polyLon(i + 1)),
          math.max(polyLat(i), polyLat(i + 1)), math.max(polyLon(i), polyLon(i + 1))))
    }
  }

  /**
   * Is the cell's whole rectangle provably inside the polygon (under the
   * reference PIP semantics)? True when NO polygon edge intersects the cell
   * rect — so the winding number is constant across the cell — and the cell
   * center is winding-inside. Uses the quirk-free winding test: the
   * reference's edge-bbox short-circuit can only ADD acceptance, so a
   * winding-inside cell untouched by any edge is all-accepted.
   *
   * Lets a PIP join skip the per-row refine for interior cells: a polygon's
   * cover is O(area) cells but only O(perimeter) of them are boundary.
   */
  def cellInteriorOfPolygon(cell: Long, polyLat: Array[Double], polyLon: Array[Double]): Boolean = {
    val (latMin, lonMin, latMax, lonMax) = bounds(cell)
    val edgeTouches = (0 until polyLat.length - 1).exists(i =>
      segmentIntersectsRect(polyLat(i), polyLon(i), polyLat(i + 1), polyLon(i + 1),
        latMin, lonMin, latMax, lonMax))
    !edgeTouches &&
      GeoMath.windingInside((latMin + latMax) / 2, (lonMin + lonMax) / 2, polyLat, polyLon)
  }

  val KmPerDegLat: Double = math.Pi * GeoMath.EarthRadiusKm / 180.0 // ~111.19

  /** Height (km) of a cell at `level`; width additionally shrinks by cos(lat). */
  def cellHeightKm(level: Int): Double = 180.0 / (1L << level) * KmPerDegLat
  def cellWidthKm(lat: Double, level: Int): Double =
    360.0 / (1L << level) * KmPerDegLat * math.max(0.0, math.cos(GeoMath.degToRad(lat)))

  /**
   * The finest level in [1, finest] whose 3x3 block of cells around
   * (lat, lon) holds at least `k` points, else 0 (the whole grid). `cells`
   * are the points' cells at `finest` in ascending order; `cum(i)` is the
   * count of points in `cells(0 until i)`. A cell's descendants at `finest`
   * are one contiguous id range ([[childRange]]), so its count is a
   * difference of two running counts.
   */
  def blockLevel(lat: Double, lon: Double, k: Long, finest: Int,
                 cells: Array[Long], cum: Array[Long]): Int = {
    def upTo(c: Long): Long = { // points in cells <= c
      val i = java.util.Arrays.binarySearch(cells, c)
      cum(if (i >= 0) i + 1 else -i - 1)
    }
    def count(lvl: Int): Long = box(encode(lat, lon, lvl), 1, 1).map { c =>
      val (first, last) = childRange(c, finest)
      upTo(last) - upTo(first - 1)
    }.sum
    (finest to 1 by -1).find(count(_) >= k).getOrElse(0)
  }

  /**
   * An upper bound on the distance from (lat, lon) to every point of the
   * 3x3 block of cells at `level` around it (the block of `box(cell, 1, 1)`).
   * While the block lies within 90 degrees of longitude of the point, the
   * farthest of its four wrapped corners is exact: at a fixed latitude the
   * distance grows with the longitude offset, and at a fixed offset with
   * c = 1 - cos Δλ <= 1 the haversine term is 1/2 - (A cos φ + B sin φ)/2
   * with A = cos(lat) (1 - c) >= 0, which has no interior maximum over a
   * latitude range. Otherwise half the circumference.
   */
  def blockReachKm(lat: Double, lon: Double, level: Int): Double = {
    val (cellLat, cellLon, _, _) = bounds(encode(lat, lon, level))
    val w = 360.0 / (1L << level)
    val (lonLo, lonHi) = (cellLon - w, cellLon + 2 * w)
    val lats = Seq(math.max(-90.0, cellLat - w / 2), math.min(90.0, cellLat + w))
    if (math.max(lon - lonLo, lonHi - lon) > 90.0) math.Pi * GeoMath.EarthRadiusKm
    else lats.flatMap(la => Seq(lonLo, lonHi).map(GeoMath.haversineKm(lat, lon, la, _))).max
  }

  /**
   * Lower bound on the distance from (lat, lon) to any point OUTSIDE the
   * disk of radius `r` around its cell. Any point outside the disk is at
   * least `r` cells away along one axis, minus the query's offset within
   * its own cell — conservatively (r - 1) * min(cellHeight, cellWidth)
   * plus the distance to the near edge (>= 0). Used as the stop test of
   * [[graft.query.Geofence.FenceGrid]]'s probes: once the kth distance is
   * <= this bound, the top-k is exact (equivalent to the reference
   * R-tree's minDist pruning, rtree.go:543-568).
   */
  def minDistOutsideDiskKm(lat: Double, lon: Double, level: Int, r: Int): Double = {
    if (r <= 0) return 0.0
    val cell = encode(lat, lon, level)
    val (latMin, lonMin, latMax, lonMax) = bounds(cell)
    val latCellDeg = 180.0 / (1L << level)
    val lonCellDeg = 360.0 / (1L << level)
    // Any point outside disk(r) has |dy| >= r+1 or |dx| >= r+1.
    // |dy| >= r+1: latitude separation >= edge offset + r full cells.
    //   central angle >= |dLat| (radians)  =>  exact lower bound.
    val latSepRad = GeoMath.degToRad(math.min(lat - latMin, latMax - lat) + r * latCellDeg)
    val bLat = latSepRad * GeoMath.EarthRadiusKm
    // |dx| >= r+1 with |dy| <= r: the point's latitude stays within the
    // disk's band, where cos(lat) >= cosMin. From the haversine formula,
    //   a >= cos(lat1) cos(lat2) hav(dLon) >= (cosMin sin(dLon/2))^2
    //   c  = 2 asin(sqrt(a))  =>  exact lower bound below.
    val bandAbsLat = math.min(90.0, math.max(math.abs(latMin), math.abs(latMax)) + r * latCellDeg)
    val cosMin = math.max(0.0, math.cos(GeoMath.degToRad(bandAbsLat)))
    val lonSepRad = math.min(math.Pi,
      GeoMath.degToRad(math.min(lon - lonMin, lonMax - lon) + r * lonCellDeg))
    val bLon = 2.0 * math.asin(math.min(1.0, cosMin * math.sin(lonSepRad / 2.0))) *
      GeoMath.EarthRadiusKm
    math.min(bLat, bLon)
  }
}
