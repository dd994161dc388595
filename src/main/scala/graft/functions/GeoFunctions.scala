package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, TernaryExpression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, CodegenFallback}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Cells, GeoMath}

/**
 * Cell-encode as a native Catalyst expression with whole-stage codegen —
 * the hot-path operation of the engine (every row of the 10^12-row table
 * passes through it once at index-build). Generated code is a static call
 * into [[graft.core.Cells]]; no boxing, no UDF serialization.
 *
 * Replaces R-tree insert (/root/reference/pkg/datastructure/rtree.go:168-205).
 */
case class CellEncodeExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "cell_encode"

  override def nullSafeEval(lat: Any, lon: Any, level: Any): Any =
    Cells.encode(lat.asInstanceOf[Double], lon.asInstanceOf[Double], level.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, lon, lvl) => s"graft.core.Cells.encode($lat, $lon, $lvl)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** cell_x / cell_y: de-interleave a Morton cell ID back to its grid
 *  coordinate — the shared codegen'd twin of [[graft.core.Cells.x]]/
 *  [[graft.core.Cells.y]] (one expression instead of the per-call-site UDFs
 *  it replaced; stays inside whole-stage codegen). */
case class CellCoordExpr(child: Expression, isX: Boolean) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = if (isX) "cell_x" else "cell_y"
  override def nullSafeEval(cell: Any): Any =
    if (isX) Cells.x(cell.asInstanceOf[Long]) else Cells.y(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      if (isX) s"graft.core.Cells.x($c)" else s"graft.core.Cells.y($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** cell_disk(cell, rx, ry): all cell IDs within `rx` columns and `ry` rows
 *  of the cell ([[graft.core.Cells.box]]) — the cover generator
 *  (explode(cell_disk(...))) replacing R-tree descent. */
case class CellDiskExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cell_disk"
  override def nullSafeEval(cell: Any, rx: Any, ry: Any): Any =
    new GenericArrayData(Cells.box(cell.asInstanceOf[Long], rx.asInstanceOf[Int], ry.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/**
 * Static eval targets for generated code: identical semantics to
 * [[graft.core.GeoMath]] but reading catalyst [[ArrayData]] in place —
 * the per-row `toDoubleArray()` copies were the dominant allocation of the
 * PIP refine (two arrays per row over every cover-matched row).
 */
object GeoEval {
  /** Zero-copy twin of [[GeoMath.isPointInPolygon]] (same bbox quirk). */
  def pointInPolygon(pLat: Double, pLon: Double, lats: ArrayData, lons: ArrayData): Boolean = {
    var wn = 0
    val n = math.min(lats.numElements(), lons.numElements())
    var i = 0
    while (i < n - 1) {
      val aLat = lats.getDouble(i); val aLon = lons.getDouble(i)
      val bLat = lats.getDouble(i + 1); val bLon = lons.getDouble(i + 1)
      if (pLon >= math.min(aLon, bLon) && pLon <= math.max(aLon, bLon) &&
          pLat >= math.min(aLat, bLat) && pLat <= math.max(aLat, bLat)) return true
      if (aLat <= pLat) {
        if (bLat > pLat &&
          ((bLon - aLon) * (pLat - aLat)) - ((pLon - aLon) * (bLat - aLat)) > 0) wn += 1
      } else if (bLat <= pLat &&
        ((bLon - aLon) * (pLat - aLat)) - ((pLon - aLon) * (bLat - aLat)) < 0) wn -= 1
      i += 1
    }
    wn != 0
  }

  def pointToPolylineKm(pLat: Double, pLon: Double, lats: ArrayData, lons: ArrayData): Double =
    GeoMath.pointToPolylineKm(pLat, pLon, lats.toDoubleArray(), lons.toDoubleArray())

}

/**
 * Winding-number point-in-polygon (reference geometry.go:104-126) as a
 * Catalyst expression over (lat, lon, polyLats ARRAY<DOUBLE>, polyLons
 * ARRAY<DOUBLE>). Used as the exact refine after the cell-cover prefilter.
 * Generates a static call into [[GeoEval]] so the refine stays inside
 * whole-stage codegen with no per-row array copies.
 */
case class PointInPolygonExpr(first: Expression, second: Expression,
                              third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "point_in_polygon"
  override def nullSafeEval(lat: Any, lon: Any, lats: Any, lons: Any): Any =
    GeoEval.pointInPolygon(
      lat.asInstanceOf[Double], lon.asInstanceOf[Double],
      lats.asInstanceOf[ArrayData], lons.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, lon, lats, lons) =>
      s"graft.functions.GeoEval.pointInPolygon($lat, $lon, $lats, $lons)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
                                                 c: Expression, d: Expression): Expression =
    copy(first = a, second = b, third = c, fourth = d)
}

/** Min distance (km) from a point to a polyline — reverse-geocode refine
 *  (reference searcher.go:437-459). */
case class PointToPolylineKmExpr(first: Expression, second: Expression,
                                 third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "point_to_polyline_km"
  override def nullSafeEval(lat: Any, lon: Any, lats: Any, lons: Any): Any =
    GeoEval.pointToPolylineKm(
      lat.asInstanceOf[Double], lon.asInstanceOf[Double],
      lats.asInstanceOf[ArrayData], lons.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, lon, lats, lons) =>
      s"graft.functions.GeoEval.pointToPolylineKm($lat, $lon, $lats, $lons)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
                                                 c: Expression, d: Expression): Expression =
    copy(first = a, second = b, third = c, fourth = d)
}

/**
 * Column-level geo functions. Everything expressible with built-in
 * `org.apache.spark.sql.functions` stays built-in (full whole-stage
 * codegen); custom expressions are used only where arrays/algorithms
 * genuinely need them.
 */
object GeoFunctions {

  /** Haversine distance in km as a pure built-in column expression
   *  (reference distance.go:19-28; R=6371, hav form). Codegen-friendly. */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val a = (lit(1.0) - cos(radians(lat1 - lat2))) / 2.0 +
      cos(radians(lat1)) * cos(radians(lat2)) * (lit(1.0) - cos(radians(lon1 - lon2))) / 2.0
    lit(2.0 * GeoMath.EarthRadiusKm) * asin(sqrt(a))
  }

  /** Destination point along a great circle (reference geometry.go:131-155)
   *  as pure built-in column expressions — codegen-friendly, no UDF.
   *  Returns (lat, lon) in degrees; longitude wrapped to [-180, 180). */
  def destinationPoint(lat: Column, lon: Column, bearingDeg: Column,
                       distKm: Column): (Column, Column) = {
    val dr = distKm / GeoMath.EarthRadiusKm
    val br = radians(bearingDeg)
    val la1 = radians(lat); val lo1 = radians(lon)
    val la2 = asin(sin(la1) * cos(dr) + cos(la1) * sin(dr) * cos(br))
    val lo2 = lo1 + atan2(sin(br) * sin(dr) * cos(la1),
      cos(dr) - sin(la1) * sin(la2))
    val wrapped = (lo2 + lit(3 * math.Pi)) % lit(2 * math.Pi) - lit(math.Pi)
    (degrees(la2), degrees(wrapped))
  }

  /** SQL twin of [[destinationPoint]] (same arithmetic; fmod = Java % for
   *  the always-positive dividend). Returns (latSql, lonSql). */
  def destinationSql(lat: String, lon: String, bearingDeg: String,
                     distKm: String): (String, String) = {
    val dr = s"(($distKm) / 6371.0)"
    val br = s"radians($bearingDeg)"
    val la1 = s"radians($lat)"; val lo1 = s"radians($lon)"
    val la2 = s"asin(sin($la1) * cos($dr) + cos($la1) * sin($dr) * cos($br))"
    val lo2 = s"($lo1 + atan2(sin($br) * sin($dr) * cos($la1), " +
      s"cos($dr) - sin($la1) * sin($la2)))"
    (s"degrees($la2)", s"degrees(fmod($lo2 + 3 * pi(), 2 * pi()) - pi())")
  }

  /** Spherical midpoint (reference geometry.go:67-80) as built-in column
   *  expressions. Returns (lat, lon) in degrees. */
  def midPoint(lat1: Column, lon1: Column, lat2: Column,
               lon2: Column): (Column, Column) = {
    val p1 = radians(lat1); val p2 = radians(lat2)
    val dLon = radians(lon2 - lon1)
    val bx = cos(p2) * cos(dLon); val by = cos(p2) * sin(dLon)
    val nlat = atan2(sin(p1) + sin(p2),
      sqrt((cos(p1) + bx) * (cos(p1) + bx) + by * by))
    val nlon = radians(lon1) + atan2(by, cos(p1) + bx)
    (degrees(nlat), degrees(nlon))
  }

  /** SQL twin of [[midPoint]]. Returns (latSql, lonSql). */
  def midPointSql(lat1: String, lon1: String, lat2: String,
                  lon2: String): (String, String) = {
    val p1 = s"radians($lat1)"; val p2 = s"radians($lat2)"
    val dLon = s"radians(($lon2) - ($lon1))"
    val bx = s"(cos($p2) * cos($dLon))"; val by = s"(cos($p2) * sin($dLon))"
    val nlat = s"atan2(sin($p1) + sin($p2), " +
      s"sqrt((cos($p1) + $bx) * (cos($p1) + $bx) + $by * $by))"
    val nlon = s"(radians($lon1) + atan2($by, cos($p1) + $bx))"
    (s"degrees($nlat)", s"degrees($nlon)")
  }

  /** Same formula as a SQL string — shared with the DuckDB oracle so both
   *  sides evaluate the identical arithmetic. */
  def haversineSql(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"(2.0 * 6371.0 * asin(sqrt( (1.0 - cos(radians(($lat1) - ($lat2))))/2.0 + " +
      s"cos(radians($lat1)) * cos(radians($lat2)) * (1.0 - cos(radians(($lon1) - ($lon2))))/2.0 )))"

  def cellEncode(lat: Column, lon: Column, level: Column): Column =
    toCol(CellEncodeExpr(toExpr(lat.cast(DoubleType)), toExpr(lon.cast(DoubleType)), toExpr(level.cast(IntegerType))))
  def cellEncode(lat: Column, lon: Column, level: Int): Column =
    cellEncode(lat, lon, lit(level))

  def cellDisk(cell: Column, rx: Column, ry: Column): Column =
    toCol(CellDiskExpr(toExpr(cell.cast(LongType)), toExpr(rx.cast(IntegerType)),
      toExpr(ry.cast(IntegerType))))
  def cellDisk(cell: Column, r: Column): Column = cellDisk(cell, r, r)

  /** Morton x grid coordinate of a cell ID (codegen'd; replaces the UDFs
   *  formerly duplicated across Raster/SpatialQueries/SkewQueries). */
  def cellX(cell: Column): Column = toCol(CellCoordExpr(toExpr(cell.cast(LongType)), isX = true))
  /** Morton y grid coordinate of a cell ID. */
  def cellY(cell: Column): Column = toCol(CellCoordExpr(toExpr(cell.cast(LongType)), isX = false))

  def pointInPolygon(lat: Column, lon: Column, polyLats: Column, polyLons: Column): Column =
    toCol(PointInPolygonExpr(toExpr(lat.cast(DoubleType)), toExpr(lon.cast(DoubleType)), toExpr(polyLats), toExpr(polyLons)))

  def pointToPolylineKm(lat: Column, lon: Column, polyLats: Column, polyLons: Column): Column =
    toCol(PointToPolylineKmExpr(toExpr(lat.cast(DoubleType)), toExpr(lon.cast(DoubleType)), toExpr(polyLats), toExpr(polyLons)))

  /** SQL twin of [[GeoMath.lineCircleIntersect]] for the DuckDB oracle. */
  def lineCircleIntersectSql(centerLat: String, centerLon: String, radiusKm: String,
                             lat1: String, lon1: String, lat2: String, lon2: String): String = {
    val eR = GeoMath.EarthRadiusM
    val cLatR = s"radians($centerLat)"
    val aLat = s"(radians($lat1) * $eR)"; val aLon = s"(radians($lon1) * $eR * cos($cLatR))"
    val bLat = s"(radians($lat2) * $eR)"; val bLon = s"(radians($lon2) * $eR * cos($cLatR))"
    val ccLat = s"($cLatR * $eR)"; val ccLon = s"(radians($centerLon) * $eR * cos($cLatR))"
    val vLat = s"($aLat - $ccLat)"; val vLon = s"($aLon - $ccLon)"
    val uLat = s"($bLat - $aLat)"; val uLon = s"($bLon - $aLon)"
    val alpha = s"($uLat*$uLat + $uLon*$uLon)"
    val beta = s"($uLat*$vLat + $uLon*$vLon)"
    val gamma = s"($vLat*$vLat + $vLon*$vLon - ($radiusKm*1000.0)*($radiusKm*1000.0))"
    val disc = s"($beta*$beta - $alpha*$gamma)"
    val t1 = s"((-$beta + sqrt($disc)) / $alpha)"
    val t2 = s"((-$beta - sqrt($disc)) / $alpha)"
    // CASE keeps sqrt lazy — DuckDB errors on sqrt of a negative number
    s"(CASE WHEN $disc < 0 THEN FALSE ELSE (($t1 >= 0 AND $t1 <= 1) OR ($t2 >= 0 AND $t2 <= 1)) END)"
  }
}
