package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cells
import graft.functions.GeoFunctions

/**
 * Raster ↔ vector conversion over the cell grid (BASELINE.json north_rule:
 * "H3/S2 index, point-in-polygon, kNN, raster↔vector").
 *
 *  - [[rasterize]]: points → a sparse raster — one row per occupied grid
 *    cell at `level`, carrying (x, y, value). The grid coordinates are the
 *    cell's own (x, y) indices, so the raster aligns exactly with the tile
 *    index; pure groupBy, one shuffle, map-side combined.
 *  - [[vectorize]]: raster → vector features — 4-connected components of
 *    the cells with value ≥ threshold, each labeled with its component id
 *    (the minimum cellId in the component, deterministic) and emitted as
 *    (component, cell, x, y, value) plus per-component bbox polygons from
 *    [[componentBounds]]. Connectivity is resolved by distributed
 *    min-label propagation: each iteration joins the frontier with the
 *    4-neighbor edge set and takes the min label; iterations are
 *    O(diameter) with each round a single shuffle — the standard
 *    connected-components-on-Spark shape, no driver-side graph.
 */
object Raster {

  /** Sparse raster of per-cell aggregates: (cell, x, y, value=count). */
  def rasterize(points: DataFrame, level: Int = Cells.DefaultLevel): DataFrame =
    points
      .withColumn("rcell", GeoFunctions.cellEncode(col("lat"), col("lon"), level))
      .groupBy(col("rcell").as("cell"))
      .agg(count(lit(1)).as("value"))
      .select(col("cell"), GeoFunctions.cellX(col("cell")).as("x"),
        GeoFunctions.cellY(col("cell")).as("y"), col("value"))

  /**
   * 4-connected components of raster cells with value >= threshold.
   * Returns (component, cell, x, y, value); `component` = min cellId in
   * the component.
   */
  def vectorize(raster: DataFrame, threshold: Long, maxIters: Int = 256): DataFrame = {
    val cells = raster.filter(col("value") >= threshold)
      .select(col("cell"), col("x"), col("y"), col("value"))
      .localCheckpoint(eager = true)

    // undirected 4-neighbor edges, built by equi-joining on shifted grid
    // coordinates (no theta join): right/down neighbors; symmetrization and
    // the min-label propagation itself are the shared component engine
    // (graft.ml.Components.minLabel — materialization/pointer-jumping
    // rationale documented there)
    val a = cells.select(col("cell").as("id1"), col("x"), col("y"))
    val b = cells.select(col("cell").as("id2"), col("x").as("bx"), col("y").as("by"))
    val right = a.join(b, col("bx") === col("x") + 1 && col("by") === col("y"))
    val down = a.join(b, col("bx") === col("x") && col("by") === col("y") + 1)
    val edges = right.unionByName(down).select(col("id1"), col("id2"))
    val labels = graft.ml.Components.minLabel(
      cells.select(col("cell").as("id")), edges, maxIters)
    cells.join(labels.select(col("id").as("cell"), col("comp").as("label")), Seq("cell"))
      .select(col("label").as("component"), col("cell"), col("x"), col("y"), col("value"))
  }

  /** Vector features: per-component bbox polygon (lat/lon ring) + stats. */
  def componentBounds(components: DataFrame): DataFrame = {
    val boundsUdf = udf((c: Long) => {
      val (latMin, lonMin, latMax, lonMax) = Cells.bounds(c)
      Array(latMin, lonMin, latMax, lonMax)
    })
    components
      .withColumn("b", boundsUdf(col("cell")))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_cells"), sum(col("value")).as("total"),
        min(col("b")(0)).as("lat_min"), min(col("b")(1)).as("lon_min"),
        max(col("b")(2)).as("lat_max"), max(col("b")(3)).as("lon_max"))
  }
}
