package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.query.Spatial
import graft.entry.SpatialQueries
import graft.sources.Derived

/**
 * Physical-plan shape assertions — the properties that decide whether a
 * plan survives a 100x scale-up, CI-enforced so a refactor can't silently
 * regress them:
 *   - column pruning reaches the parquet scan (ReadSchema),
 *   - small sides of spatial joins broadcast (no shuffle of the big side's
 *     join key, never a cartesian),
 *   - the kNN top-k runs as ObjectHashAggregate with a partial_ (map-side)
 *     phase, not a full sort of candidates,
 *   - scalar geo expressions stay inside WholeStageCodegen.
 */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("q1-style agg prunes the scan to the referenced columns only") {
    val df = spark.read.parquet(s"$Sf/lineitem.parquet")
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")))
    val p = plan(df)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_comment"),
      s"scan reads unreferenced columns: $readSchema")
  }

  test("filter on a scan column is pushed down to the parquet reader") {
    val df = spark.read.parquet(s"$Sf/orders.parquet")
      .filter(col("o_orderkey") > 1000).select("o_orderkey")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey), GreaterThan(o_orderkey,1000)]")
      || p.contains("GreaterThan(o_orderkey"), s"no pushdown in:\n$p")
  }

  test("PIP join broadcasts the polygon cover and never goes cartesian") {
    val df = Spatial.pipJoin(Derived.objects(spark, Sf), SpatialQueries.Polygons.all)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"PIP join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "PIP join degenerated to a product join")
  }

  test("kNN join: broadcast query side + map-side-combine ObjectHashAggregate top-k") {
    val objs = Derived.objects(spark, Sf)
    val queries = objs.limit(4)
      .select(col("id").as("qid"), col("lat").as("qlat"), col("lon").as("qlon"))
    val p = plan(Spatial.knnJoin(objs, queries, k = 5))
    assert(p.contains("BroadcastHashJoin"), s"query side not broadcast:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"top-k not ObjectHashAggregate:\n$p")
    assert(p.contains("partial_topkagg") || p.contains("partial_TopKAgg")
      || p.toLowerCase.contains("partial_topkagg"),
      s"no map-side partial top-k phase:\n$p")
    assert(!p.contains("Window"), "top-k still uses a window (shuffles all candidates)")
  }

  test("cell encode + haversine stay inside WholeStageCodegen") {
    val df = Derived.objects(spark, Sf)
      .withColumn("d", graft.functions.GeoFunctions.haversineKm(
        lit(0.0), lit(0.0), col("lat"), col("lon")))
      .filter(col("d") < 1e9)
    val p = plan(df)
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage;
    // cell_encode must sit inside such a starred Project, not a fallback node
    val cellLine = p.linesIterator.find(_.contains("cell_encode")).getOrElse("")
    assert(cellLine.trim.stripPrefix("+- ").startsWith("*("),
      s"cell_encode not inside WholeStageCodegen:\n$p")
    // the derived-column filter collapses into the same codegen stage and
    // its scan-column part reaches the parquet reader
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey)"), s"no scan pushdown:\n$p")
  }

  test("geofence nearest-fence selection is map-side: one lag window, no row_number over the track x fences product") {
    val df = graft.query.Geofence.fenceStatus(
      Derived.track(spark, Sf), SpatialQueries.Fences.all)
    val p = plan(df)
    assert(!p.contains("row_number"),
      s"fence ranking still shuffles the cross product through a window:\n$p")
    // exactly the lag window's exchange on user_id — nothing else shuffles
    val windows = p.linesIterator.count(_.trim.stripPrefix("+- ").startsWith("Window"))
    assert(windows == 1, s"expected only the lag window, got $windows:\n$p")
  }

  test("posting build is a partial+final hash aggregation (map-side combine)") {
    val df = graft.index.TextIndex.postings(
      spark.read.parquet(s"$Sf/documents.parquet"), "doc_id", "text")
    val p = plan(df)
    assert(p.contains("HashAggregate"), s"postings not hash-aggregated:\n$p")
    assert(p.contains("partial_count") || p.contains("partial count") ||
      p.contains("partial_"), s"no partial aggregation phase:\n$p")
  }

  test("repetition and stratified sampling are map-side only (no exchange)") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val rep = plan(graft.ml.TextStats.repetition(docs, "doc_id", "text"))
    assert(!rep.contains("Exchange"), s"repetition shuffles:\n$rep")
    val samp = plan(graft.ml.Sampling.stratifiedSample(
      docs.withColumn("lang_pred", graft.ml.TextStats.langIdCol(col("text"))),
      "doc_id", col("lang_pred"), Map("en" -> 0.5), 0.1, "s"))
    assert(!samp.contains("Exchange"), s"sampling shuffles:\n$samp")
    // the rate lookup must reference the stratum expression exactly once
    // (element_at on a map literal) — a when-chain inlines the stratum per
    // branch, and langIdCol is itself a CASE, so the whole plan may carry
    // at most 2 CASE instances (one in the pushed filter, one in the
    // output projection); the old chain form carried 5+ (measured 1.9 s
    // vs 0.3 s at sf0.1)
    assert(samp.contains("element_at"), s"rate lookup is not element_at:\n$samp")
    assert("CASE WHEN".r.findAllIn(samp).size <= 2,
      s"stratum expression inlined more than twice:\n$samp")
  }

  test("LM score: count tables aggregate partially, no cartesian joins") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val p = plan(graft.ml.TextStats.lmScore(docs, "doc_id", "text"))
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LM score joins degenerated to a product:\n$p")
  }
}
