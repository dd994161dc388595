package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Cells
import graft.functions.GeoFunctions
import graft.query.{Geofence, Spatial}
import graft.sources.Derived
import graft.sources.Derived.{q4, q4Sql}

/**
 * Spatial operator queries over the derived `objects` table, each with a
 * DuckDB oracle twin (identical arithmetic; quantized outputs). Operator
 * IDs follow SURVEY.md §2.
 */
object SpatialQueries {
  // fixed query point inside the derived region
  val QLat = -7.25; val QLon = 108.5
  val hav = GeoFunctions.haversineSql _

  private def objects(s: SparkSession, dir: String) = Derived.objects(s, dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T2: exact kNN, one histogram-capped plan (rtree.go:685-723 equivalent)
    "t2_knn" -> ((s, dir) =>
      Spatial.knn(objects(s, dir), QLat, QLon, k = 10)
        .select(col("id"), q4(col("dist_km")).as("dist4"))),

    // T3: radius + feature filter kNN with offset (rtree.go:656-682)
    "t3_knn_radius_feature" -> ((s, dir) =>
      Spatial.knn(objects(s, dir), QLat, QLon, k = 20,
        radiusKm = Some(60.0), feature = Some("f3"), offset = 5)
        .select(col("id"), q4(col("dist_km")).as("dist4"))),

    // S4-range: bbox search (rtree.go:505-531)
    "s4_range_search" -> ((s, dir) =>
      Spatial.rangeSearch(objects(s, dir), -7.8, 107.2, -6.9, 108.8)
        .select(col("id")).orderBy(col("id"))),

    // J2: nearest-neighbour enrichment join (indexer.go:986-1026)
    "j2_nearest_join" -> ((s, dir) => {
      val o = objects(s, dir)
      val left = o.filter(col("id") % 11 === 0 && col("id") % 5 =!= 0)
      val right = o.filter(col("id") % 5 === 0)
      Spatial.nearestJoin(left, right, maxKm = 30.0)
        .select(col("lid"), col("rid"), q4(col("dist_km")).as("dist4"))
        .orderBy(col("lid"))
    }),

    // J3: PIP join — broadcast cell-prefilter + exact winding refine
    // (indexer.go:1035-1061); rectangle + diamond polygons so the oracle
    // can express containment in pure arithmetic
    "j3_pip_join" -> ((s, dir) =>
      Spatial.pipJoin(objects(s, dir), Polygons.all)
        .select(col("id"), col("poly_id")).orderBy(col("id"), col("poly_id"))),

    // F2: haversine as a direct scalar check (distance.go:19-28)
    "f2_haversine" -> ((s, dir) =>
      objects(s, dir).filter(col("id") % 13 === 0)
        .select(col("id"),
          q4(GeoFunctions.haversineKm(lit(QLat), lit(QLon), col("lat"), col("lon"))).as("dist4"))
        .orderBy(col("id"))),

    // F3: destination point — per-row bearing/distance derived from id so
    // the whole great-circle formula (asin/atan2/wrap) runs per row; both
    // engines evaluate the identical arithmetic, quantized to 1e-4 deg.
    // The +0.5 keeps bearings off the compass axes: bearing exactly 0
    // makes dlon == lon, whose exact-5-decimal synthesis lands PRECISELY
    // on the x.xxxx5 rounding boundary (measured margin 0 at sf0.1).
    // Off-axis, the margin is >= 1.7e-6 in 1e-4-deg units at sf0.1 —
    // three orders above cross-engine trig noise (~2e-9).
    "f3_destination" -> ((s, dir) => {
      val bearing = (col("id") * 37 % 360).cast("double") + lit(0.5)
      val dist = (col("id") % 50 + 1).cast("double")
      val (dlat, dlon) = GeoFunctions.destinationPoint(
        col("lat"), col("lon"), bearing, dist)
      objects(s, dir).filter(col("id") % 13 === 0)
        .select(col("id"), q4(dlat).as("dlat4"), q4(dlon).as("dlon4"))
        .orderBy(col("id"))
    }),

    // F4: spherical midpoint vs the fixed query point
    "f4_midpoint" -> ((s, dir) => {
      val (mlat, mlon) = GeoFunctions.midPoint(
        lit(QLat), lit(QLon), col("lat"), col("lon"))
      objects(s, dir).filter(col("id") % 13 === 0)
        .select(col("id"), q4(mlat).as("mlat4"), q4(mlon).as("mlon4"))
        .orderBy(col("id"))
    }),

    // P1+P2+P3+F12 as one oracled cascade over a deterministic tags map:
    // admission via exists(map_keys ∈ valid), type via the coalesce
    // cascade, empty-name skip, capitalize — the Spark side runs the REAL
    // map-column idioms; the oracle re-derives every decision
    // arithmetically from the id (an independent derivation, not a
    // translation of the plan)
    "p1_tag_cascade" -> ((s, dir) => {
      val id = col("id")
      val keyPool = Seq("amenity", "highway", "tourism", "building", "landuse")
      val primary = element_at(typedLit(keyPool), (id % 5).cast("int") + 1)
      val base = map(primary, concat(lit("v"), (id % 13).cast("string")))
      val tags = when(id % 3 =!= 0, map_concat(base,
          map(lit("name"), concat(lit("obj "), (id % 100).cast("string")))))
        .otherwise(base)
      val name = col("tags")("name")
      objects(s, dir).filter(id % 11 === 0)
        .select(id, tags.as("tags"))
        .filter(exists(map_keys(col("tags")),
          k => k.isin("amenity", "highway", "tourism")))                  // P1
        .withColumn("tipe", coalesce(col("tags")("amenity"),
          col("tags")("tourism"), col("tags")("highway")))                // P2
        .filter(name.isNotNull || col("tags")("highway").isNotNull)       // P3
        .select(id, col("tipe"),
          concat(upper(substring(name, 1, 1)),
            lower(substring(name, 2, 1000000))).as("name_cap"))           // F12
        .orderBy(id)
    }),

    // G1: tile assignment — the north-rule core; emits the cell's (x, y)
    // grid coordinates so the oracle can recompute them arithmetically
    "g1_tile_assign" -> ((s, dir) =>
      objects(s, dir).filter(col("id") % 7 === 0)
        .select(col("id"), GeoFunctions.cellX(col("cell")).as("tx"),
          GeoFunctions.cellY(col("cell")).as("ty"))
        .orderBy(col("id"))),

    // T1-reverse: batch reverse geocode = 1-NN join (searcher.go:402-435)
    "t1_reverse_geocode" -> ((s, dir) => {
      val o = objects(s, dir)
      val queries = o.filter(col("id") % 731 === 0)
        .select(col("id").as("qid"), (col("lat") + 0.001).as("qlat"),
          (col("lon") - 0.0015).as("qlon"))
      Spatial.knnJoin(o, queries, k = 1)
        .select(col("qid"), col("id"), q4(col("dist_km")).as("dist4"))
        .orderBy(col("qid"))
    }),

    // ST2: geofence status transitions (geofence.go:97-116)
    "st2_geofence" -> ((s, dir) =>
      Geofence.fenceStatus(Derived.track(s, dir), Fences.all)
        .select(col("event_id"), col("fence_key"), col("seq"), col("status"))
        .orderBy(col("event_id"), col("fence_key"), col("seq"))),

    // J1: member-resolution equi join + aggregate (indexer.go:132-142 shape)
    "j1_member_join" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"), q4(sum(col("l_quantity"))).as("sum_qty4"))
        .orderBy(col("o_orderkey"))
    }),

    // classic pushdown-friendly aggregation (driver smoke example)
    "q1_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(q4(sum(col("l_quantity"))).as("sum_qty4"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    // J2b: nearest-STREET enrichment — the reference's GetFullAdress pick
    // (indexer.go:1004-1022) projects onto the single first->last vertex
    // segment of each way
    "j2b_polyline_join" -> ((s, dir) =>
      Spatial.nearestWayJoin(wayQueries(s, dir), Derived.ways(s, dir),
          maxKm = 30.0, endpointsOnly = true)
        .select(col("qid"), col("way_id"), q4(col("dist_km")).as("dist4"))
        .orderBy(col("qid"))),

    // T1b: reverse-geocode refine — pointDistanceToOsmWay
    // (searcher.go:438-460): min over the CLOSED ring of way segments
    "t1b_reverse_refine" -> ((s, dir) =>
      Spatial.nearestWayJoin(wayQueries(s, dir), Derived.ways(s, dir),
          maxKm = 30.0, endpointsOnly = false)
        .select(col("qid"), col("way_id"), q4(col("dist_km")).as("dist4"))
        .orderBy(col("qid"))),

    // P4/D5: same-name bbox-containment dedup (indexer.go:582-618),
    // deterministic min-id representative per containment partner set
    "d5_spatial_dedup" -> ((s, dir) =>
      graft.ml.Dedup.spatialClusters(
          Derived.namedBoxes(s, dir).filter(col("id") < DedupMaxId))
        .orderBy(col("id")))
  )

  val DedupMaxId = 20000L

  /** Shared query-point derivation for the nearest-way joins. */
  private def wayQueries(s: SparkSession, dir: String): DataFrame =
    objects(s, dir).filter(col("id") % 731 === 0)
      .select(col("id").as("qid"), (col("lat") + 0.001).as("qlat"),
        (col("lon") - 0.0015).as("qlon"))

  object Polygons {
    import Spatial.Polygon
    // axis-aligned rectangle (closed ring)
    val rect = Polygon(1, "rect",
      Array(-7.9, -7.9, -7.1, -7.1, -7.9), Array(106.4, 107.6, 107.6, 106.4, 106.4))
    // diamond: |lat+6.6|/0.5 + |lon-109.4|/0.9 <= 1
    val dLat = -6.6; val dLon = 109.4; val dA = 0.5; val dB = 0.9
    val diamond = Polygon(2, "diamond",
      Array(dLat - dA, dLat, dLat + dA, dLat, dLat - dA),
      Array(dLon, dLon + dB, dLon, dLon - dB, dLon))
    val all = Seq(rect, diamond)
    val rectSql =
      "(lat >= -7.9 AND lat <= -7.1 AND lon >= 106.4 AND lon <= 107.6)"
    // The reference's winding-number PIP short-circuits to "inside" for any
    // point within the BOUNDING BOX of any polygon edge (geometry.go:94-102
    // checks only the bbox, with no collinearity test) — reproduced
    // faithfully by GeoMath.isPointInPolygon. For this diamond the union of
    // the 4 edge bboxes tiles the full bbox, so reference-PIP(diamond) ==
    // bbox containment; the oracle encodes exactly that.
    val diamondSql =
      s"(lat >= ${dLat - dA} AND lat <= ${dLat + dA} AND lon >= ${dLon - dB} AND lon <= ${dLon + dB})"
  }

  object Fences {
    import Geofence.Fence
    val all = Seq(
      Fence("alpha", -7.3, 108.2, 45.0),
      Fence("beta", -6.9, 109.9, 60.0),
      Fence("gamma", -7.9, 106.7, 50.0))
    def sqlCte: String = "fences AS (" + all.map(f =>
      s"SELECT '${f.key}' AS fence_key, ${f.lat} AS flat, ${f.lon} AS flon, ${f.radiusKm} AS fradius")
      .mkString(" UNION ALL ") + ")"
  }

  private val distQ = hav(QLat.toString, QLon.toString, "lat", "lon")

  /** Staged CTEs computing the 3D great-circle segment-projection distance
   *  (GeoMath.projectPointToSegment + haversine, the reference's
   *  geo.ProjectPointToLineCoord) from a `pairs` CTE with columns
   *  (qid, qlat, qlon, way_id, alat, alon, b2lat, b2lon) to
   *  `projd` (qid, way_id, d). */
  private val projCtes: String =
    s"""c1 AS (SELECT qid, qlat, qlon, way_id,
       |  cos(radians(alat))*cos(radians(alon)) AS ax,
       |  cos(radians(alat))*sin(radians(alon)) AS ay,
       |  sin(radians(alat)) AS az,
       |  cos(radians(b2lat))*cos(radians(b2lon)) AS bxx,
       |  cos(radians(b2lat))*sin(radians(b2lon)) AS byy,
       |  sin(radians(b2lat)) AS bzz,
       |  cos(radians(qlat))*cos(radians(qlon)) AS px,
       |  cos(radians(qlat))*sin(radians(qlon)) AS py,
       |  sin(radians(qlat)) AS pz
       |  FROM pairs),
       |c2 AS (SELECT *, bxx-ax AS abx, byy-ay AS aby, bzz-az AS abz FROM c1),
       |c3 AS (SELECT *, (abx*abx+aby*aby+abz*abz) AS dd,
       |  ((px-ax)*abx+(py-ay)*aby+(pz-az)*abz) AS dp FROM c2),
       |c4 AS (SELECT *, CASE WHEN dd = 0 THEN 0.0
       |  ELSE greatest(0.0, least(1.0, dp/dd)) END AS t FROM c3),
       |c5 AS (SELECT *, ax+t*abx AS jx, ay+t*aby AS jy, az+t*abz AS jz FROM c4),
       |c6 AS (SELECT *, sqrt(jx*jx+jy*jy+jz*jz) AS nrm FROM c5),
       |c7 AS (SELECT qid, qlat, qlon, way_id,
       |  degrees(asin(least(1.0, greatest(-1.0, jz/nrm)))) AS plat2,
       |  degrees(atan2(jy, jx)) AS plon2 FROM c6),
       |projd AS (SELECT qid, way_id, ${hav("qlat", "qlon", "plat2", "plon2")} AS d FROM c7)""".stripMargin

  private val wayQueriesSqlCte: String =
    "q AS (SELECT id AS qid, lat + 0.001 AS qlat, lon - 0.0015 AS qlon " +
      "FROM objects WHERE id % 731 = 0)"

  val oracles: Map[String, String] = Map(
    "t2_knn" ->
      s"""WITH ${Derived.objectsSqlCte}
         |SELECT id, ${q4Sql(distQ)} AS dist4 FROM objects
         |ORDER BY $distQ, id LIMIT 10""".stripMargin,

    "t3_knn_radius_feature" ->
      s"""WITH ${Derived.objectsSqlCte}
         |SELECT id, ${q4Sql(distQ)} AS dist4 FROM objects
         |WHERE $distQ <= 60.0 AND feature = 'f3'
         |ORDER BY $distQ, id LIMIT 20 OFFSET 5""".stripMargin,

    "s4_range_search" ->
      s"""WITH ${Derived.objectsSqlCte}
         |SELECT id FROM objects
         |WHERE lat >= -7.8 AND lat <= -6.9 AND lon >= 107.2 AND lon <= 108.8
         |ORDER BY id""".stripMargin,

    "j2_nearest_join" ->
      s"""WITH ${Derived.objectsSqlCte},
         |l AS (SELECT * FROM objects WHERE id % 11 = 0 AND id % 5 <> 0),
         |r AS (SELECT * FROM objects WHERE id % 5 = 0),
         |pairs AS (
         |  SELECT l.id AS lid, r.id AS rid,
         |         ${hav("l.lat", "l.lon", "r.lat", "r.lon")} AS d
         |  FROM l CROSS JOIN r
         |  WHERE ${hav("l.lat", "l.lon", "r.lat", "r.lon")} <= 30.0),
         |ranked AS (
         |  SELECT lid, rid, d,
         |         row_number() OVER (PARTITION BY lid ORDER BY d, rid) AS rn
         |  FROM pairs)
         |SELECT lid, rid, ${q4Sql("d")} AS dist4 FROM ranked WHERE rn = 1
         |ORDER BY lid""".stripMargin,

    "j3_pip_join" ->
      s"""WITH ${Derived.objectsSqlCte}
         |SELECT id, poly_id FROM (
         |  SELECT id, CAST(1 AS BIGINT) AS poly_id FROM objects WHERE ${Polygons.rectSql}
         |  UNION ALL
         |  SELECT id, CAST(2 AS BIGINT) AS poly_id FROM objects WHERE ${Polygons.diamondSql}
         |) ORDER BY id, poly_id""".stripMargin,

    "f2_haversine" ->
      s"""WITH ${Derived.objectsSqlCte}
         |SELECT id, ${q4Sql(distQ)} AS dist4 FROM objects
         |WHERE id % 13 = 0 ORDER BY id""".stripMargin,

    "p1_tag_cascade" ->
      s"""WITH ${Derived.objectsSqlCte},
         |t AS (SELECT id,
         |    CASE id % 5 WHEN 0 THEN 'amenity' WHEN 1 THEN 'highway'
         |      WHEN 2 THEN 'tourism' WHEN 3 THEN 'building'
         |      ELSE 'landuse' END AS pk,
         |    'v' || CAST(id % 13 AS VARCHAR) AS pv,
         |    CASE WHEN id % 3 <> 0
         |      THEN 'obj ' || CAST(id % 100 AS VARCHAR) END AS name
         |  FROM objects WHERE id % 11 = 0)
         |SELECT id, pv AS tipe,
         |  upper(substr(name, 1, 1)) || lower(substr(name, 2)) AS name_cap
         |FROM t
         |WHERE pk IN ('amenity', 'highway', 'tourism')
         |  AND (name IS NOT NULL OR pk = 'highway')
         |ORDER BY id""".stripMargin,

    "f3_destination" -> {
      val (dlat, dlon) = GeoFunctions.destinationSql(
        "lat", "lon", "(CAST(id * 37 % 360 AS DOUBLE) + 0.5)", "CAST(id % 50 + 1 AS DOUBLE)")
      s"""WITH ${Derived.objectsSqlCte}
         |SELECT id, ${q4Sql(dlat)} AS dlat4, ${q4Sql(dlon)} AS dlon4
         |FROM objects WHERE id % 13 = 0 ORDER BY id""".stripMargin
    },

    "f4_midpoint" -> {
      val (mlat, mlon) = GeoFunctions.midPointSql(
        QLat.toString, QLon.toString, "lat", "lon")
      s"""WITH ${Derived.objectsSqlCte}
         |SELECT id, ${q4Sql(mlat)} AS mlat4, ${q4Sql(mlon)} AS mlon4
         |FROM objects WHERE id % 13 = 0 ORDER BY id""".stripMargin
    },

    "g1_tile_assign" -> {
      val n = 1L << Cells.DefaultLevel
      s"""WITH ${Derived.objectsSqlCte}
         |SELECT id,
         |  CAST(least(greatest(floor((lon + 180.0) / 360.0 * $n), 0), ${n - 1}) AS BIGINT) AS tx,
         |  CAST(least(greatest(floor((lat + 90.0) / 180.0 * $n), 0), ${n - 1}) AS BIGINT) AS ty
         |FROM objects WHERE id % 7 = 0 ORDER BY id""".stripMargin
    },

    "t1_reverse_geocode" ->
      s"""WITH ${Derived.objectsSqlCte},
         |q AS (SELECT id AS qid, lat + 0.001 AS qlat, lon - 0.0015 AS qlon
         |      FROM objects WHERE id % 731 = 0),
         |pairs AS (
         |  SELECT q.qid, o.id, ${hav("q.qlat", "q.qlon", "o.lat", "o.lon")} AS d,
         |         row_number() OVER (PARTITION BY q.qid
         |           ORDER BY ${hav("q.qlat", "q.qlon", "o.lat", "o.lon")}, o.id) AS rn
         |  FROM q CROSS JOIN objects o)
         |SELECT qid, id, ${q4Sql("d")} AS dist4 FROM pairs WHERE rn = 1
         |ORDER BY qid""".stripMargin,

    "st2_geofence" -> {
      val contains = (plat: String, plon: String) =>
        s"(${hav("f.flat", "f.flon", plat, plon)} <= f.fradius)"
      val cross = GeoFunctions.lineCircleIntersectSql(
        "t.flat", "t.flon", "t.fradius", "t.prev_lat", "t.prev_lon", "t.lat", "t.lon")
      s"""WITH ${Derived.trackSqlCte},
         |${Fences.sqlCte},
         |tr AS (
         |  SELECT *, lag(lat, 1, -999.0) OVER w AS prev_lat,
         |            lag(lon, 1, -999.0) OVER w AS prev_lon
         |  FROM track WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |nearest AS (
         |  SELECT t.*, f.fence_key, f.flat, f.flon, f.fradius,
         |         row_number() OVER (PARTITION BY t.event_id
         |           ORDER BY ${hav("t.lat", "t.lon", "f.flat", "f.flon")}, f.fence_key) AS frank
         |  FROM tr t CROSS JOIN fences f),
         |st AS (
         |  SELECT event_id, fence_key,
         |    CASE
         |      WHEN prev_in AND curr_in THEN ['INSIDE']
         |      WHEN prev_in AND NOT curr_in THEN ['EXIT', 'OUTSIDE']
         |      WHEN NOT prev_in AND curr_in THEN ['ENTER', 'INSIDE']
         |      WHEN crossed THEN ['CROSS']
         |      ELSE ['OUTSIDE'] END AS statuses
         |  FROM (
         |    SELECT t.event_id, t.fence_key,
         |      (t.prev_lat <> -999.0 AND ${hav("t.flat", "t.flon", "t.prev_lat", "t.prev_lon")} <= t.fradius) AS prev_in,
         |      (${hav("t.flat", "t.flon", "t.lat", "t.lon")} <= t.fradius) AS curr_in,
         |      ($cross) AS crossed
         |    FROM (SELECT * FROM nearest WHERE frank <= 3) t))
         |SELECT event_id, fence_key,
         |       CAST(unnest(range(len(statuses))) AS INTEGER) AS seq,
         |       unnest(statuses) AS status
         |FROM st
         |ORDER BY event_id, fence_key, seq""".stripMargin
    },

    "j1_member_join" ->
      s"""SELECT o_orderkey, COUNT(*) AS n_items,
         |       ${q4Sql("sum(l_quantity)")} AS sum_qty4
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,

    "q1_agg" ->
      s"""SELECT l_returnflag, ${q4Sql("sum(l_quantity)")} AS sum_qty4, COUNT(*) AS n
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "j2b_polyline_join" ->
      s"""WITH ${Derived.objectsSqlCte},
         |${Derived.waysSqlCte},
         |$wayQueriesSqlCte,
         |pairs AS (SELECT q.qid, q.qlat, q.qlon, w.way_id,
         |  w.blat AS alat, w.blon AS alon,
         |  w.blat + ${Derived.WayVerts - 1}*w.dlat AS b2lat,
         |  w.blon + ${Derived.WayVerts - 1}*w.dlon AS b2lon
         |  FROM q CROSS JOIN ways w),
         |$projCtes,
         |ranked AS (SELECT qid, way_id, d,
         |  row_number() OVER (PARTITION BY qid ORDER BY d, way_id) AS rn
         |  FROM projd WHERE d <= 30.0)
         |SELECT qid, way_id, ${q4Sql("d")} AS dist4 FROM ranked WHERE rn = 1
         |ORDER BY qid""".stripMargin,

    "t1b_reverse_refine" ->
      s"""WITH ${Derived.objectsSqlCte},
         |${Derived.waysSqlCte},
         |$wayQueriesSqlCte,
         |verts AS (SELECT way_id, t.i AS i,
         |  blat + t.i*dlat AS vlat, blon + t.i*dlon AS vlon
         |  FROM ways CROSS JOIN (SELECT unnest(range(${Derived.WayVerts})) AS i) t),
         |segs AS (SELECT a.way_id, a.vlat AS alat, a.vlon AS alon,
         |  b.vlat AS b2lat, b.vlon AS b2lon
         |  FROM verts a JOIN verts b
         |    ON a.way_id = b.way_id AND b.i = (a.i + 1) % ${Derived.WayVerts}),
         |pairs AS (SELECT q.qid, q.qlat, q.qlon, s.way_id,
         |  s.alat, s.alon, s.b2lat, s.b2lon
         |  FROM q CROSS JOIN segs s),
         |$projCtes,
         |perway AS (SELECT qid, way_id, MIN(d) AS d FROM projd GROUP BY 1, 2),
         |ranked AS (SELECT qid, way_id, d,
         |  row_number() OVER (PARTITION BY qid ORDER BY d, way_id) AS rn
         |  FROM perway WHERE d <= 30.0)
         |SELECT qid, way_id, ${q4Sql("d")} AS dist4 FROM ranked WHERE rn = 1
         |ORDER BY qid""".stripMargin,

    "d5_spatial_dedup" ->
      s"""WITH ${Derived.namedBoxesSqlCte},
         |f AS (SELECT * FROM named_boxes WHERE id < $DedupMaxId)
         |SELECT a.id, MIN(b.id) AS keep_id
         |FROM f a JOIN f b ON a.name = b.name AND (
         |  (b.lat_min <= a.lat_min AND b.lat_max >= a.lat_max AND
         |   b.lon_min <= a.lon_min AND b.lon_max >= a.lon_max) OR
         |  (a.lat_min <= b.lat_min AND a.lat_max >= b.lat_max AND
         |   a.lon_min <= b.lon_min AND a.lon_max >= b.lon_max))
         |GROUP BY a.id ORDER BY a.id""".stripMargin
  )
}
