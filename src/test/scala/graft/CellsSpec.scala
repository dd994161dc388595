package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Cells, GeoMath}

/** Property-style tests (seeded random sampling) for the cell index that
 *  replaces the reference R-tree — these are the tile-assignment invariants
 *  the north rule grades (encode/cover/ring/lower-bound). */
class CellsSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(42)
  private def randLat() = rnd.nextDouble() * 179.8 - 89.9
  private def randLon() = rnd.nextDouble() * 359.8 - 179.9

  test("encode/decode round-trip: x/y/level recover the grid indices") {
    for (_ <- 1 to 5000) {
      val lat = randLat(); val lon = randLon(); val level = rnd.nextInt(Cells.MaxLevel + 1)
      val c = Cells.encode(lat, lon, level)
      assert(Cells.level(c) == level)
      assert(Cells.x(c) == Cells.xIndex(lon, level))
      assert(Cells.y(c) == Cells.yIndex(lat, level))
      assert(c >= 0, "cell IDs are non-negative")
    }
  }

  test("a point is inside its cell's bounds") {
    for (_ <- 1 to 5000) {
      val lat = randLat(); val lon = randLon(); val level = 1 + rnd.nextInt(Cells.MaxLevel)
      val (latMin, lonMin, latMax, lonMax) = Cells.bounds(Cells.encode(lat, lon, level))
      assert(lat >= latMin && lat <= latMax)
      assert(lon >= lonMin && lon <= lonMax)
    }
  }

  test("parent prefix property: child cells share the parent's grid prefix") {
    for (_ <- 1 to 2000) {
      val lat = randLat(); val lon = randLon(); val level = 1 + rnd.nextInt(Cells.MaxLevel)
      val c = Cells.encode(lat, lon, level)
      val p = Cells.parent(c, level - 1)
      assert(Cells.children(p).contains(c))
      assert(Cells.level(p) == level - 1)
    }
  }

  test("ring sizes: 8r cells away from poles/antimeridian; disk = union") {
    val c = Cells.encode(-7.5, 110.8, 13)
    assert(Cells.ring(c, 0).toSeq == Seq(c))
    for (r <- 1 to 4) assert(Cells.ring(c, r).length == 8 * r)
    assert(Cells.disk(c, 3).length == 7 * 7)
    assert(Cells.disk(c, 3).toSet == (0 to 3).flatMap(Cells.ring(c, _)).toSet)
  }

  test("coverBBox contains the cell of every point in the box") {
    for (_ <- 1 to 2000) {
      val lat = randLat(); val lon = randLon()
      val cover = Cells.coverBBox(lat - 0.1, lon - 0.1, lat + 0.1, lon + 0.1, 10).toSet
      assert(cover.contains(Cells.encode(lat, lon, 10)))
    }
  }

  // the capped plan's bounds: rows from the latitude cap, columns from the
  // haversine inverse over the query's latitude band (all longitudes once
  // the band reaches a pole)
  private def capBounds(qLat: Double, km: Double): (Double, Double) = {
    val dLat = km / Cells.KmPerDegLat
    val band = math.abs(qLat) + dLat
    val span =
      if (band >= 90) 360.0
      else 2 * math.toDegrees(math.asin(math.min(1.0,
        math.sin(km / (2 * GeoMath.EarthRadiusKm)) / math.cos(math.toRadians(band)))))
    (dLat, span)
  }

  private def capBox(qLat: Double, qLon: Double, km: Double, level: Int): Array[Long] = {
    val rx = math.ceil(capBounds(qLat, km)._2 / (360.0 / (1L << level))).toInt
    val ry = math.ceil(km / Cells.cellHeightKm(level)).toInt
    Cells.box(Cells.encode(qLat, qLon, level), rx, ry)
  }

  // the circle cover is now the capped plan's box (Cells.coverCircle, which
  // missed cells at the poles and the antimeridian, is gone)
  test("coverCircle is a superset of cells holding points within the radius") {
    val (qLat, qLon, rKm) = (-7.25, 108.5, 37.0)
    val cover = capBox(qLat, qLon, rKm, 13).toSet
    for (_ <- 1 to 2000) {
      val b = rnd.nextDouble() * 360
      val d = rnd.nextDouble() * rKm
      val (pLat, pLon) = GeoMath.destinationPoint(qLat, qLon, b, d)
      assert(cover.contains(Cells.encode(pLat, pLon, 13)))
    }
  }

  test("box covers every point within a capped radius, at the poles and across the antimeridian") {
    for (_ <- 1 to 2000) {
      val (qLat, qLon) = rnd.nextInt(3) match {
        case 0 => (randLat(), randLon())
        case 1 => ((89.5 + rnd.nextDouble() * 0.5) * (if (rnd.nextBoolean()) 1 else -1), randLon())
        case _ => (rnd.nextDouble() * 120 - 60, (180.0 - rnd.nextDouble() * 0.05) * (if (rnd.nextBoolean()) 1 else -1))
      }
      val km = 0.05 + rnd.nextDouble() * 40
      val (pLat, pLon) = GeoMath.destinationPoint(qLat, qLon, rnd.nextDouble() * 360, rnd.nextDouble() * km)
      val (dLat, span) = capBounds(qLat, km)
      val rawDLon = math.abs(qLon - pLon)
      assert(math.abs(qLat - pLat) <= dLat + 1e-9 && math.min(rawDLon, 360 - rawDLon) <= span + 1e-9,
        s"($pLat, $pLon) outside the bounds of ($qLat, $qLon) at $km km")
      val level = (13 to 1 by -1).find(l => math.ceil(km / Cells.cellHeightKm(l)) <= 2).get
      assert(capBox(qLat, qLon, km, level).contains(Cells.encode(pLat, pLon, level)),
        s"($pLat, $pLon) outside the box of ($qLat, $qLon) at $km km, level $level")
    }
  }

  test("minDistOutsideDiskKm is a true lower bound") {
    for (_ <- 1 to 2000) {
      val lat = rnd.nextDouble() * 160 - 80
      val lon = randLon()
      val level = 6 + rnd.nextInt(10)
      val r = 1 + rnd.nextInt(4)
      val c = Cells.encode(lat, lon, level)
      val disk = Cells.disk(c, r).toSet
      val bound = Cells.minDistOutsideDiskKm(lat, lon, level, r)
      for (_ <- 1 to 30) {
        val pLat = randLat(); val pLon = randLon()
        if (!disk.contains(Cells.encode(pLat, pLon, level))) {
          val d = GeoMath.haversineKm(lat, lon, pLat, pLon)
          assert(d >= bound - 1e-9,
            s"point ($pLat,$pLon) outside disk at dist $d < bound $bound (lat=$lat lon=$lon level=$level r=$r)")
        }
      }
    }
  }

  test("coverPolygon is conservative for the reference PIP semantics") {
    val lats = Array(-7.9, -7.0, -6.5, -7.3, -7.9)
    val lons = Array(107.0, 106.5, 108.0, 108.9, 107.0)
    val cover = Cells.coverPolygon(lats, lons, 11).toSet
    for (_ <- 1 to 5000) {
      val pLat = -8.1 + rnd.nextDouble() * 1.8
      val pLon = 106.3 + rnd.nextDouble() * 2.9
      if (GeoMath.isPointInPolygon(pLat, pLon, lats, lons))
        assert(cover.contains(Cells.encode(pLat, pLon, 11)))
    }
  }
}
