package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Cells, GeoMath}
import graft.functions.GeoFunctions
import graft.query.Spatial
import graft.query.Spatial.Polygon

/**
 * [[Spatial.pipJoin]] (conservative cell cover, interior cells accepted
 * whole, winding-number refine) against brute-force
 * [[GeoMath.isPointInPolygon]] over rectangles, diamonds and concave
 * polygons, with points on vertices, on edges and on cell boundaries,
 * duplicates and null coordinates. Polygons span at most 80 x 80 cells
 * at the join's level, since the cover enumerates the polygon's bbox.
 */
class PipJoinSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  type Pt = (Long, Option[Double], Option[Double])

  /** Ring offsets (dlat, dlon) of a shape with half-extents (a, b). */
  private def shape(a: Double, b: Double): Gen[Seq[(Double, Double)]] = Gen.oneOf(
    Seq((-a, -b), (-a, b), (a, b), (a, -b)), // rectangle
    Seq((-a, 0.0), (0.0, b), (a, 0.0), (0.0, -b)), // diamond
    Seq((-a, -b), (-a, b), (0.0, b), (0.0, 0.0), (a, 0.0), (a, -b)), // L
    Seq((-a, -b), (0.0, 0.0), (-a, b), (a, 0.0))) // dart, concave at the centre

  /** A closed polygon around a centre anywhere (poles and ±180 included,
   *  vertices clamped onto the sphere), at most 40 cells from it per axis;
   *  half the time its vertices snap to cell corners, so edges run along
   *  cell boundaries. */
  private def polygon(id: Long, level: Int): Gen[Polygon] = {
    val (h, w) = (180.0 / (1L << level), 360.0 / (1L << level))
    for {
      lat <- Gen.oneOf(Gen.choose(-90.0, 90.0), Gen.oneOf(-90.0, 90.0))
      lon <- Gen.oneOf(Gen.choose(-180.0, 180.0), Gen.oneOf(-180.0, 180.0))
      a <- Gen.choose(0.5, 40.0)
      b <- Gen.choose(0.5, 40.0)
      ring <- shape(a * h, b * w)
      snap <- Gen.oneOf(false, true)
    } yield {
      def fix(v: Double, cell: Double, bound: Double) =
        math.max(-bound, math.min(bound, if (snap) math.rint(v / cell) * cell else v))
      val vs = (ring :+ ring.head).map { case (dl, dn) => (fix(lat + dl, h, 90), fix(lon + dn, w, 180)) }
      Polygon(id, s"p$id", vs.map(_._1).toArray, vs.map(_._2).toArray)
    }
  }

  /** Points on the polygons' vertices, edges and cell corners, or inside
   *  their bboxes grown by a quarter; two duplicates and two with a null
   *  coordinate. */
  private def points(polys: Seq[Polygon], level: Int): Gen[Seq[Pt]] = {
    val one = for {
      p <- Gen.oneOf(polys)
      i <- Gen.choose(0, p.lats.length - 2)
      t <- Gen.oneOf(Gen.const(0.5), Gen.choose(0.0, 1.0))
      u <- Gen.choose(-0.25, 1.25)
      v <- Gen.choose(-0.25, 1.25)
      kind <- Gen.choose(0, 3)
    } yield {
      val (la0, la1, lo0, lo1) = (p.lats.min, p.lats.max, p.lons.min, p.lons.max)
      val inBox = (la0 + u * (la1 - la0), lo0 + v * (lo1 - lo0))
      kind match {
        case 0 => (p.lats(i), p.lons(i))
        case 1 => (p.lats(i) + t * (p.lats(i + 1) - p.lats(i)), p.lons(i) + t * (p.lons(i + 1) - p.lons(i)))
        case 2 =>
          val (cLat, cLon, _, _) = Cells.bounds(Cells.encode(inBox._1, inBox._2, level))
          (cLat, cLon)
        case _ => inBox
      }
    }
    for (n <- Gen.choose(5, 60); locs <- Gen.listOfN(n, one)) yield {
      val pts = locs.zipWithIndex.map { case ((la, lo), i) =>
        (i + 1L, Option(math.max(-90.0, math.min(90.0, la))), Option(math.max(-180.0, math.min(180.0, lo))))
      }
      pts ++ pts.take(2).map(p => p.copy(_1 = p._1 + 1000)) ++
        Seq((2001L, None, pts.head._3), (2002L, pts.head._2, None))
    }
  }

  test("pipJoin == brute-force point-in-polygon on vertices, edges and cell boundaries (property)") {
    val args = for {
      level <- Gen.oneOf(4, 8, 10, Cells.DefaultLevel)
      n <- Gen.choose(1, 3)
      polys <- Gen.sequence[List[Polygon], Polygon]((1 to n).map(i => polygon(i.toLong, level)))
      pts <- points(polys, level)
    } yield (polys, pts, level)
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(25),
      Prop.forAll(args) { case (polys, pts, level) =>
        val frame = pts.toDF("id", "lat", "lon")
          .withColumn("cell", GeoFunctions.cellEncode(col("lat"), col("lon"), level))
        val got = Spatial.pipJoin(frame, polys, level).select("id", "poly_id").as[(Long, Long)]
          .collect().toSeq.sorted
        val exp = (for {
          (id, Some(la), Some(lo)) <- pts
          p <- polys if GeoMath.isPointInPolygon(la, lo, p.lats, p.lons)
        } yield (id, p.id)).sorted
        got == exp
      })
    assert(res.passed, Pretty.pretty(res))
  }
}
