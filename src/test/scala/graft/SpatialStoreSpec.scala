package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Cells
import graft.functions.GeoFunctions
import graft.pipeline.TableIO
import graft.query.Spatial
import graft.sources.Derived

/**
 * Bbox search in memory ([[Spatial.rangeSearch]]) and at rest
 * ([[Spatial.rangeSearchTiled]] over the tile-partitioned TableIO stage)
 * against a brute-force bbox filter, at the edges where a cover could drop
 * rows: the poles, ±180° longitude, points exactly on a box edge, duplicate
 * points and null coordinates. The tile predicate must prune at the
 * directory level (PartitionFilters), and a stage cut before its commit
 * must be refused, not served in part.
 */
class SpatialStoreSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  type Pt = (Long, Option[Double], Option[Double])
  /** (latMin, lonMin, latMax, lonMax) */
  type Box = (Double, Double, Double, Double)

  test("tiled range search: identical results, directory-level pruning") {
    val objs = Derived.objects(spark, Sf)
    val dir = Files.createTempDirectory("graft_tiles_store").toString
    Spatial.tiledWrite(objs, dir)

    val (latMin, lonMin, latMax, lonMax) = (-6.4, 106.6, -6.1, 107.0)
    val inMem = Spatial.rangeSearch(objs, latMin, lonMin, latMax, lonMax)
      .select("id").collect().map(_.getLong(0)).sorted
    val tiled = Spatial.rangeSearchTiled(spark, dir, latMin, lonMin, latMax, lonMax)
    val fromDisk = tiled.select("id").collect().map(_.getLong(0)).sorted
    assert(fromDisk.nonEmpty, "bbox matched nothing — fixture bbox is wrong")
    assert(fromDisk.toSeq == inMem.toSeq)
    // schema parity: the synthetic tile partition column must not leak out
    assert(tiled.columns.sorted.toSeq == objs.columns.sorted.toSeq)

    // the tile predicate must be a PartitionFilter on the scan
    val plan = tiled.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("tile"), s"tile probe not a partition filter:\n$plan")

    // and the admitted tile set is a strict subset of the table's tiles
    val allTiles = new java.io.File(dir, Spatial.TileStage).listFiles()
      .count(_.getName.startsWith("tile="))
    val coverTiles = Cells.coverBBox(
      latMin, lonMin, latMax, lonMax, Spatial.TileStoreLevel).length
    assert(coverTiles < allTiles,
      s"cover ($coverTiles tiles) does not prune ($allTiles total) — bbox too wide for the fixture")
  }

  test("tile store crash window: a stage cut before its commit is refused, then rewritten whole") {
    val objs = Derived.objects(spark, Sf)
    val dir = Files.createTempDirectory("graft_tiles_cut").toString
    val (latMin, lonMin, latMax, lonMax) = (-6.4, 106.6, -6.1, 107.0)
    Spatial.tiledWrite(objs, dir)
    // the cut: one covered tile's files are missing and the manifest rename
    // never happened
    val stageDir = new java.io.File(dir, Spatial.TileStage)
    val covered = Cells.coverBBox(latMin, lonMin, latMax, lonMax, Spatial.TileStoreLevel).toSet
    val lost = stageDir.listFiles().find(f =>
      f.getName.startsWith("tile=") && covered.contains(f.getName.stripPrefix("tile=").toLong))
    assert(lost.nonEmpty, "the bbox covers no written tile — fixture bbox is wrong")
    org.apache.commons.io.FileUtils.deleteDirectory(lost.get)
    assert(TableIO.manifestPath(dir, Spatial.TileStage).toFile.delete())

    val err = intercept[IllegalArgumentException](
      Spatial.rangeSearchTiled(spark, dir, latMin, lonMin, latMax, lonMax))
    assert(err.getMessage.contains(s"stage ${Spatial.TileStage} missing") &&
      err.getMessage.contains("run its writer first"), err.getMessage)

    Spatial.tiledWrite(objs, dir)
    assert(TableIO.isComplete(dir, Spatial.TileStage))
    val inMem = Spatial.rangeSearch(objs, latMin, lonMin, latMax, lonMax)
      .select("id").as[Long].collect().sorted.toSeq
    val tiled = Spatial.rangeSearchTiled(spark, dir, latMin, lonMin, latMax, lonMax)
      .select("id").as[Long].collect().sorted.toSeq
    assert(inMem.nonEmpty && tiled == inMem)
  }

  /** Somewhere near a pole, near the antimeridian, or anywhere else. */
  private val site: Gen[(Double, Double)] = Gen.oneOf(
    for (lat <- Gen.oneOf(90.0, -90.0); lon <- Gen.choose(-180.0, 180.0)) yield (lat, lon),
    for (lat <- Gen.choose(-90.0, 90.0); lon <- Gen.oneOf(180.0, -180.0)) yield (lat, lon),
    for (lat <- Gen.choose(-90.0, 90.0); lon <- Gen.choose(-180.0, 180.0)) yield (lat, lon))

  /** The site's coordinate, or one within `spread` of it clamped to the
   *  sphere, so values pile up exactly on ±90 and ±180. */
  private def near(c: Double, spread: Double, bound: Double): Gen[Double] =
    Gen.frequency(1 -> Gen.const(c), 3 -> Gen.choose(-spread, spread)
      .map(d => math.max(-bound, math.min(bound, c + d))))

  /** Points within `spread` degrees of a site, some with a null coordinate,
   *  and two exact duplicates under new ids. */
  private def world(spread: Double): Gen[((Double, Double), Seq[Pt])] = for {
    (la, lo) <- site
    n <- Gen.choose(3, 40)
    locs <- Gen.listOfN(n, Gen.frequency(
      8 -> (for (a <- near(la, spread, 90); b <- near(lo, spread, 180)) yield (Option(a), Option(b))),
      1 -> near(lo, spread, 180).map(b => (Option.empty[Double], Option(b))),
      1 -> near(la, spread, 90).map(a => (Option(a), Option.empty[Double]))))
  } yield {
    val pts = locs.zipWithIndex.map { case ((a, b), i) => (i + 1L, a, b) }
    ((la, lo), pts ++ pts.take(2).map(p => p.copy(_1 = p._1 + 1000)))
  }

  /** A box around the site whose corners are mostly taken from the points
   *  (so points lie exactly on its edges); one in six swaps its
   *  longitudes, a lonMin > lonMax box, which holds nothing. */
  private def box(c: (Double, Double), spread: Double, pts: Seq[Pt]): Gen[Box] = {
    val lat = Gen.frequency(2 -> Gen.oneOf(c._1 +: pts.flatMap(_._2)), 1 -> near(c._1, spread, 90))
    val lon = Gen.frequency(2 -> Gen.oneOf(c._2 +: pts.flatMap(_._3)), 1 -> near(c._2, spread, 180))
    for {
      la <- Gen.listOfN(2, lat)
      lo <- Gen.listOfN(2, lon)
      swap <- Gen.frequency(5 -> false, 1 -> true)
    } yield (la.min, if (swap) lo.max else lo.min, la.max, if (swap) lo.min else lo.max)
  }

  private def brute(pts: Seq[Pt], b: Box): Seq[Long] = pts.collect {
    case (id, Some(la), Some(lo)) if la >= b._1 && la <= b._3 && lo >= b._2 && lo <= b._4 => id
  }.sorted

  private def frame(pts: Seq[Pt], level: Int = Cells.DefaultLevel): DataFrame =
    pts.toDF("id", "lat", "lon")
      .withColumn("cell", GeoFunctions.cellEncode(col("lat"), col("lon"), level))

  private def ids(df: DataFrame): Seq[Long] = df.select("id").as[Long].collect().sorted.toSeq

  test("rangeSearch == brute-force bbox filter at the poles, ±180° and box edges (property)") {
    // boxes within a degree or anywhere, and the whole sphere, over a
    // `cell` column at any level (the filter does not read it)
    val args = for {
      level <- Gen.oneOf(0, 4, 7, Cells.DefaultLevel, Cells.MaxLevel)
      spread <- Gen.oneOf(1.0, 360.0)
      (c, pts) <- world(spread)
      bs <- Gen.listOfN(4, box(c, spread, pts))
    } yield (pts, bs :+ ((-90.0, -180.0, 90.0, 180.0)), level)
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(40),
      Prop.forAll(args) { case (pts, bs, level) =>
        val f = frame(pts, level)
        bs.forall(b => ids(Spatial.rangeSearch(f, b._1, b._2, b._3, b._4)) == brute(pts, b))
      })
    assert(res.passed, Pretty.pretty(res))
  }

  test("rangeSearchTiled == brute-force bbox filter on fixed edge boxes over one stage") {
    val pts: Seq[Pt] = Seq(
      (90.0, -180.0), (90.0, 0.0), (90.0, 180.0), (-90.0, -180.0), (-90.0, 37.5), (-90.0, 180.0),
      (89.99, 179.99), (-89.99, -179.99), (12.0, 180.0), (12.0, -180.0),
      (0.0, 0.0), (10.0, 20.0), (10.5, 20.5), (10.0, 20.5), (10.5, 20.0), (10.5000001, 20.25),
      (-45.0, 179.0), (-45.0, -179.0))
      .zipWithIndex.map { case ((la, lo), i) => (i + 1L, Option(la), Option(lo)) }
    val all = pts ++ pts.take(3).map(p => p.copy(_1 = p._1 + 1000)) ++
      Seq((2001L, None, Some(20.0)), (2002L, Some(10.0), None), (2003L, None, None))
    val dir = Files.createTempDirectory("graft_tiles_edges").toString
    Spatial.tiledWrite(frame(all), dir)
    val boxes: Seq[Box] = Seq(
      (-90.0, -180.0, 90.0, 180.0), // the whole sphere
      (89.0, -180.0, 90.0, 180.0), // the north cap, touching +90
      (-90.0, 170.0, -10.0, 180.0), // touching the south pole and +180
      (-90.0, -180.0, -45.0, -179.0), // touching -90 and -180
      (10.0, 20.0, 10.5, 20.5), // points exactly on every edge and corner
      (-1.0, -1.0, 0.0, 0.0), // corner on a tile boundary
      (0.0, 0.0, 12.0, 180.0),
      (-50.0, 179.0, -40.0, -179.0)) // lonMin > lonMax: empty
    boxes.foreach { b =>
      val got = ids(Spatial.rangeSearchTiled(spark, dir, b._1, b._2, b._3, b._4))
      assert(got == brute(all, b), s"box $b")
    }
    assert(brute(all, boxes.head).size == all.size - 3)
  }
}
