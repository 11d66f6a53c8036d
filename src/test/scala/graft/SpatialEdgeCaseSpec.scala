package graft

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.io.WKBWriter
import graft.cells.CellIndex
import graft.spatial.{BoundaryCellIndex, DistributedKnn, PointCellIndex, SpatialBoundary}

/** Edge cases of the spatial core that the synthetic world ([40,48)×[0,8))
  * never exercises: antimeridian wrap in both kNN paths, and the
  * deterministic tie-break contract of boundary resolution. At planet scale
  * (the north-star join is pages × planet boundaries) these are real inputs
  * — Pacific pages sit on the ±180 seam, and admin polygons overlap at
  * equal levels wherever mapping is inconsistent. */
class SpatialEdgeCaseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def rectWkb(lon0: Double, lat0: Double, lon1: Double, lat1: Double): Array[Byte] = {
    val gf = new GeometryFactory()
    new WKBWriter().write(gf.createPolygon(Array(
      new Coordinate(lon0, lat0), new Coordinate(lon1, lat0),
      new Coordinate(lon1, lat1), new Coordinate(lon0, lat1),
      new Coordinate(lon0, lat0))))
  }

  test("broadcast nearest/knn wrap the antimeridian") {
    // target 1 is 0.04° of longitude away ACROSS the seam (~4.4 km);
    // target 2 is ~10° away on the same side (~1100 km)
    val idx = PointCellIndex.build(
      Seq((1L, 0.0, 179.98), (2L, 0.0, 170.0)), level = 8)
    val Some((id, d)) = idx.nearest(0.0, -179.98)
    assert(id == 1L, s"picked $id at $d m — wrap not taken")
    assert(d < 10000.0, s"wrapped distance $d m should be ~4.4 km")
    val knn = idx.knn(0.0, -179.98, k = 2)
    assert(knn.map(_._1) == Seq(1L, 2L))
    assert(knn(0)._2 < knn(1)._2)
  }

  test("distributed ring-join kNN agrees with the broadcast index across the seam") {
    import spark.implicits._
    val pts = Seq((0L, 0.0, -179.97), (1L, 0.0, 179.2), (2L, 0.3, -179.99))
    val tgts = Seq((10L, 0.0, 179.98), (11L, 0.0, -170.0))
    val got = DistributedKnn.knn(spark,
        pts.toDF("id", "lat", "lon"), tgts.toDF("tid", "tlat", "tlon"), level = 8, k = 1)
    val rows = got.collect().map(r => r.getAs[Long]("id") ->
      (r.getAs[Long]("nearest_tid"), r.getAs[Double]("nearest_dist_m"))).toMap
    val idx = PointCellIndex.build(tgts, level = 8)
    pts.foreach { case (id, lat, lon) =>
      val Some((wantTid, wantD)) = idx.nearest(lat, lon)
      val (gotTid, gotD) = rows(id)
      assert(gotTid == wantTid, s"point $id: distributed=$gotTid broadcast=$wantTid")
      assert(math.abs(gotD - wantD) < 1e-6)
    }
    // all three points are nearer the cross-seam target than the same-side one
    assert(rows.values.forall(_._1 == 10L))
  }

  test("seam-crossing polygon: cover, broadcast PIP, and distributed PIP all wrap") {
    import spark.implicits._
    // Fiji-style encoding: lon 179..181 = crosses the seam into -179
    val seam = SpatialBoundary(1L, 6, "Seam", rectWkb(179.0, -1.0, 181.0, 1.0))
    val gf = new GeometryFactory()
    val geom = gf.createPolygon(Array(
      new Coordinate(179.0, -1.0), new Coordinate(181.0, -1.0),
      new Coordinate(181.0, 1.0), new Coordinate(179.0, 1.0),
      new Coordinate(179.0, -1.0)))

    // in-range geometry passes through normalizeSeam untouched (same ref)
    val inRange = gf.createPolygon(Array(
      new Coordinate(0.0, 40.0), new Coordinate(2.0, 40.0),
      new Coordinate(2.0, 42.0), new Coordinate(0.0, 42.0),
      new Coordinate(0.0, 40.0)))
    assert(CellIndex.normalizeSeam(inRange) eq inRange)

    // degenerate: lon overflow AND lat entirely past the poles → empty, no crash
    val degenerate = gf.createPolygon(Array(
      new Coordinate(200.0, 95.0), new Coordinate(220.0, 95.0),
      new Coordinate(220.0, 97.0), new Coordinate(200.0, 97.0),
      new Coordinate(200.0, 95.0)))
    assert(CellIndex.normalizeSeam(degenerate).isEmpty)

    // an edge exactly ON the seam clips to a zero-width line on the east
    // side; the residue must be dropped, not returned as a mixed
    // GeometryCollection (rect [180,182] = [-180,-178] in-range)
    val onSeam = gf.createPolygon(Array(
      new Coordinate(180.0, -1.0), new Coordinate(182.0, -1.0),
      new Coordinate(182.0, 1.0), new Coordinate(180.0, 1.0),
      new Coordinate(180.0, -1.0)))
    val normOnSeam = CellIndex.normalizeSeam(onSeam)
    assert(normOnSeam.getDimension == 2)
    assert((0 until normOnSeam.getNumGeometries)
      .forall(i => normOnSeam.getGeometryN(i).getDimension == 2),
      s"clip residue leaked: $normOnSeam")
    val idxOnSeam = BoundaryCellIndex.build(
      Seq(SpatialBoundary(2L, 6, "E", new WKBWriter().write(onSeam))), maxLevel = 10)
    assert(idxOnSeam.containing(0.0, -179.0).map(_.id) == Seq(2L))
    assert(idxOnSeam.containing(0.0, 179.5).isEmpty) // no phantom east-side hit

    // the cover reaches cells on BOTH sides of the seam
    val cover = CellIndex.cover(geom, 8)
    def coversPoint(lat: Double, lon: Double): Boolean = {
      val leaf = CellIndex.cellOf(lat, lon, 8)
      cover.exists(c => CellIndex.contains(c, CellIndex.parentAt(leaf, CellIndex.level(c))))
    }
    assert(coversPoint(0.0, 179.5) && coversPoint(0.0, -179.5),
      "cover missing one side of the seam")
    assert(!coversPoint(0.0, 170.0))

    // broadcast index: containment on both sides, none far away
    val idx = BoundaryCellIndex.build(Seq(seam), maxLevel = 10)
    assert(idx.containing(0.0, 179.5).map(_.id) == Seq(1L))
    assert(idx.containing(0.0, -179.5).map(_.id) == Seq(1L))
    assert(idx.containing(0.0, 170.0).isEmpty)
    assert(idx.containing(2.0, -179.5).isEmpty) // outside latitudinally

    // distributed fact×fact path agrees point-for-point
    val pts = Seq((0L, 0.0, 179.5), (1L, 0.0, -179.5), (2L, 0.0, 170.0), (3L, 2.0, -179.5))
    val got = graft.spatial.DistributedPip.containsJoin(spark,
        pts.toDF("id", "lat", "lon"),
        Seq((1L, rectWkb(179.0, -1.0, 181.0, 1.0))).toDF("boundary_id", "wkb"),
        level = 8)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 1L))
  }

  test("distributed PIP drops null-coordinate rows by explicit policy, not by accident") {
    import spark.implicits._
    val pts = Seq(
      (0L, Some(44.0), Some(4.0)),   // inside
      (1L, None: Option[Double], Some(4.0)),
      (2L, Some(44.0), None: Option[Double]),
      (3L, None: Option[Double], None: Option[Double]))
      .toDF("id", "lat", "lon")
    val got = graft.spatial.DistributedPip.containsJoin(spark, pts,
        Seq((1L, rectWkb(0.0, 40.0, 8.0, 48.0))).toDF("boundary_id", "wkb"), level = 8)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(0L), "null lat/lon rows are dropped per the containsJoin contract")
  }

  test("crossings wrap the seam without fabricating border hits on the clip line") {
    import spark.implicits._
    val gf = new GeometryFactory()
    val w = new WKBWriter()
    def lineWkb(lon0: Double, lat0: Double, lon1: Double, lat1: Double): Array[Byte] =
      w.write(gf.createLineString(Array(
        new Coordinate(lon0, lat0), new Coordinate(lon1, lat1))))
    val seam = SpatialBoundary(1L, 6, "Seam", rectWkb(179.0, -1.0, 181.0, 1.0))
    val lines = Seq(
      // crosses the TRUE border (the lon-181 edge, normalized to -179)
      (0L, lineWkb(-179.5, 0.0, -178.5, 0.0)),
      // wholly interior but crossing the SEAM — must NOT be flagged
      // (raw lon 179.5..180.5: catches artificial clip-line edges)
      (1L, lineWkb(179.5, 0.0, 180.5, 0.0)),
      // crosses the lon-179 edge on the unwrapped side
      (2L, lineWkb(178.5, 0.0, 179.5, 0.0)),
      // far away
      (3L, lineWkb(170.0, 0.0, 171.0, 0.0)))
    // both crossing forms take the raw polygon's boundary before
    // normalizing the seam
    val lineDf = lines.toDF("line_id", "wkb")
    for (crossed <- Seq(
        graft.spatial.SpatialOps.crossings(spark, lineDf, Seq(seam), level = 10),
        graft.spatial.SpatialOps.crossingsDistributed(spark, lineDf,
          Seq((seam.id, seam.wkb)).toDF("boundary_id", "wkb"), level = 10))) {
      val got = crossed.collect().map(_.getLong(0)).toSet
      assert(got == Set(0L, 2L), s"got $got")
    }
  }

  test("crossings reject a polygon on the line side, naming its line_id") {
    import spark.implicits._
    val box = SpatialBoundary(1L, 2, "Box", rectWkb(0.0, 40.0, 8.0, 48.0))
    // a polygon "line" would get payload-free full cells the refine cannot
    // read; both forms must fail loudly before the join instead
    val lineDf = Seq((7L, rectWkb(0.5, 40.5, 1.5, 41.5))).toDF("line_id", "wkb")
    for (run <- Seq(
        () => graft.spatial.SpatialOps.crossings(spark, lineDf, Seq(box), level = 8).collect(),
        () => graft.spatial.SpatialOps.crossingsDistributed(spark, lineDf,
          Seq((box.id, box.wkb)).toDF("boundary_id", "wkb"), level = 8).collect())) {
      val e = intercept[Exception](run())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msgs.contains("line_id 7 is a Polygon"), msgs)
    }
  }

  test("border-cell clip shrinks shuffle payload and preserves exact containment") {
    import spark.implicits._
    val gf = new GeometryFactory()
    val w = new WKBWriter()
    // high-vertex zone: a 4096-gon "coastline" circle, radius 2° at (44, 4)
    val n = 4096
    val ring = (0 to n).map { i =>
      val a = 2 * math.Pi * (i % n) / n
      new Coordinate(4.0 + 2.0 * math.cos(a), 44.0 + 2.0 * math.sin(a))
    }.toArray
    val poly = gf.createPolygon(ring)
    val fullBytes = w.write(poly).length
    // per-border-cell clipped payload at level 12 (cell ≈ 0.088°): each
    // cell sees only its local arc — orders of magnitude below the full ring
    val borderCells = CellIndex.cover(poly.getBoundary, 12, 12)
    assert(borderCells.length > 100, s"expected a long border, got ${borderCells.length} cells")
    val clippedSizes = borderCells.map(c =>
      w.write(graft.spatial.DistributedPip.clipToCell(poly, c)).length)
    val meanClipped = clippedSizes.map(_.toLong).sum / clippedSizes.length
    assert(meanClipped * 20 < fullBytes,
      s"clip ineffective: mean clipped $meanClipped B vs full $fullBytes B")
    // exactness: the distributed join over the clipped payload matches the
    // broadcast index point-for-point, including just-inside/outside spots
    val pts = (0 until 400).map { i =>
      val a = 2 * math.Pi * i / 400
      val r = 1.995 + (i % 3) * 0.004 // radii 1.995 / 1.999 / 2.003: straddle the edge
      (i.toLong, 44.0 + r * math.sin(a), 4.0 + r * math.cos(a))
    }
    val got = graft.spatial.DistributedPip.containsJoin(spark,
        pts.toDF("id", "lat", "lon"),
        Seq((7L, w.write(poly))).toDF("boundary_id", "wkb"), level = 12)
      .collect().map(_.getLong(0)).toSet
    val idx = BoundaryCellIndex.build(Seq(SpatialBoundary(7L, 6, "C", w.write(poly))), 12)
    val want = pts.filter { case (_, lat, lon) => idx.containing(lat, lon).nonEmpty }
      .map(_._1).toSet
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty && want.size < pts.size) // both classes exercised
  }

  test("distributed PIP respects polygon holes through the border-cell clip") {
    import spark.implicits._
    val gf = new GeometryFactory()
    val w = new WKBWriter()
    // donut: outer [0,8]x[40,48], hole [2,6]x[42,46] — at level 8
    // (~1.4° cells) most cells are border cells, so the hole geometry
    // must survive clipToCell or hole points would be wrongly contained
    def ring(x0: Double, y0: Double, x1: Double, y1: Double) = Array(
      new Coordinate(x0, y0), new Coordinate(x1, y0), new Coordinate(x1, y1),
      new Coordinate(x0, y1), new Coordinate(x0, y0))
    val donut = gf.createPolygon(gf.createLinearRing(ring(0, 40, 8, 48)),
      Array(gf.createLinearRing(ring(2, 42, 6, 46))))
    val pts = Seq(
      (0L, 41.0, 1.0),   // in the ring
      (1L, 44.0, 4.0),   // in the hole → NOT contained
      (2L, 47.5, 7.5),   // in the ring (opposite corner)
      (3L, 44.0, 2.1),   // just inside the hole → NOT contained
      (4L, 44.0, 1.9),   // just outside the hole → contained
      (5L, 50.0, 4.0))   // outside everything
    val got = graft.spatial.DistributedPip.containsJoin(spark,
        pts.toDF("id", "lat", "lon"),
        Seq((1L, w.write(donut))).toDF("boundary_id", "wkb"), level = 8)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 2L, 4L), s"got $got")
  }

  test("containsJoin resolves the point id by NAME, not position") {
    import spark.implicits._
    // id deliberately last: positional head-column selection would emit
    // latitudes as point_id (silently wrong values, not an error)
    val pts = Seq((41.0, 1.0, 7L), (50.0, 5.0, 8L)).toDF("lat", "lon", "id")
    val got = graft.spatial.DistributedPip.containsJoin(spark, pts,
        Seq((1L, rectWkb(0.0, 40.0, 2.0, 42.0))).toDF("boundary_id", "wkb"), level = 8)
      .select("point_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(7L), s"got $got")
  }

  test("invalid (bowtie) zone polygons neither crash nor diverge from the broadcast path") {
    import spark.implicits._
    val gf = new GeometryFactory()
    val w = new WKBWriter()
    // self-intersecting ring over [0,2]×[40,42] — routine bad fence data
    val bow = gf.createPolygon(Array(
      new Coordinate(0, 40), new Coordinate(2, 42), new Coordinate(2, 40),
      new Coordinate(0, 42), new Coordinate(0, 40)))
    assert(!bow.isValid)
    val wkb = w.write(bow)
    val pts = Seq((0L, 40.5, 1.0), (1L, 41.5, 1.0), (2L, 41.0, 0.3),
      (3L, 41.0, 1.7), (4L, 45.0, 5.0))
    // must not throw (round-3 contract), and must agree point-for-point
    // with the broadcast prepared-predicate path (clip skipped on invalid)
    val got = graft.spatial.DistributedPip.containsJoin(spark,
        pts.toDF("id", "lat", "lon"),
        Seq((1L, wkb)).toDF("boundary_id", "wkb"), level = 8)
      .collect().map(_.getLong(0)).toSet
    val idx = BoundaryCellIndex.build(Seq(SpatialBoundary(1L, 6, "Bow", wkb)), 8)
    val want = pts.filter { case (_, la, lo) => idx.containing(la, lo).nonEmpty }
      .map(_._1).toSet
    assert(got == want, s"got $got want $want")
  }

  test("resolve tie-breaks: deeper level wins, then min id at equal level") {
    // two IDENTICAL level-6 rects (ids 9 and 5) + one deeper level-8 rect
    val b5 = SpatialBoundary(5L, 6, "A", rectWkb(0.0, 40.0, 2.0, 42.0))
    val b9 = SpatialBoundary(9L, 6, "B", rectWkb(0.0, 40.0, 2.0, 42.0))
    val b7 = SpatialBoundary(7L, 8, "A/C", rectWkb(0.9, 40.9, 1.1, 41.1))
    val idx = BoundaryCellIndex.build(Seq(b9, b5, b7), maxLevel = 8)
    assert(idx.containing(41.0, 1.0).map(_.id).toSet == Set(5L, 7L, 9L))
    assert(idx.resolve(41.0, 1.0).map(_.id).contains(7L)) // deepest wins
    val flat = BoundaryCellIndex.build(Seq(b9, b5), maxLevel = 8)
    assert(flat.resolve(41.0, 1.0).map(_.id).contains(5L)) // min id at tie
    assert(flat.resolve(50.0, 1.0).isEmpty) // outside every boundary
  }
}
