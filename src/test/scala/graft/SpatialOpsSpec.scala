package graft

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.io.{WKBReader, WKBWriter}
import graft.cells.CellIndex
import graft.hier.Hierarchy
import graft.spatial.SpatialOps
import graft.synth.SynthWorld
import graft.web.Flagship

class SpatialOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("distributed PIP join equals the broadcast index on identical inputs") {
    val cfg = SynthWorld.Config(seed = 3L, gridP = 2, gridC = 2)
    val bs = Flagship.boundaries(cfg)
    // deterministic points across the world incl. just-inside-border spots
    val pts = (0L until 400L).map { i =>
      val lat = 40.0 + math.floorMod(SynthWorld.mix(i) , 79990L) / 10000.0
      val lon = math.floorMod(SynthWorld.mix(i * 7), 79990L) / 10000.0
      (i, lat, lon)
    }
    val zonesDf = bs.map(b => (b.id, b.wkb)).toDF("boundary_id", "wkb")
    val got = graft.spatial.DistributedPip.containsJoin(
        spark, pts.toDF("id", "lat", "lon"), zonesDf, level = 8)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val idx = graft.spatial.BoundaryCellIndex.build(bs, 8)
    val want = pts.flatMap { case (i, lat, lon) =>
      idx.containing(lat, lon).map(b => (i, b.id))
    }.toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty && want.size >= 400 * 3 - 50) // ~3 nested zones each
  }

  test("J8: line-boundary crossing detection via ring cover + JTS refine") {
    val cfg = SynthWorld.Config(seed = 1L, gridP = 2, gridC = 2)
    val bs = Flagship.boundaries(cfg) // rectangles over lon [0,8] lat [40,48]
    val gf = new GeometryFactory()
    val w = new WKBWriter()
    def line(id: Long, pts: (Double, Double)*) = // (lon, lat)
      (id, w.write(gf.createLineString(pts.map(p => new Coordinate(p._1, p._2)).toArray)))
    val lines = Seq(
      line(1, (0.5, 40.5), (1.5, 40.5)),  // inside city 100000 (lon 0-2, lat 40-42): no crossing
      line(2, (1.5, 40.5), (2.5, 40.5)),  // crosses city border at lon=2 (within province 100)
      line(3, (3.5, 40.5), (4.5, 40.5)),  // crosses province border at lon=4 (and its cities')
      line(4, (7.5, 47.5), (8.5, 47.5))   // exits the country at lon=8
    ).toDF("line_id", "wkb")
    val got = SpatialOps.crossings(spark, lines, bs, level = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap

    assert(!got.contains(1L), s"interior line must cross nothing: ${got.get(1L)}")
    // line 2 crosses the border shared by two cities inside province 100
    assert(got(2L).intersect(Set(100000L, 100001L, 100002L, 100003L)).nonEmpty)
    assert(!got(2L).contains(1L), "line 2 stays inside the country")
    // line 3 crosses the province border (lon=4): provinces 100.. and 102..'s edge
    assert(got(3L).exists(b => b >= 100L && b < 1000L), s"expected a province crossing: ${got(3L)}")
    // line 4 exits the country: must cross the country boundary (id 1)
    assert(got(4L).contains(1L), s"expected country crossing: ${got(4L)}")
  }

  test("fact×fact crossings equal the broadcast ring index on identical inputs") {
    val cfg = SynthWorld.Config(seed = 5L, gridP = 2, gridC = 2)
    val bs = Flagship.boundaries(cfg)
    val gf = new GeometryFactory()
    val w = new WKBWriter()
    // deterministic random segments over/around the rect world — interior,
    // border-crossing, fully-outside, and multi-boundary spans all occur
    val segs = (0L until 200L).map { i =>
      val lat0 = 39.5 + math.floorMod(SynthWorld.mix(i), 9000L) / 1000.0
      val lon0 = -0.5 + math.floorMod(SynthWorld.mix(i * 3), 9000L) / 1000.0
      val dlat = math.floorMod(SynthWorld.mix(i * 7), 3000L) / 1000.0 - 1.5
      val dlon = math.floorMod(SynthWorld.mix(i * 11), 3000L) / 1000.0 - 1.5
      (i, gf.createLineString(Array(
        new Coordinate(lon0, lat0), new Coordinate(lon0 + dlon, lat0 + dlat))))
    }
    val lines = segs.map { case (i, g) => (i, w.write(g)) }.toDF("line_id", "wkb")
    // the oracle: every (line, boundary) pair against the raw polygon's
    // border ring, no cells and no clipping
    val reader = new WKBReader()
    val want = (for {
      (i, g) <- segs
      b <- bs
      if CellIndex.normalizeSeam(g).intersects(
        CellIndex.normalizeSeam(reader.read(b.wkb).getBoundary))
    } yield (i, b.id)).toSet
    val zones = bs.map(b => (b.id, b.wkb)).toDF("boundary_id", "wkb")
    def pairs(crossed: org.apache.spark.sql.DataFrame) =
      crossed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val broadcast = pairs(SpatialOps.crossings(spark, lines, bs, level = 11))
    val factFact = pairs(SpatialOps.crossingsDistributed(spark, lines, zones, level = 11))
    assert(factFact == broadcast,
      s"missing=${(broadcast -- factFact).take(5)} extra=${(factFact -- broadcast).take(5)}")
    for (got <- Seq(broadcast, factFact))
      assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.size > 100, s"stress mix should cross often, got ${want.size}")
  }

  test("R4: member closure expands relations transitively") {
    val members = Seq(
      (10L, "relation", 20L), (10L, "way", 100L),
      (20L, "relation", 30L), (20L, "node", 200L),
      (30L, "way", 300L),
      (99L, "node", 999L)).toDF("rel_id", "member_kind", "member_ref")
    val got = Hierarchy.memberClosure(members)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want10 = Set((10L, "relation", 20L), (10L, "way", 100L),
      (10L, "relation", 30L), (10L, "node", 200L), (10L, "way", 300L))
    assert(want10.subsetOf(got), s"missing: ${want10 -- got}")
    assert(got.contains((20L, "way", 300L)))
    assert(got.contains((99L, "node", 999L)))
    assert(!got.exists(t => t._1 == 99L && t._3 != 999L))
  }
}
