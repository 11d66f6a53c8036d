package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.cells.CellIndex
import graft.spatial.{Raster, SpatialBoundary}
import graft.synth.SynthWorld

/** Raster↔vector operators (north rule): rasterize, zonal statistics,
  * connected-component vectorization. */
class RasterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("rasterize groups points into their level cells with exact counts") {
    val pts = Seq((41.0, 1.0), (41.0, 1.0001), (45.0, 5.0)).toDF("lat", "lon")
    val got = Raster.rasterize(spark, pts, level = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c1 = CellIndex.cellOf(41.0, 1.0, 8)
    val c2 = CellIndex.cellOf(45.0, 5.0, 8)
    assert(got == Map(c1 -> 2L, c2 -> 1L))
  }

  test("zonal stats: overlapping zones each count cells whose centroid they contain") {
    val cfg = SynthWorld.Config(seed = 42L, gridP = 2, gridC = 2)
    val zones: Seq[SpatialBoundary] = graft.web.Flagship.boundaries(cfg)
    // two points in one level-8 cell inside city (100)*1000+0; one elsewhere
    val pts = Seq((40.5, 0.5), (40.5001, 0.5001), (46.5, 6.5)).toDF("lat", "lon")
    val raster = Raster.rasterize(spark, pts, level = 8)
    val got = Raster.zonalStats(spark, raster, zones, coverLevel = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // country sees both cells and all 3 points
    assert(got(1L) == (2L, 3L))
    // province 100 (x [0,4), y [40,44)) sees the first cell only
    assert(got(100L) == (1L, 2L))
    // city 100*1000+... containing (40.5, 0.5): ci=0, cj=0 → 100000
    assert(got(100000L) == (1L, 2L))
    // province of (46.5, 6.5): pi=1, pj=1 → 103; its city ci=1,cj=1 → 103003
    assert(got(103L) == (1L, 1L) && got(103003L) == (1L, 1L))
  }

  test("distributed zonal stats equals the broadcast path on identical inputs") {
    val cfg = SynthWorld.Config(seed = 42L, gridP = 2, gridC = 2)
    val zones: Seq[SpatialBoundary] = graft.web.Flagship.boundaries(cfg)
    // hash-scattered points over the rect world → many occupied cells
    val pts = (0L until 500L).map { i =>
      (40.0 + math.floorMod(SynthWorld.mix(i), 79990L) / 10000.0,
        math.floorMod(SynthWorld.mix(i * 7), 79990L) / 10000.0)
    }.toDF("lat", "lon")
    val raster = Raster.rasterize(spark, pts, level = 8)
    // the oracle: each cell's centroid probed against the broadcast cover
    // index, one point at a time on the driver
    val idx = graft.spatial.BoundaryCellIndex.build(zones, 8)
    val want = raster.collect().toSeq
      .flatMap { r =>
        val (lat, lon) = CellIndex.centroid(r.getLong(0))
        idx.containing(lat, lon).map(z => (z.id, r.getLong(1)))
      }
      .groupBy(_._1).map { case (id, vs) => id -> (vs.size.toLong, vs.map(_._2).sum) }
    val zonesDf = zones.map(b => (b.id, b.wkb)).toDF("boundary_id", "wkb")
    for (stats <- Seq(
        Raster.zonalStats(spark, raster, zones, coverLevel = 8),
        Raster.zonalStatsDistributed(spark, raster, zonesDf, coverLevel = 8))) {
      val got = stats.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == want)
    }
    // country sums nearly all points (edge cells whose centroid falls
    // outside the rect drop their points — the documented centroid rule)
    assert(want.nonEmpty && want(1L)._2 >= 450L)
  }

  test("connected components label an L-tromino and an isolated cell correctly") {
    // L-shape: (5,5),(5,6),(6,5); isolated: (9,9); diagonal (7,7) NOT
    // connected to the L (4-adjacency)
    val cells = Seq((5L, 5L), (5L, 6L), (6L, 5L), (9L, 9L), (7L, 7L)).toDF("i", "j")
    val got = Raster.connectedComponents(spark, cells, gridN = 16L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lComp = 5L * 16 + 5
    assert(got((5L, 5L)) == lComp && got((5L, 6L)) == lComp && got((6L, 5L)) == lComp)
    assert(got((9L, 9L)) == 9L * 16 + 9)
    assert(got((7L, 7L)) == 7L * 16 + 7)
  }

  test("connected components on an empty raster return an empty frame") {
    val empty = Seq.empty[(Long, Long)].toDF("i", "j")
    val got = Raster.connectedComponents(spark, empty, gridN = 16L)
    assert(got.count() == 0)
    assert(got.columns.toSeq == Seq("i", "j", "comp"))
  }

  test("fine-grid CC (gridN = 2^31, keys ~2^62) converges under ANSI mode") {
    // keys ≈ 2^62: a Long SUM of six such labels overflows (old convergence
    // test), which under ANSI mode was a job-killing exception; the
    // decimal(38,0) sum cannot overflow
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val gridN = 1L << 31
    val big = gridN - 2
    val cells = Seq((big, 5L), (big, 6L), (big + 1, 5L),
      (big, 100L), (big + 1, 100L), (big + 1, 101L)).toDF("i", "j")
    val got = Raster.connectedComponents(spark, cells, gridN).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val c1 = big * gridN + 5
    val c2 = big * gridN + 100
    assert(got((big, 5L)) == c1 && got((big, 6L)) == c1 && got((big + 1, 5L)) == c1)
    assert(got((big, 100L)) == c2 && got((big + 1, 100L)) == c2 && got((big + 1, 101L)) == c2)
  }

  test("stress generator emits real 8x8 cell clusters (64-cell components)") {
    // guards the q38 stress evidence: a fractional-division bug here once
    // scattered every cell into its own component, so the 'CC sublinearity'
    // measurement was measuring nothing
    val cells = graft.StressBench.clusteredCells(spark, 128L)
    val comps = Raster.connectedComponents(spark, cells, gridN = 1L << 20)
    val sizes = comps.groupBy("comp").count().collect().map(_.getLong(1)).sorted
    assert(sizes.toSeq == Seq(64L, 64L),
      s"expected two 64-cell components, got ${sizes.toSeq}")
  }

  test("connectedComponents leaves the session's persistent RDDs as it found them") {
    val cells = Seq((5L, 5L), (5L, 6L), (6L, 5L), (9L, 9L)).toDF("i", "j")
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val r1 = Raster.connectedComponents(spark, cells, gridN = 16L)
    val r2 = Raster.connectedComponents(spark, cells, gridN = 16L)
    assert(r1.count() == 4 && r2.count() == 4)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == baseline,
      "the block labels, the label edges and every round's labels must all be freed")
  }

  test("two-phase CC merges components across block borders (blockBits=2)") {
    // 4x4 blocks: a horizontal bar through i=0..11 at j=5 spans THREE
    // blocks; a vertical bar at i=9 joins it across a j-block border; an
    // isolated cell in a far block stays alone. Forces the contracted
    // label-graph propagation (phase 2), which the default 1024-cell
    // blocks almost never exercise at test sizes.
    val bar = (0L until 12L).map(i => (i, 5L))
    val vbar = (6L to 9L).map(j => (9L, j))
    val cells = (bar ++ vbar ++ Seq((14L, 14L))).toDF("i", "j")
    val got = Raster.connectedComponents(spark, cells, gridN = 16L, blockBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val comp = 0L * 16 + 5 // min key of the merged component
    (bar ++ vbar).foreach { case (i, j) => assert(got((i, j)) == comp, s"($i,$j)") }
    assert(got((14L, 14L)) == 14L * 16 + 14)
    // and the default blockBits yields the identical labeling
    val gotDefault = Raster.connectedComponents(spark, cells, gridN = 16L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotDefault == got)
  }

  test("connected components: a 40-cell snake converges within its diameter") {
    // a connected path of 40 cells — worst-case diameter for propagation:
    // alternate right/down moves
    var (ci, cj) = (0L, 0L)
    val path = scala.collection.mutable.ArrayBuffer((ci, cj))
    for (k <- 1 until 40) { if (k % 2 == 0) ci += 1 else cj += 1; path += ((ci, cj)) }
    val got = Raster.connectedComponents(spark, path.toSeq.toDF("i", "j"), gridN = 64L)
      .select("comp").distinct().collect()
    assert(got.length == 1 && got(0).getLong(0) == 0L)
  }

  /** 4-neighbour components of `cells` by a driver union-find: each cell →
    * the min linear key (i * gridN + j) of its component. */
  private def unionFindLabels(cells: Set[(Long, Long)], gridN: Long): Map[(Long, Long), Long] = {
    val parent = scala.collection.mutable.HashMap(cells.toSeq.map(c => c -> c): _*)
    def find(c: (Long, Long)): (Long, Long) = if (parent(c) == c) c else find(parent(c))
    for ((i, j) <- cells; n <- Seq((i + 1, j), (i, j + 1)) if cells(n)) {
      val (a, b) = (find((i, j)), find(n))
      if (a != b) parent(a) = b
    }
    cells.groupBy(find).values.flatMap { comp =>
      val min = comp.map { case (i, j) => i * gridN + j }.min
      comp.map(_ -> min)
    }.toMap
  }

  // seeded random rasters near the site-percolation threshold (long,
  // branching components that cross many block borders), each holding
  // cells on row 0 and column 0
  for ((seed, blockBits) <- Seq((1L, 1), (2L, 2), (3L, 3), (4L, 10)))
    test(s"two-phase CC equals a driver union-find on a random 64x64 raster " +
      s"(blockBits=$blockBits, seed=$seed)") {
      val gridN = 64L
      val rng = new scala.util.Random(seed)
      val cells = (for (i <- 0L until gridN; j <- 0L until gridN
        if rng.nextDouble() < 0.55) yield (i, j)).toSet
      assert(cells.exists(_._1 == 0L) && cells.exists(_._2 == 0L),
        "degenerate fixture: no cell on row 0 or column 0")
      val comps = Raster.connectedComponents(spark, cells.toSeq.toDF("i", "j"), gridN,
        blockBits = blockBits)
      val got = comps.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = unionFindLabels(cells, gridN)
      assert(got == want, {
        val bad = (want.keySet ++ got.keySet).filter(c => got.get(c) != want.get(c)).take(5)
        s"mismatches at ${bad.map(c => (c, got.get(c), want.get(c))).mkString(", ")}"
      })
    }
}
