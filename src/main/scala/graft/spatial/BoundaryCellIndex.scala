package graft.spatial

import graft.cells.CellIndex
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.io.WKBReader
import scala.collection.mutable

/** One admin boundary on the spatial side: id, admin level, display chain,
  * geometry as WKB (serializable; prepared lazily per executor).
  *
  * REPRESENTATION INVARIANT: records handed TO the engine carry the raw
  * source encoding (seam-crossing polygons may run past lon ±180); records
  * read back FROM a built [[BoundaryCellIndex]] carry seam-NORMALIZED wkb.
  * [[graft.spatial.SpatialOps.crossings]] requires the RAW form: its
  * cover table's `shape` takes the border ring before
  * [[DistributedPip.coverClips]] normalizes the seam, and the ring of an
  * already-normalized polygon would read the ±180 clip line as a border —
  * do not feed an index's boundaries back into it. */
case class SpatialBoundary(id: Long, level: Int, chain: String, wkb: Array[Byte])

/** Broadcast side of the spatial containment join (J7 in SURVEY.md §2.3):
  * compact multi-level cell cover of every boundary polygon → hash index
  * cell→candidates, with `full` cells (containsProperly) skipping the exact
  * JTS point-in-polygon refine entirely.
  *
  * Scale posture: the admin-boundary dimension is planet-bounded (~10⁶
  * polygons, ~10⁷ cover cells) — broadcastable; the page fact side streams
  * through `resolve` in a narrow mapPartitions with zero shuffle. Prepared
  * geometries are built lazily once per executor (transient cache).
  */
class BoundaryCellIndex(
    val coverLevels: Array[Int],
    val index: Map[Long, Array[(Long, Boolean)]], // cell → [(boundaryId, full)]
    val boundaries: Map[Long, SpatialBoundary])
    extends Serializable {

  @transient private lazy val prepared =
    new java.util.concurrent.ConcurrentHashMap[Long, PreparedGeometry]()

  private def prep(id: Long): PreparedGeometry = {
    val got = prepared.get(id)
    if (got != null) got
    else {
      val g = PreparedGeometryFactory.prepare(new WKBReader().read(boundaries(id).wkb))
      prepared.putIfAbsent(id, g)
      g
    }
  }

  @transient private lazy val gf = new GeometryFactory()

  /** All boundaries containing the point, via cover-cell prejoin + PIP
    * refine on partial cells only. A point falls into exactly one cover
    * cell per boundary (covers are disjoint), so no dedup is needed. */
  def containing(lat: Double, lon: Double): Seq[SpatialBoundary] = {
    val out = mutable.ArrayBuffer.empty[SpatialBoundary]
    foreachContaining(lat, lon)(out += _)
    out.toSeq
  }

  @inline private def foreachContaining(lat: Double, lon: Double)(f: SpatialBoundary => Unit): Unit = {
    val leaf = CellIndex.cellOf(lat, lon, CellIndex.MaxLevel)
    // one JTS Point per call, built lazily on the first partial cell — this
    // loop runs once per page at 10^12 scale, so no per-candidate allocation
    var pt: org.locationtech.jts.geom.Point = null
    var li = 0
    while (li < coverLevels.length) {
      val cands = index.getOrElse(CellIndex.parentAt(leaf, coverLevels(li)), null)
      if (cands != null) {
        var i = 0
        while (i < cands.length) {
          val (bid, full) = cands(i)
          if (full || {
            if (pt == null) pt = gf.createPoint(new Coordinate(lon, lat))
            prep(bid).contains(pt)
          }) f(boundaries(bid))
          i += 1
        }
      }
      li += 1
    }
  }

  /** Deepest (max admin level) containing boundary — the page's place.
    * Allocation-light hot path (runs once per page at 10¹² scale). */
  def resolve(lat: Double, lon: Double): Option[SpatialBoundary] = {
    var best: SpatialBoundary = null
    foreachContaining(lat, lon) { b =>
      if (best == null || b.level > best.level || (b.level == best.level && b.id < best.id))
        best = b
    }
    Option(best)
  }
}

object BoundaryCellIndex {
  /** Build the cover index at `maxLevel` resolution. Seam-crossing
    * polygons (lon past ±180) are normalized once here so the stored WKB —
    * which the executor-side PIP refine prepares — matches the cover. */
  def build(bs: Seq[SpatialBoundary], maxLevel: Int): BoundaryCellIndex = {
    val reader = new WKBReader()
    val entries = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Boolean)]]
    val levels = mutable.SortedSet.empty[Int]
    // one parse per boundary: the normalized geometry feeds prepare/cover
    // directly; only seam boundaries pay a WKB re-serialization (for the
    // stored copy the executor-side refine re-reads)
    val normed = bs.map { b =>
      val raw = reader.read(b.wkb)
      val geom = CellIndex.normalizeSeam(raw)
      val nb =
        if (geom eq raw) b
        else b.copy(wkb = new org.locationtech.jts.io.WKBWriter().write(geom))
      (nb, geom)
    }
    normed.foreach { case (b, geom) =>
      val prepB = PreparedGeometryFactory.prepare(geom)
      CellIndex.cover(geom, maxLevel).foreach { cell =>
        val full = prepB.containsProperly(CellIndex.cellGeometry(cell))
        levels += CellIndex.level(cell)
        entries.getOrElseUpdate(cell, mutable.ArrayBuffer.empty) += ((b.id, full))
      }
    }
    new BoundaryCellIndex(levels.toArray,
      entries.map { case (k, v) => k -> v.toArray }.toMap,
      normed.map { case (b, _) => b.id -> b }.toMap)
  }
}

/** Broadcast kNN point index (J9): points bucketed by cell at `level`;
  * query expands cell rings until k hits are found, then verifies with
  * exact haversine. Broadcast variant — right-sized for dimension tables
  * (buildings of one region). The 100 TB path for fact×fact kNN is the
  * distributed ring join (pages exploded over disk(r) cells ⋈ buildings
  * bucketed by cell), same cell math, documented in SURVEY.md §2.3 J9. */
class PointCellIndex(
    val level: Int,
    val buckets: Map[Long, Array[(Long, Double, Double)]]) // cell → [(id, lat, lon)]
    extends Serializable {

  /** k nearest point ids by great-circle distance. Rings expand until the
    * geometric lower bound of all remaining rings (r × minCellExtentM at
    * this latitude) exceeds the current k-th best distance — exact
    * termination even for anisotropic cells and cell-corner queries. */
  def knn(lat: Double, lon: Double, k: Int, maxRing: Int = 64): Seq[(Long, Double)] = {
    if (k == 1) return nearest(lat, lon, maxRing).toSeq
    val center = CellIndex.cellOf(lat, lon, level)
    val minExtent = CellIndex.minCellExtentM(lat, level)
    val found = mutable.ArrayBuffer.empty[(Long, Double)]
    var r = 0
    var done = false
    while (r <= maxRing && !done) {
      CellIndex.ring(center, r).foreach { cell =>
        buckets.get(cell).foreach(_.foreach { case (id, plat, plon) =>
          found += ((id, CellIndex.haversineM(lat, lon, plat, plon)))
        })
      }
      if (found.size >= k) {
        val kth = found.map(_._2).sorted.apply(k - 1)
        if (kth <= r * minExtent) done = true
      }
      r += 1
    }
    // wrap at coarse levels can enumerate a cell in two rings → dedupe
    found.distinct.sortBy { case (id, d) => (d, id) }.take(k).toSeq
  }

  /** Allocation-free k=1 fast path — the flagship hot loop. Same
    * lower-bound termination as [[knn]]. */
  def nearest(lat: Double, lon: Double, maxRing: Int = 64): Option[(Long, Double)] = {
    val n = 1L << level
    val center = CellIndex.cellOf(lat, lon, level)
    val (ci, cj) = CellIndex.toIJ(center)
    val minExtent = CellIndex.minCellExtentM(lat, level)
    var bestId = -1L
    var bestD = Double.MaxValue
    var r = 0
    var done = false
    while (r <= maxRing && !done) {
      // wrapped duplicate cells at coarse levels are harmless for a min
      var di = -r
      while (di <= r) {
        var dj = -r
        while (dj <= r) {
          if (math.max(math.abs(di), math.abs(dj)) == r) {
            val j = cj + dj
            if (j >= 0 && j < n) {
              val i = ((ci + di) % n + n) % n
              val arr = buckets.getOrElse(CellIndex.fromIJ(i, j, level), null)
              if (arr != null) {
                var p = 0
                while (p < arr.length) {
                  val d = CellIndex.haversineM(lat, lon, arr(p)._2, arr(p)._3)
                  if (d < bestD || (d == bestD && arr(p)._1 < bestId)) {
                    bestD = d; bestId = arr(p)._1
                  }
                  p += 1
                }
              }
            }
          }
          dj += 1
        }
        di += 1
      }
      if (bestId >= 0 && bestD <= r * minExtent) done = true
      r += 1
    }
    if (bestId < 0) None else Some((bestId, bestD))
  }
}

object PointCellIndex {
  def build(points: Seq[(Long, Double, Double)], level: Int): PointCellIndex = {
    val buckets = points.groupBy { case (_, lat, lon) => CellIndex.cellOf(lat, lon, level) }
    new PointCellIndex(level, buckets.map { case (c, ps) => c -> ps.toArray })
  }
}
