package graft.cells

import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry, GeometryFactory, PrecisionModel}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import scala.collection.mutable.ArrayBuffer

/** Hierarchical quadtree cell index over (lon, lat) — an H3/S2-style
  * tiling built from scratch (no H3 jar in the sandbox; see SURVEY.md §4.3).
  *
  * Encoding (64-bit long):
  *   bits 62 .. (63 - 2*level) : Z-order (Morton) path, 2 bits per level,
  *                               most-significant pair = level-1 split
  *   bits 5 .. 0               : level (0 .. MaxLevel)
  * Bit 63 stays 0 so ids order as signed longs. All descendants of a cell
  * share its path prefix, so a cell's descendant ids form one contiguous
  * [rangeMin, rangeMax] interval — this gives parquet min/max pruning and
  * range-partitioning on cell prefix for free.
  *
  * Level L splits the world into 2^L × 2^L cells (equirectangular).
  * Level 16 ≈ 600 m × 300 m at the equator.
  */
object CellIndex {
  final val MaxLevel = 28

  @inline def level(cell: Long): Int = (cell & 0x3fL).toInt

  @inline private def zBits(cell: Long): Long = {
    val l = level(cell)
    if (l == 0) 0L else (cell >>> (63 - 2 * l)) & ((1L << (2 * l)) - 1)
  }

  private def mk(z: Long, l: Int): Long = {
    require(l >= 0 && l <= MaxLevel, s"level $l out of range")
    if (l == 0) 0L else (z << (63 - 2 * l)) | l.toLong
  }

  /** (i, j) grid coordinates at the cell's own level; i = lon axis. */
  def toIJ(cell: Long): (Long, Long) = {
    val l = level(cell)
    val z = zBits(cell)
    var i = 0L; var j = 0L
    var k = 0
    while (k < l) {
      val pair = (z >>> (2 * (l - 1 - k))) & 3L
      i = (i << 1) | (pair & 1L)
      j = (j << 1) | ((pair >>> 1) & 1L)
      k += 1
    }
    (i, j)
  }

  def fromIJ(i: Long, j: Long, l: Int): Long = {
    var z = 0L
    var k = 0
    while (k < l) {
      val bit = l - 1 - k
      z = (z << 2) | (((j >>> bit) & 1L) << 1) | ((i >>> bit) & 1L)
      k += 1
    }
    mk(z, l)
  }

  /** Cell containing (lat, lon) at `level`. Lon wraps, lat clamps. */
  def cellOf(lat: Double, lon: Double, l: Int): Long = {
    val n = 1L << l
    val x = (normLon(lon) + 180.0) / 360.0
    val y = (math.min(90.0, math.max(-90.0, lat)) + 90.0) / 180.0
    val i = math.min(n - 1, math.max(0L, (x * n).toLong))
    val j = math.min(n - 1, math.max(0L, (y * n).toLong))
    fromIJ(i, j, l)
  }

  private def normLon(lon: Double): Double = {
    var x = lon
    while (x >= 180.0) x -= 360.0
    while (x < -180.0) x += 360.0
    x
  }

  def parent(cell: Long): Long = parentAt(cell, level(cell) - 1)

  def parentAt(cell: Long, l: Int): Long = {
    val cl = level(cell)
    require(l >= 0 && l <= cl, s"parent level $l > cell level $cl")
    mk(zBits(cell) >>> (2 * (cl - l)), l)
  }

  def children(cell: Long): Array[Long] = {
    val l = level(cell)
    val z = zBits(cell) << 2
    Array(mk(z, l + 1), mk(z | 1L, l + 1), mk(z | 2L, l + 1), mk(z | 3L, l + 1))
  }

  /** Smallest id of any descendant at MaxLevel (inclusive range start). */
  def rangeMin(cell: Long): Long = rangeMinAt(cell, MaxLevel)

  /** Largest id of any descendant at MaxLevel (inclusive range end). */
  def rangeMax(cell: Long): Long = rangeMaxAt(cell, MaxLevel)

  /** Smallest/largest descendant id at EXACTLY level `l` (≥ the cell's own
    * level) — the contiguous pruning interval for a fact table keyed at a
    * fixed cell level: `factCell BETWEEN rangeMinAt(anc, L) AND
    * rangeMaxAt(anc, L)` ⟺ `parentAt(factCell, level(anc)) == anc`, and
    * the BETWEEN form pushes to parquet as two range filters (row-group
    * min/max pruning), which the parentAt form cannot. */
  def rangeMinAt(cell: Long, l: Int): Long = {
    require(l >= level(cell), s"range level $l < cell level ${level(cell)}")
    mk(zBits(cell) << (2 * (l - level(cell))), l)
  }

  def rangeMaxAt(cell: Long, l: Int): Long = {
    require(l >= level(cell), s"range level $l < cell level ${level(cell)}")
    val d = 2 * (l - level(cell))
    mk((zBits(cell) << d) | ((1L << d) - 1), l)
  }

  /** True if `anc` is `cell` or an ancestor of it. */
  def contains(anc: Long, cell: Long): Boolean =
    level(anc) <= level(cell) && parentAt(cell, level(anc)) == anc

  /** (lonMin, latMin, lonMax, latMax) of the cell. */
  def bounds(cell: Long): (Double, Double, Double, Double) = {
    val l = level(cell)
    val n = (1L << l).toDouble
    val (i, j) = toIJ(cell)
    (i / n * 360.0 - 180.0, j / n * 180.0 - 90.0,
     (i + 1) / n * 360.0 - 180.0, (j + 1) / n * 180.0 - 90.0)
  }

  def centroid(cell: Long): (Double, Double) = {
    val (x0, y0, x1, y1) = bounds(cell)
    ((y0 + y1) / 2, (x0 + x1) / 2) // (lat, lon)
  }

  /** Scalar centroid components — static kernels for the codegen
    * `cell_centroid_lat`/`cell_centroid_lon` expressions (tuple-returning
    * [[centroid]] cannot be called from generated Java). */
  def centroidLat(cell: Long): Double = { val (_, y0, _, y1) = bounds(cell); (y0 + y1) / 2 }
  def centroidLon(cell: Long): Double = { val (x0, _, x1, _) = bounds(cell); (x0 + x1) / 2 }

  /** All cells at Chebyshev grid distance exactly k (the k-th ring).
    * Lon wraps around the antimeridian; rows off the poles are dropped.
    * At coarse levels where the ring is wider than the grid (2k+1 ≥ 2^l),
    * wrapped columns are deduplicated. */
  def ring(cell: Long, k: Int): Array[Long] = {
    if (k == 0) return Array(cell)
    val l = level(cell)
    val n = 1L << l
    val (ci, cj) = toIJ(cell)
    val out = new ArrayBuffer[Long](8 * k)
    var di = -k
    while (di <= k) {
      var dj = -k
      while (dj <= k) {
        if (math.max(math.abs(di), math.abs(dj)) == k) {
          val j = cj + dj
          if (j >= 0 && j < n) {
            val i = ((ci + di) % n + n) % n
            out += fromIJ(i, j, l)
          }
        }
        dj += 1
      }
      di += 1
    }
    if (2L * k + 1 >= n) out.distinct.toArray else out.toArray
  }

  /** Meters spanned by one cell at `level` in the narrower axis at `lat` —
    * the per-ring lower bound used by kNN termination: any target in ring
    * r+1 or beyond is at least r * minCellExtentM away (with slack for the
    * haversine vs planar difference). */
  def minCellExtentM(lat: Double, l: Int): Double = {
    val latDeg = 180.0 / (1L << l)
    val lonDeg = 360.0 / (1L << l)
    val latM = latDeg * 110574.0
    val lonM = lonDeg * 111320.0 * math.cos(math.toRadians(math.min(89.99, math.abs(lat) + latDeg)))
    0.95 * math.min(latM, math.max(1e-9, lonM))
  }

  /** All cells at Chebyshev grid distance ≤ k (the k-disk). */
  def disk(cell: Long, k: Int): Array[Long] =
    (0 to k).flatMap(ring(cell, _)).toArray

  private val gf = new GeometryFactory(new PrecisionModel, 4326)

  def cellGeometry(cell: Long): Geometry = {
    val (x0, y0, x1, y1) = bounds(cell)
    gf.toGeometry(new Envelope(x0, x1, y0, y1))
  }

  private lazy val worldStrip: Geometry =
    gf.toGeometry(new Envelope(-180.0, 180.0, -90.0, 90.0))

  /** Normalize a geometry whose longitudes run past ±180 — the common
    * encoding for antimeridian-crossing polygons (e.g. Fiji as lon
    * 177..183) — into the equivalent geometry inside [-180,180]: the
    * in-range clip unioned with the overflow shifted by ∓360. In-range
    * geometry returns the SAME instance (zero cost on the common path), so
    * callers can use `eq` to skip re-serialization. Polygons encoded with a
    * raw +179→-179 coordinate jump (no overflow) are geometrically a
    * wrong-way world-spanning ring and are NOT detected — pre-split those
    * at the seam (as OSM multipolygon exports already do). A point at
    * exactly lon ±180 lies on the normalized parts' boundary and is not
    * `contains`-matched — consistent with the engine-wide exclusive-edge
    * containment semantics. */
  def normalizeSeam(geom: Geometry): Geometry = {
    val env = geom.getEnvelopeInternal
    if (env.getMinX >= -180.0 && env.getMaxX <= 180.0) geom
    else {
      val parts = new ArrayBuffer[Geometry]
      var shift = -360.0
      while (shift <= 360.0) {
        val g =
          if (shift == 0.0) geom
          else org.locationtech.jts.geom.util.AffineTransformation
            .translationInstance(shift, 0.0).transform(geom)
        val clipped = g.intersection(worldStrip)
        if (!clipped.isEmpty) parts += clipped
        shift += 360.0
      }
      // degenerate input (e.g. lat entirely past ±90 as well) can clip to
      // nothing everywhere — return empty, not a reduce-on-empty crash
      if (parts.isEmpty) geom.getFactory.createEmpty(geom.getDimension)
      else {
        val unioned = parts.reduce(_.union(_)) // 2-3 parts: plain union
        // a vertex/edge exactly ON ±180 clips to zero-width residue (a
        // point/line), making the union a mixed GeometryCollection — which
        // would defeat PreparedPolygon fast paths and containsProperly
        // full-cell detection downstream. Keep only components of the
        // input's dimension.
        val dim = geom.getDimension
        val comps = (0 until unioned.getNumGeometries)
          .map(unioned.getGeometryN).filter(_.getDimension == dim)
        if (comps.isEmpty) geom.getFactory.createEmpty(dim)
        else if (comps.size == 1) comps.head
        else {
          import scala.jdk.CollectionConverters._
          geom.getFactory.buildGeometry(comps.asJava)
        }
      }
    }
  }

  /** Compact covering of `geom` with cells of level ≤ maxLevel: interior
    * cells stay coarse, boundary cells refine to maxLevel. Output cells are
    * disjoint and their union contains geom (within maxLevel resolution). */
  def cover(geom: Geometry, maxLevel: Int, minLevel: Int = 0): Array[Long] = {
    val prep = PreparedGeometryFactory.prepare(normalizeSeam(geom))
    val out = new ArrayBuffer[Long]
    def rec(cell: Long): Unit = {
      val cg = cellGeometry(cell)
      if (prep.intersects(cg)) {
        val l = level(cell)
        if (l >= minLevel && (l == maxLevel || prep.containsProperly(cg))) out += cell
        else children(cell).foreach(rec)
      }
    }
    rec(0L)
    out.toArray
  }

  private final val EarthRadiusM = 6371008.8

  /** Great-circle distance in meters. */
  def haversineM(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val p1 = math.toRadians(lat1); val p2 = math.toRadians(lat2)
    val dp = p2 - p1; val dl = math.toRadians(lon2 - lon1)
    val a = math.sin(dp / 2) * math.sin(dp / 2) +
      math.cos(p1) * math.cos(p2) * math.sin(dl / 2) * math.sin(dl / 2)
    2 * EarthRadiusM * math.asin(math.min(1.0, math.sqrt(a)))
  }
}
