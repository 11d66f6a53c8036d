package graft.spatial

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.io.WKBReader
import graft.cells.CellIndex
import scala.collection.mutable

/** J8 — distance-0 spatial join (`(around.boundary:0)` in
  * query-raw.overpassql:6,45-46): which line geometries cross a boundary's
  * border. Cell prejoin on the boundary RING cover (cover of
  * `geom.getBoundary`), exact JTS `intersects` refine against the ring.
  * This is the geometric source of the reference's "outer name" nodes:
  * street ways crossing the border, and the crossing points themselves. */
object SpatialOps {

  /** Ring-cover index: cell → boundary ids whose border passes through. */
  private class RingIndex(val level: Int,
                          val cells: Map[Long, Array[Long]],
                          val ringWkb: Map[Long, Array[Byte]]) extends Serializable {
    @transient lazy val rings = new java.util.concurrent.ConcurrentHashMap[Long, Geometry]()
    def ring(id: Long): Geometry = {
      val got = rings.get(id)
      if (got != null) got
      else {
        val g = new WKBReader().read(ringWkb(id))
        rings.putIfAbsent(id, g)
        g
      }
    }
  }

  private def buildRingIndex(bs: Seq[SpatialBoundary], level: Int): RingIndex = {
    val reader = new WKBReader()
    val writer = new org.locationtech.jts.io.WKBWriter()
    val cells = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    val ringWkb = mutable.HashMap.empty[Long, Array[Byte]]
    bs.foreach { b =>
      // seam note: take the RAW polygon's boundary FIRST, then normalize
      // the ring — normalizing the polygon first would add artificial
      // edges along the ±180 clip line and flag every seam-crossing line
      // as a border crossing
      val ring = CellIndex.normalizeSeam(reader.read(b.wkb).getBoundary)
      ringWkb(b.id) = writer.write(ring)
      // lineal geometry never containsProperly a 2-D cell, so every cover
      // cell is already at exactly `level` — no expansion needed
      CellIndex.cover(ring, level).foreach { c =>
        cells.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += b.id
      }
    }
    new RingIndex(level, cells.map { case (k, v) => k -> v.distinct.toArray }.toMap, ringWkb.toMap)
  }

  /** lines: (line_id LONG, wkb BINARY of a LineString).
    * Returns (line_id, boundary_id) for every line crossing that
    * boundary's border. One narrow pass; ring index broadcast. */
  def crossings(spark: SparkSession, lines: DataFrame,
                boundaries: Seq[SpatialBoundary], level: Int = 12): DataFrame = {
    import spark.implicits._
    val idx = spark.sparkContext.broadcast(buildRingIndex(boundaries, level))
    lines.select(col("line_id"), col("wkb")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val reader = new WKBReader()
        it.flatMap { case (lineId, wkb) =>
          val geom = CellIndex.normalizeSeam(reader.read(wkb))
          val ix = idx.value
          // candidate boundaries: ring cells touched by the line's own
          // cover (lineal probe → cover is already uniformly at `level`)
          val cands = CellIndex.cover(geom, ix.level).iterator
            .flatMap(c => ix.cells.getOrElse(c, Array.empty[Long]))
            .toSet
          cands.iterator
            .filter(bid => geom.intersects(ix.ring(bid)))
            .map(bid => (lineId, bid))
        }
      }.toDF("line_id", "boundary_id")
  }

  /** Fact×fact crossings — [[crossings]] with the boundary set as a TABLE
    * (boundary_id, wkb), the path when the ring index exceeds executor
    * memory (per-tenant fences, planetary admin sets). Boundary RINGS and
    * lines each become a [[DistributedPip.coverClips]] table (the ring is
    * the raw polygon's boundary, the [[buildRingIndex]] seam rule); ONE
    * shuffle on cell id joins them and the refine is an exact JTS
    * `intersects` of the two local clips.
    *
    * Exactness: a crossing point p lies in some cell c; both covers
    * contain c (both geometries pass through p), and both clips retain p
    * ([[DistributedPip.clipToCell]]) ⇒ the join at c finds the crossing.
    * Conversely clips are subsets of the raw geometries, so a clipped
    * intersection implies a raw one — no false positives. Output
    * deduplicates (line_id, boundary_id): a long shared border crossing
    * many cells reports once. */
  def crossingsDistributed(spark: SparkSession, lines: DataFrame,
                           boundaries: DataFrame, level: Int = 12): DataFrame = {
    val rings = DistributedPip.coverClips(boundaries.select(col("boundary_id"), col("wkb")),
        level, _.getBoundary)
      .toDF("cell", "boundary_id", "b_full", "b_wkb")
    val segs = DistributedPip.coverClips(lines.select(col("line_id"), col("wkb")),
        level, identity)
      .toDF("cell", "line_id", "l_full", "l_wkb")
    val (ringLru, lineLru) = (new GeomLru, new GeomLru)
    val refine = udf { (cell: Long, bid: Long, bWkb: Array[Byte],
                        lid: Long, lWkb: Array[Byte]) =>
      ringLru.get((cell, bid), bWkb).intersects(lineLru.get((cell, lid), lWkb).getGeometry)
    }
    segs.join(rings, "cell")
      .filter(refine(col("cell"), col("boundary_id"), col("b_wkb"),
        col("line_id"), col("l_wkb")))
      .select(col("line_id"), col("boundary_id"))
      .distinct()
  }
}
