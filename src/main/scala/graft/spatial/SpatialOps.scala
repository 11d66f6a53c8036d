package graft.spatial

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** J8 — distance-0 spatial join (`(around.boundary:0)` in
  * query-raw.overpassql:6,45-46): which line geometries cross a boundary's
  * border. Boundary RINGS and lines each become a
  * [[DistributedPip.coverClips]] table (the ring is the raw polygon's
  * boundary, taken before the seam is normalized); ONE join on cell id
  * pairs them and the refine is an exact JTS `intersects` of the two local
  * clips. This is the geometric source of the reference's "outer name"
  * nodes: street ways crossing the border, and the crossing points
  * themselves.
  *
  * Exactness: a crossing point p lies in some cell c; both covers contain
  * c (both geometries pass through p), and both clips retain p
  * ([[DistributedPip.clipToCell]]) ⇒ the join at c finds the crossing.
  * Conversely clips are subsets of the raw geometries, so a clipped
  * intersection implies a raw one — no false positives. Output
  * deduplicates (line_id, boundary_id): a long shared border crossing many
  * cells reports once. */
object SpatialOps {

  /** lines: (line_id LONG, wkb BINARY of a LineString).
    * Returns (line_id, boundary_id) for every line crossing that
    * boundary's border.
    *
    * Strategy: [[CoverJoin.Broadcast]] — the boundaries are a
    * driver-resident Seq, so their ring cover is small by contract and the
    * lines stream past it. */
  def crossings(spark: SparkSession, lines: DataFrame,
                boundaries: Seq[SpatialBoundary], level: Int = 12): DataFrame =
    crossingsJoin(lines, DistributedPip.boundaryTable(spark, boundaries), level,
      CoverJoin.Broadcast)

  /** Fact×fact crossings — [[crossings]] with the boundary set as a TABLE
    * (boundary_id, wkb), the path when the ring cover exceeds executor
    * memory (per-tenant fences, planetary admin sets).
    *
    * Strategy: [[CoverJoin.Merge]] — the ring cover's fan-out (cells per
    * boundary perimeter) is invisible to the size estimate. */
  def crossingsDistributed(spark: SparkSession, lines: DataFrame,
                           boundaries: DataFrame, level: Int = 12): DataFrame =
    crossingsJoin(lines, boundaries, level, CoverJoin.Merge)

  private def crossingsJoin(lines: DataFrame, boundaries: DataFrame, level: Int,
                            strategy: CoverJoin): DataFrame = {
    val rings = DistributedPip.coverClips(boundaries.select(col("boundary_id"), col("wkb")),
        level, (_, g) => g.getBoundary)
      .toDF("cell", "boundary_id", "b_full", "b_wkb")
    // a polygon here would get payload-free `full` cells that the refine
    // cannot read: reject it by name instead
    val segs = DistributedPip.coverClips(lines.select(col("line_id"), col("wkb")),
        level, { (id, g) =>
          require(g.getDimension < 2,
            s"crossings: line_id $id is a ${g.getGeometryType}; the line side takes lineal geometry")
          g
        })
      .toDF("cell", "line_id", "l_full", "l_wkb")
    val (ringLru, lineLru) = (new GeomLru, new GeomLru)
    val refine = udf { (cell: Long, bid: Long, bWkb: Array[Byte],
                        lid: Long, lWkb: Array[Byte]) =>
      ringLru.get((cell, bid), bWkb).intersects(lineLru.get((cell, lid), lWkb).getGeometry)
    }
    segs.join(rings.hint(strategy.hint), "cell")
      .filter(refine(col("cell"), col("boundary_id"), col("b_wkb"),
        col("line_id"), col("l_wkb")))
      .select(col("line_id"), col("boundary_id"))
      .distinct()
  }
}
