package graft.spatial

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry, TopologyException}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.geom.util.PolygonExtracter
import org.locationtech.jts.io.{WKBReader, WKBWriter}
import graft.cells.CellIndex

/** How a cover join on `cell` runs: a join hint on the cover side. Spark's
  * size estimate cannot choose for us — it sizes the [[DistributedPip.coverClips]]
  * flatMap as its input scaled by row width and never counts the cells per
  * geometry, so unhinted it broadcasts a cover far larger than it thinks
  * (and at test scale never runs the shuffle join at all). */
private[spatial] sealed abstract class CoverJoin(val hint: String)

private[spatial] object CoverJoin {
  /** The geometries arrived as a driver-resident Seq, so their cover is
    * small by contract: broadcast it and stream the fact side past it. */
  case object Broadcast extends CoverJoin("broadcast")
  /** The geometries are a table of any size: sort-merge both sides on
    * cell, so no executor ever holds the whole cover. */
  case object Merge extends CoverJoin("merge")
}

/** Distributed point-in-polygon containment join — the fact×fact path for
  * J7 when the zone side is NOT broadcastable (the broadcast
  * [[BoundaryCellIndex]] covers the planet-admin case at ~10⁷ cover cells;
  * this path covers zone sets beyond executor memory: per-tenant fences,
  * building footprints, generated isochrones).
  *
  * Shape: zones become the [[coverClips]] table; points key by their
  * level-`level` cell; ONE join on cell id, run as a [[CoverJoin]]
  * strategy, pairs them; the refine is an exact JTS point-in-polygon
  * through a [[GeomLru]] of the prepared clips. Hot cells (a dense metro)
  * split under AQE skew handling; pre-salting the point side composes via
  * [[graft.ops.Skew]] if an exchange is reused.
  *
  * Same containment predicate as the broadcast path
  * (BoundaryCellIndex.foreachContaining): `full || prepared.contains(pt)`.
  */
object DistributedPip {

  /** Extra columns of `points` beyond (id, lat, lon) ride through the join
    * untouched — [[Raster.zonalStatsDistributed]] threads the raster value
    * this way instead of paying a second shuffle to re-join it. */
  val ReservedCols: Set[String] = Set("cell", "boundary_id", "pip_full", "pip_wkb",
    "point_id")

  /** points: (id, lat, lon, payload...); zones: (boundary_id, wkb).
    * Returns (point_id, lat, lon, payload..., boundary_id) — one row per
    * containing zone (zones may overlap/nest).
    *
    * Strategy: [[CoverJoin.Merge]] — `zones` is a table, and its cover's
    * fan-out (cells per zone) is invisible to the size estimate.
    *
    * NULL-COORDINATE POLICY: rows with a null lat or lon are DROPPED, by
    * the explicit filter below (they can be contained by no zone). Without
    * it the drop would still happen — but silently, at two different
    * operators (null cell key fails the cover equi-join; the refine UDF's
    * primitive params make Spark skip the call and null the predicate) —
    * so the policy is stated here as contract rather than left emergent. */
  def containsJoin(spark: SparkSession, points: DataFrame, zones: DataFrame,
                   level: Int): DataFrame =
    containsJoin(spark, points, zones, level, CoverJoin.Merge)

  private[spatial] def containsJoin(spark: SparkSession, points: DataFrame, zones: DataFrame,
                                    level: Int, strategy: CoverJoin): DataFrame = {
    graft.functions.GeoFunctions.register(spark)
    require(points.columns.forall(c => !ReservedCols.contains(c)),
      s"point columns collide with reserved names: ${ReservedCols.mkString(",")}")
    require(Seq("id", "lat", "lon").forall(points.columns.contains),
      s"points must carry (id, lat, lon); got ${points.columns.mkString(",")}")

    val cover = coverClips(zones.select(col("boundary_id"), col("wkb")), level, (_, g) => g)
      .toDF("cell", "boundary_id", "pip_full", "pip_wkb")
    val ptCols = points.columns
    val pts = points
      .filter(col("lat").isNotNull && col("lon").isNotNull) // see policy above
      .withColumn("cell", graft.functions.GeoFunctions.cell_of(col("lat"), col("lon"), level))

    // id resolved BY NAME (the round-3 contract) — positional head-column
    // selection would silently mislabel ids for callers whose id is not
    // the first column
    val outCols: Seq[Column] =
      col("id").as("point_id") +: ptCols.filterNot(_ == "id").map(col).toSeq :+
        col("boundary_id")
    // a deterministic UDF, so arbitrary payload columns survive the join
    // without a typed encoder
    val zoneLru = new GeomLru
    val refine = udf { (cell: Long, bid: Long, full: Boolean, wkb: Array[Byte],
                        lat: Double, lon: Double) =>
      full || {
        val zone = zoneLru.get((cell, bid), wkb)
        zone.contains(zone.getGeometry.getFactory.createPoint(new Coordinate(lon, lat)))
      }
    }
    pts.join(cover.hint(strategy.hint), "cell")
      .filter(refine(col("cell"), col("boundary_id"), col("pip_full"),
        col("pip_wkb"), col("lat"), col("lon")))
      .select(outCols: _*)
  }

  /** Driver-resident boundaries as the (boundary_id, wkb) table the cover
    * joins read — raw wkb, as the boundaries were handed in. */
  private[spatial] def boundaryTable(spark: SparkSession, bs: Seq[SpatialBoundary]): DataFrame = {
    import spark.implicits._
    bs.map(b => (b.id, b.wkb)).toDF("boundary_id", "wkb")
  }

  /** The cover table of every spatial cover join ([[containsJoin]],
    * [[SpatialOps.crossings]], [[Raster.zonalStats]] and their forms):
    * (id, wkb) rows flatMap to (cell, id, full, wkb), one row per cell of
    * the geometry's UNIFORM level-`level` cover. `shape` maps (id, raw
    * geometry) before the seam is normalized (a crossing ring is the RAW
    * polygon's boundary: normalizing the polygon first would add edges
    * along the ±180 clip line) and may reject a geometry loudly.
    *
    * For a polygon, `full` cells (strictly inside) skip the exact refine
    * and drop their payload; every other cell ships the geometry CLIPPED to
    * the cell ([[clipToCell]]), so the bytes per cell riding the shuffle
    * are O(local boundary complexity), not O(whole-geometry vertices) — a
    * coastline with 10⁵ border cells never replicates its full ring 10⁵×.
    * Lines have no `full` cells. An invalid polygon (bowtie fence,
    * self-touching footprint) ships UNCLIPPED: the overlay clip could pick
    * a different valid reading than the prepared-predicate refine on the
    * raw geometry, and [[BoundaryCellIndex]] refines the raw one; its bytes
    * are written once per geometry, not once per cell. */
  private[spatial] def coverClips(rows: DataFrame, level: Int,
                                  shape: (Long, Geometry) => Geometry)
      : Dataset[(Long, Long, Boolean, Array[Byte])] = {
    import rows.sparkSession.implicits._
    rows.as[(Long, Array[Byte])].mapPartitions { it =>
      val reader = new WKBReader()
      val writer = new WKBWriter()
      it.flatMap { case (id, wkb) =>
        val geom = CellIndex.normalizeSeam(shape(id, reader.read(wkb)))
        val polygonal = geom.getDimension == 2
        val prep = if (polygonal) PreparedGeometryFactory.prepare(geom) else null
        val clip = !polygonal || geom.isValid
        lazy val rawBytes = writer.write(geom)
        CellIndex.cover(geom, level, level).iterator.map { cell =>
          val full = polygonal && prep.containsProperly(CellIndex.cellGeometry(cell))
          val payload =
            if (full) null
            else if (clip) writer.write(clipToCell(geom, cell))
            else rawBytes
          (cell, id, full, payload)
        }
      }
    }
  }

  /** Geometry ∩ the cell's envelope expanded by 10⁻⁶ of its width: the
    * polygonal components of a polygon, every component of a line (a clip
    * that degenerates to a point still witnesses `intersects`).
    *
    * Exactness: every point assigned to the cell (floor assignment puts a
    * point on the cell edge in one cell) is INTERIOR to the window, so
    * p ∈ interior(zone) ⟺ p ∈ interior(zone ∩ window), and a crossing
    * point of two lines in the cell survives both clips. Lower-dimensional
    * residue of a polygon clip (a zone edge lying exactly on the window
    * edge) is dropped: points there are on the zone boundary, which
    * `contains` excludes in the unclipped predicate too. Clips are subsets
    * of the raw geometries, so they add no false positives.
    *
    * Falls back to the unclipped geometry when the overlay throws a
    * TopologyException (prepared-geometry PREDICATES tolerate the invalid
    * rings that overlays reject) or leaves nothing of the geometry's kind
    * (robustness beats an empty refine geometry silently dropping rows). */
  private[graft] def clipToCell(geom: Geometry, cell: Long): Geometry = {
    val (lonMin, latMin, lonMax, latMax) = CellIndex.bounds(cell)
    val eps = (lonMax - lonMin) * 1e-6
    val window = geom.getFactory.toGeometry(new Envelope(
      lonMin - eps, lonMax + eps, latMin - eps, latMax + eps))
    val clipped =
      try geom.intersection(window)
      catch { case _: TopologyException => return geom }
    val kept =
      if (geom.getDimension < 2) clipped
      else geom.getFactory.buildGeometry(PolygonExtracter.getPolygons(clipped))
    if (kept.isEmpty) geom else kept
  }
}
