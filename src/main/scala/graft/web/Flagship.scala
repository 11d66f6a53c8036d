package graft.web

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cells.CellIndex
import graft.spatial.SpatialBoundary
import graft.synth.SynthWorld

/** Flagship north-star job: synthesize the Common-Crawl-style pages table,
  * geoparse, spatially join into the admin hierarchy, tile, and kNN-snap
  * (BASELINE.json:6). Used by SparkEntry.entry, Bench, and the scaling run. */
object Flagship {

  val TileLevel = 14
  val CoverLevel = 10
  val SnapLevel = 12
  val BucketLevel = 3 // resume granularity: 64 world buckets

  def boundaries(cfg: SynthWorld.Config): Seq[SpatialBoundary] = {
    val rects = SynthWorld.adminRects(cfg)
    val byId = rects.map(r => r.id -> r).toMap
    rects.map(r => SpatialBoundary(r.id, r.level, r.chain(byId), SynthWorld.rectWkb(r)))
  }

  /** Geocode an existing pages DataFrame (the deployment shape: scan a
    * partitioned pages table; generation never sits in the hot path). */
  def geocodePages(spark: SparkSession, pages: DataFrame, cfg: SynthWorld.Config): DataFrame = {
    graft.functions.GeoFunctions.register(spark) // idempotent, per-session
    // geoparsePresent: ONE rlike in the Filter (pushed to the scan), no
    // regexp_extract copies in any Filter condition (the Filter of the
    // `Inspect plans` "flagship" dump; asserted by GeocodeSpec)
    val parsed = Geocode.geoparsePresent(pages)
    val bs = boundaries(cfg)
    val bld = SynthWorld.buildings(cfg).map(b => (b.id, b.lat, b.lon))
    Geocode.assign(spark, parsed, bs, bld, CoverLevel, TileLevel, SnapLevel,
      assumeCoords = true)
      // native codegen expression, not a UDF (SURVEY.md §4.3)
      .withColumn("bucket", graft.functions.GeoFunctions.cell_parent(col("cell_id"), BucketLevel))
  }

  def geocode(spark: SparkSession, cfg: SynthWorld.Config): DataFrame =
    geocodePages(spark, SynthWorld.pages(spark, cfg).toDF(), cfg)

  /** Write the synthetic pages table once (idempotent per config) and
    * return its path — bench setup, outside the timed region. */
  def materializePages(spark: SparkSession, cfg: SynthWorld.Config): String = {
    val key = s"${cfg.seed}-${cfg.gridP}-${cfg.gridC}-${cfg.streetsPerCity}-" +
      s"${cfg.buildingsPerStreet}-${cfg.pages}"
    val dir = s"${sys.props("java.io.tmpdir")}/graft-pages-$key"
    val done = new java.io.File(s"$dir/_SUCCESS")
    if (!done.exists()) {
      SynthWorld.pages(spark, cfg).toDF()
        .repartition(spark.sparkContext.defaultParallelism * 2)
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** End-to-end ingest, the reference's fetch→build→write lifecycle
    * (SURVEY.md §3.1) over the Common-Crawl container format: WARC files →
    * (url, warc_ts, html) → deterministic text extraction (the byte-identical
    * invariant, BASELINE.json:15) → geoparse → spatial join + tile + snap →
    * lineage-committed bucket-partitioned table. Resume granularity is the
    * lineage bucket: a killed ingest reruns only buckets without manifests. */
  def ingestWarc(spark: SparkSession, warcDir: String, cfg: SynthWorld.Config,
                 outDir: String, snapshotId: String): Lineage.RunResult = {
    val extract = udf(Geocode.extractText)
    val pages = graft.sources.WarcSource.readPages(spark, warcDir)
      .withColumn("text", extract(col("html")))
      .withColumn("lang", lit("und")) // WARC carries no language field
      .drop("html") // geocode reads text only; don't haul payload bytes along
    // splitsPerBucket = 0 (auto): cell_parent buckets are SPATIALLY skewed
    // (one coarse cell can hold a whole region), so the write salt derives
    // from the pending-bucket count instead of serializing per bucket
    Lineage.run(spark, geocodePages(spark, pages, cfg), outDir, snapshotId,
      splitsPerBucket = 0)
  }
}
