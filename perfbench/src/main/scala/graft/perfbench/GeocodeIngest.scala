package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._
import graft.cells.CellIndex
import graft.functions.GeoFunctions
import graft.sources.WarcSource
import graft.spatial.{BoundaryCellIndex, PointCellIndex}
import graft.synth.SynthWorld
import graft.web.{Flagship, Geocode, Lineage}

/** WARC container files → Flagship.ingestWarc into spatially skewed,
  * auto-salted lineage buckets, then a no-op resume of the same snapshot,
  * then Lineage.audit. */
final class GeocodeIngest(pages: Long) extends Workload {
  private val FilesPerCore = 2
  private var cfg: SynthWorld.Config = _
  private var warcDir: String = _
  private var expected: Map[String, (String, Long)] = Map.empty
  private var reference: Seq[(Long, Long, Long)] = Nil
  private lazy val bounds = Flagship.boundaries(cfg)
  private lazy val buildings = SynthWorld.buildings(cfg).map(b => (b.id, b.lat, b.lon))

  def describe: String = s"pages=$pages gridP=${cfg.gridP} gridC=${cfg.gridC} " +
    s"streets=${cfg.streetsPerCity} buildings=${cfg.buildingsPerStreet} warc_files=$FilesPerCore/core"

  def generate(run: Run, dir: Path): Unit = {
    cfg = SynthWorld.Config(seed = run.seed, gridP = 3, gridC = 3,
      streetsPerCity = 10, buildingsPerStreet = 8, pages = pages)
    val out = dir.resolve(s"warc-${run.seed}-$pages").toString
    Files.createDirectories(java.nio.file.Paths.get(out))
    import run.spark.implicits._
    SynthWorld.pages(run.spark, cfg).map(p => (p.url, p.warc_ts, p.html))
      .repartition(run.cores * FilesPerCore)
      .foreachPartition { (it: Iterator[(String, java.sql.Timestamp, Array[Byte])]) =>
        val f = java.nio.file.Paths.get(out, f"part-${TaskContext.getPartitionId()}%05d.warc")
        Files.write(f, WarcSource.writeWarc(it.toSeq))
        ()
      }
    warcDir = out
  }

  override def prepare(run: Run): Unit = {
    // a seeded sample of urls and their true admin chain and building
    val h = SynthWorld.mix(run.seed)
    val ids = (0 until 64).map(k => math.floorMod(SynthWorld.mix(h + k), pages))
    expected = SynthWorld.expectedChains(run.spark, cfg)
      .filter(col("url").isin(ids.map(i => s"https://synth.example/p/$i"): _*))
      .select("url", "expected_chain", "expected_building_id").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
  }

  private def manifests(r: Lineage.RunResult) =
    r.manifests.map(m => (m.bucket, m.rows, m.checksum)).sortBy(_._1)

  private def checkCommit(run: Run, r: Lineage.RunResult, out: Path): Seq[String] = {
    val sample = run.spark.read.parquet(s"$out/data")
      .filter(col("url").isin(expected.keys.toSeq: _*))
      .select("url", "admin_chain", "nearest_building_id").collect()
      .map(x => x.getString(0) -> (x.getString(1), x.getLong(2))).toMap
    run.expect(r.pending.nonEmpty && r.skipped.isEmpty, s"pending ${r.pending}, skipped ${r.skipped}") ++
      run.expect(r.manifests.map(_.rows).sum == pages, s"committed ${r.manifests.map(_.rows).sum} of $pages rows") ++
      run.expect(sample == expected, s"admin chains differ on ${(expected.toSet diff sample.toSet).size} sampled urls") ++
      run.expect(reference.isEmpty || manifests(r) == reference, "manifests differ from the first iteration")
  }

  def iteration(run: Run, traced: Boolean): Unit = {
    val out = run.freshDir("geocode")
    val snap = "s1"
    val (first, tIngest) = run.op("ingest") {
      if (!traced) Flagship.ingestWarc(run.spark, warcDir, cfg, out.toString, snap)
      else layered(run, out.toString, snap)
    }(r => checkCommit(run, r, out))
    if (reference.isEmpty) reference = manifests(first)
    val (_, tResume) = run.op("lineage.resume") {
      Flagship.ingestWarc(run.spark, warcDir, cfg, out.toString, snap)
    }(r => run.expect(r.pending.isEmpty && r.skipped == first.pending,
      s"resume pending ${r.pending}"))
    val (_, tAudit) = run.op("lineage.audit")(Lineage.audit(run.spark, out.toString))(bad =>
      run.expect(bad.isEmpty, s"audit flags buckets $bad"))
    run.sample("ingest_pages_per_s", pages / tIngest)
    run.sample("resume_s", tResume)
    run.sample("audit_s", tAudit)
    Run.deleteTree(out)
  }

  /** ingestWarc's layers called one by one, each materialized before the
    * next starts; the result must match the untraced call's manifests. */
  private def layered(run: Run, out: String, snap: String): Lineage.RunResult = {
    val spark = run.spark
    val raw = run.step("sources.warc_read") {
      val df = WarcSource.readPages(spark, warcDir).cache()
      run.attr("rows", df.count().toDouble)
      df
    }
    val parsed = run.step("web.geoparse") {
      val extract = udf(Geocode.extractText)
      val df = Geocode.geoparsePresent(raw.withColumn("text", extract(col("html")))
        .withColumn("lang", lit("und")).drop("html")).cache()
      run.attr("hit_ratio", df.count().toDouble / pages)
      df
    }
    run.step("spatial.index_build") {
      BoundaryCellIndex.build(bounds, Flagship.CoverLevel)
      PointCellIndex.build(buildings, Flagship.SnapLevel)
    }
    val assigned = run.step("spatial.assign") {
      GeoFunctions.register(spark)
      val df = Geocode.assign(spark, parsed, bounds, buildings, Flagship.CoverLevel,
        Flagship.TileLevel, Flagship.SnapLevel, assumeCoords = true)
        .withColumn("bucket", GeoFunctions.cell_parent(col("cell_id"), Flagship.BucketLevel))
        .cache()
      val r = df.agg(count(lit(1)), count(col("nearest_building_id"))).collect()(0)
      run.attr("snap_hit_ratio", r.getLong(1).toDouble / math.max(1L, r.getLong(0)))
      df
    }
    run.step("lineage.commit") {
      val r = Lineage.run(spark, assigned, out, snap, splitsPerBucket = 0)
      val (files, bytes) = Run.parquetFiles(java.nio.file.Paths.get(out, "data"))
      run.attr("files_written", files.toDouble)
      run.attr("bytes_written", bytes.toDouble)
      r
    }
  }

  /** Per-call kernel timings on a fixed seeded point sample. */
  override def kernels(run: Run): Unit = {
    val rnd = new scala.util.Random(run.seed)
    val n = 20000
    val lat = Array.fill(n)(SynthWorld.latMin + rnd.nextDouble() * (SynthWorld.latMax - SynthWorld.latMin))
    val lon = Array.fill(n)(SynthWorld.lonMin + rnd.nextDouble() * (SynthWorld.lonMax - SynthWorld.lonMin))
    val bIdx = BoundaryCellIndex.build(bounds, Flagship.CoverLevel)
    val pIdx = PointCellIndex.build(buildings, Flagship.SnapLevel)
    val cells = lat.indices.map(i => CellIndex.cellOf(lat(i), lon(i), Flagship.SnapLevel)).toArray
    var sink = 0L
    def pass(f: Int => Long): Unit = { var i = 0; while (i < n) { sink += f(i); i += 1 } }
    def perCall(name: String, reps: Int)(f: Int => Long): Unit = {
      pass(f) // untimed: lets the JIT compile the loop first
      run.step(name) {
        val t0 = System.nanoTime()
        (1 to reps).foreach(_ => pass(f))
        run.attr("ns_per_call", (System.nanoTime() - t0).toDouble / (n.toLong * reps))
      }
    }
    perCall("cells.cell_of", 20)(i => CellIndex.cellOf(lat(i), lon(i), Flagship.TileLevel))
    perCall("cells.disk", 2)(i => CellIndex.disk(cells(i), 1).length)
    perCall("cells.haversine", 20)(i =>
      CellIndex.haversineM(lat(i), lon(i), lat((i + 1) % n), lon((i + 1) % n)).toLong)
    perCall("spatial.resolve", 2)(i => bIdx.resolve(lat(i), lon(i)).fold(0L)(_.id))
    perCall("spatial.nearest", 1)(i => pIdx.nearest(lat(i), lon(i)).fold(0L)(_._1))
    if (sink == 42L) println("") // keeps the kernel results live
  }
}
