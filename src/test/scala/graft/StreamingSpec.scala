package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Streams
import graft.synth.SynthWorld
import graft.web.Flagship

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val cfg = SynthWorld.Config(seed = 42L, gridP = 2, gridC = 2,
    streetsPerCity = 3, buildingsPerStreet = 4, pages = 3000L)

  test("streaming geocode over a file source matches the batch result") {
    val dir = Flagship.materializePages(spark, cfg)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 4).parquet(dir)
    val out = Streams.geocodeStream(spark, stream, cfg)
    val q = out.writeStream.format("memory").queryName("geo_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("geo_out")
    assert(streamed.count() == cfg.pages)
    val batch = Flagship.geocodePages(spark, spark.read.parquet(dir), cfg)
    assert(streamed.select("url", "admin_chain", "cell_id")
      .exceptAll(batch.select("url", "admin_chain", "cell_id")).count() == 0)
  }

  test("watermarked tumbling-window ingest metrics produce per-window lang counts") {
    val dir = Flagship.materializePages(spark, cfg)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = Streams.ingestMetrics(stream)
      .writeStream.format("memory").queryName("ingest_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // append mode emits only watermark-closed windows; pages span 3000 s →
    // ~50 one-minute windows, the last ones held back by the watermark
    val rows = spark.table("ingest_out")
    assert(rows.count() > 0)
    val total = rows.agg(sum("n_pages")).collect()(0).getLong(0)
    assert(total <= cfg.pages)
    assert(rows.select("lang").distinct().count() == 5)
  }

  test("streaming dedup keeps one row per text hash with watermark-bounded state") {
    import spark.implicits._
    val mem = MemoryStream[(String, java.sql.Timestamp, String)](spark)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(s: Long) = new java.sql.Timestamp(base.getTime + s * 1000)
    mem.addData(
      ("u1", t(0), "alpha text"), ("u2", t(1), "beta text"),
      ("u3", t(2), "alpha text"), // dup of u1 within watermark
      ("u4", t(3), "gamma text"))
    val pages = mem.toDF().toDF("url", "warc_ts", "text")
    val q = Streams.dedupStream(pages, watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("dedup_out").select("url").collect().map(_.getString(0)).toSet
    assert(got == Set("u1", "u2", "u4"), s"got $got")
  }

  test("streaming curation filters quality and dedups with watermark-bounded state") {
    import spark.implicits._
    val mem = MemoryStream[(String, java.sql.Timestamp, String, String)](spark)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(s: Long) = new java.sql.Timestamp(base.getTime + s * 1000)
    val good = ("the abcd " * 20).trim
    val good2 = ("the word here now " * 10).trim
    mem.addData(
      ("u1", t(0), good, "en"),
      ("u2", t(1), good, "en"),    // exact dup of u1: dropped
      ("u3", t(2), "short", "en"), // quality-rejected
      ("u4", t(3), good2, "en"))
    val q = Streams.curateStream(
        mem.toDF().toDF("url", "warc_ts", "text", "lang"), watermark = "1 hour")
      .writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("curate_out")
      .select("url", "n_tokens", "n_bpe_tokens").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == Set("u1", "u4"), s"got ${got.keySet}")
    assert(got("u1") == (40L, 40L))
  }

  test("streaming near-dup flags arrivals against a static corpus index") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four"),
      (3L, "totally different words here")).toDF("doc_id", "text")
    val (bandsIdx, toksIdx) = Streams.corpusBandIndex(corpus)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(s: Long) = new java.sql.Timestamp(base.getTime + s * 1000)
    mem.addData(
      (10L, t(0), "delta gamma beta alpha"), // same token SET as corpus 1 →
                                             // identical signature, certain hit
      (11L, t(1), "zz qq ww ee"),            // disjoint: no candidate
      (12L, t(2), "one two three four"))     // exact dup of corpus 2
    val q = Streams.nearDupAgainstCorpus(
        mem.toDF().toDF("doc_id", "warc_ts", "text"), bandsIdx, toksIdx,
        watermark = "1 hour")
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("neardup_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((10L, 1L, 4), (12L, 2L, 4)), s"got $got")
  }
}
