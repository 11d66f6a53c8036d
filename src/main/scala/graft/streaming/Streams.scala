package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.synth.SynthWorld
import graft.text.NearDup
import graft.web.{Flagship, Geocode}

/** Structured Streaming layer (SURVEY.md §2.10 — extension, not in the
  * batch-only reference): the geocode pipeline as a streaming ingest,
  * watermarked page-ingest metrics, and agent motion as keyed state
  * transitions (the B2-B5 reaction semantics replayed over an event
  * stream via flatMapGroupsWithState).
  */
object Streams {

  /** Streaming geocode ingest: same narrow geoparse→assign plan as batch
    * (broadcast indexes, zero shuffle) over `readStream`. */
  def geocodeStream(spark: SparkSession, pagesStream: DataFrame,
                    cfg: SynthWorld.Config): DataFrame =
    Flagship.geocodePages(spark, pagesStream, cfg)

  /** Page-ingest metrics: tumbling 1-minute windows on warc_ts with a
    * 2-minute watermark, per-lang counts (late data beyond the watermark is
    * dropped — semantics to match in any engine swap). */
  def ingestMetrics(pages: DataFrame): DataFrame =
    pages
      .withWatermark("warc_ts", "2 minutes")
      .groupBy(window(col("warc_ts"), "1 minute"), col("lang"))
      .agg(count(lit(1)).as("n_pages"))

  /** Streaming exact dedup (the training-pipeline staple, §ext dedup):
    * first occurrence of each text hash survives, later duplicates drop.
    * dropDuplicatesWithinWatermark bounds the hash state to the watermark
    * horizon — an unbounded-state dropDuplicates would OOM a long-running
    * ingest at crawl scale. */
  def dedupStream(pages: DataFrame, watermark: String = "10 minutes"): DataFrame =
    pages
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Streaming CURATION — [[graft.web.Curation.curate]]'s semantics as a
    * continuous ingest: arriving pages quality-filter (same
    * [[graft.text.TextOps.qualityReason]] rule chain, same thresholds),
    * exact-dedup on the text hash with watermark-bounded state, and carry
    * their token counts. Differences from the batch pipeline, inherent to
    * streams: the canonical survivor is the FIRST arrival (not the
    * min-url row — later arrivals are already gone when a dup appears),
    * there is no n_copies (a stream cannot count future duplicates), and
    * dedup forgets hashes past the watermark horizon (bounded state; the
    * batch pass over the accumulated table remains the exact
    * ground truth). */
  def curateStream(pages: DataFrame, watermark: String = "10 minutes",
                   minTokens: Int = 30,
                   minMeanLenX100: Int = 300, maxMeanLenX100: Int = 900,
                   minStopwordBp: Int = 100): DataFrame =
    pages
      .filter(col("text").isNotNull)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .filter(graft.text.TextOps.qualityReason(col("text"), col("n_chars"),
        minTokens, minMeanLenX100, maxMeanLenX100, minStopwordBp).isNull)
      .drop("n_chars")
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("text_hash")
      .drop("text_hash")
      .withColumn("n_tokens", graft.text.TextOps.wsTokens(col("text")).cast("long"))
      .withColumn("n_bpe_tokens", graft.text.TextOps.bpeTokens(col("text")).cast("long"))

  /** Incremental near-dup against a STATIC corpus — the continuous-crawl
    * shape: each arriving page MinHash-bands statelessly (signatures are
    * per-row array expressions, not aggregations, so no streaming-agg
    * watermark latency), candidates come from a stream-static equi-join on
    * (band, bucket) against the prebuilt [[corpusBandIndex]], and the
    * exact word-Jaccard verify runs inline on (stream tokens, corpus
    * tokens) — batch [[graft.text.NearDup.minhashLsh]] semantics, one
    * page at a time. Band-collision duplicates (a pair colliding in
    * several bands) drop via dropDuplicatesWithinWatermark, so state is
    * bounded by the watermark horizon. Emits
    * (doc_id, corpus_id, inter, size_a, size_b) in append mode.
    *
    * `stream`: (doc_id, warc_ts, text) streaming; `corpusBands` /
    * `corpusTokens` from [[corpusBandIndex]] (static, computed once —
    * broadcast or shuffled by Spark's stream-static planning). */
  def nearDupAgainstCorpus(stream: DataFrame,
                           corpusBands: DataFrame, corpusTokens: DataFrame,
                           numHashes: Int = 16, bands: Int = 4,
                           thresholdPct: Int = 50,
                           watermark: String = "10 minutes"): DataFrame = {
    val banded = stream
      .withWatermark("warc_ts", watermark)
      .select(col("doc_id"), col("warc_ts"), NearDup.tokens(col("text")).as("s_toks"))
      .select(col("doc_id"), col("warc_ts"), col("s_toks"),
        posexplode(NearDup.lshBuckets(col("s_toks"), numHashes, bands)))
      .toDF("doc_id", "warc_ts", "s_toks", "band", "bucket")
    banded.join(corpusBands, Seq("band", "bucket"))
      .dropDuplicatesWithinWatermark("doc_id", "corpus_id")
      .join(corpusTokens, "corpus_id")
      .withColumn("inter", size(array_intersect(col("s_toks"), col("c_toks"))))
      .withColumn("size_a", size(col("s_toks")))
      .withColumn("size_b", size(col("c_toks")))
      .filter(NearDup.jaccardAtLeast(thresholdPct))
      .select(col("doc_id"), col("corpus_id"), col("inter"),
        col("size_a"), col("size_b"))
  }

  /** The static side of [[nearDupAgainstCorpus]], computed ONCE per corpus
    * snapshot: (corpus_id, band, bucket) band index + (corpus_id, c_toks)
    * distinct token arrays, both CACHED — without the persist, the
    * full-corpus tokenize and MinHash would re-execute on every micro-batch
    * of the join, degrading the incremental shape to repeated batch work.
    * The CALLER owns the caches: unpersist both frames when rotating to a
    * new corpus snapshot. Banding goes through the one shared
    * [[graft.text.NearDup.lshBuckets]] formula, so stream and corpus
    * buckets collide iff the band signatures are equal. */
  def corpusBandIndex(corpus: DataFrame, numHashes: Int = 16, bands: Int = 4)
      : (DataFrame, DataFrame) = {
    // built first: a bad (numHashes, bands) fails before anything is cached
    val buckets = NearDup.lshBuckets(col("c_toks"), numHashes, bands)
    val toks = corpus.select(col("doc_id").as("corpus_id"),
        NearDup.tokens(col("text")).as("c_toks"))
      .cache()
    val banded = toks.select(col("corpus_id"), posexplode(buckets))
      .toDF("corpus_id", "band", "bucket")
      .cache()
    (banded, toks)
  }

  // ── agent motion as keyed streaming state ──

  case class MotionEvent(agent: String, seq: Long, action: String, target: Long)
  case class AgentLoc(agent: String, seq: Long, location: Long, action: String)

  /** Replays B2-B5 as a per-agent state machine: `enter t` pushes the agent
    * into t, `leave` pops to the parent (the caller supplies parentOf as a
    * broadcastable map), `move t` swaps streets laterally. Emits one
    * location record per applied event; idempotent on no-ops. */
  def agentMotion(events: Dataset[MotionEvent], parentOf: Map[Long, Long])
                 (implicit spark: SparkSession): Dataset[AgentLoc] = {
    import spark.implicits._
    val parentB = spark.sparkContext.broadcast(parentOf)
    events
      .groupByKey(_.agent)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        stateFn(parentB))
  }

  private def stateFn(parentB: org.apache.spark.broadcast.Broadcast[Map[Long, Long]])
  : (String, Iterator[MotionEvent], GroupState[Long]) => Iterator[AgentLoc] =
    (agent, events, state) => {
      val parents = parentB.value
      var loc = state.getOption.getOrElse(-1L)
      val out = events.toSeq.sortBy(_.seq).flatMap { e =>
        val next = e.action match {
          case "enter" if parents.get(e.target).contains(loc) || loc == -1L => Some(e.target)
          case "leave" => parents.get(loc)
          case "move" if parents.get(e.target) == parents.get(loc) => Some(e.target)
          case _ => None
        }
        next match {
          case Some(n) if n != loc => loc = n; Some(AgentLoc(agent, e.seq, n, e.action))
          case _ => None
        }
      }
      state.update(loc)
      out.iterator
    }
}
