package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.synth.SynthWorld
import graft.text.{NearDup, TextOps}
import graft.web.{Curation, Lineage}

/** Pages parquet with a stated exact-duplicate share → Curation.curate into
  * 64 uniform hash buckets, then NearDup.jaccardPairs and
  * NearDup.minhashLsh over a docs corpus with planted near-duplicates. */
final class CurateDedup(pages: Long, docs: Long) extends Workload {
  /** Share of base pages re-emitted once under a new url, same text. */
  val DupShare = 0.1
  /** Near-dup pairs minhash must find, as a share of the exact pairs. */
  val MinRecall = 0.95
  // quality thresholds fitted to the synthetic corpus (~22 tokens, no
  // English stopwords), the same ones graft.Bench curates with
  private val (minTokens, minMeanLenX100, maxMeanLenX100, minStopwordBp) = (10, 100, 2000, 0)
  // the thresholds and caps of the two near-dup calls
  private val (thresholdPct, maxDf, numHashes, bands) = (80, 1000, 16, 4)

  private var pagesDir: String = _
  private var docsDir: String = _
  private var inputRows = 0L
  private var passing = 0L
  private var distinctPassing = 0L
  private var candidates = 0L
  private var planted: Set[(Long, Long)] = Set.empty
  private var reference: Seq[(Long, Long, Long)] = Nil

  def describe: String = s"pages=$pages dup_share=$DupShare docs=$docs planted_pairs=${docs / 100}"

  def generate(run: Run, dir: Path): Unit = {
    val spark = run.spark
    val cfg = SynthWorld.Config(seed = run.seed, gridP = 3, gridC = 3,
      streetsPerCity = 10, buildingsPerStreet = 8, pages = pages)
    pagesDir = dir.resolve(s"pages-${run.seed}-$pages-$DupShare").toString
    val base = SynthWorld.pages(spark, cfg).toDF().select("url", "warc_ts", "text", "lang")
    val dups = base
      .filter(pmod(xxhash64(lit(run.seed), col("url")), lit(1000L)) < (DupShare * 1000).toLong)
      .withColumn("url", concat(col("url"), lit("?copy=1")))
      .withColumn("warc_ts", col("warc_ts") + expr("INTERVAL 1 HOUR"))
    base.unionByName(dups).repartition(run.cores * 2).write.parquet(pagesDir)
    docsDir = dir.resolve(s"docs-${run.seed}-$docs").toString
    writeDocs(run, docsDir)
  }

  /** 40-token docs; every 100th doc repeats tokens 1..39 of its predecessor
    * (Jaccard 39/41), the rest draw from a vocabulary of 8·n tokens. The
    * seed is folded into every token hash. */
  private def writeDocs(run: Run, dir: String): Unit = {
    val base = when(col("id") % 100 === 99, col("id") - 1).otherwise(col("id"))
    val text = array_join(
      transform(sequence(lit(0), lit(39)), j =>
        concat(lit("t"), pmod(xxhash64(lit(run.seed),
          when(j === 0, col("id")).otherwise(base) * 41 + j), lit(8L * docs)).cast("string"))),
      " ")
    run.spark.range(docs).select(col("id").as("doc_id"), text.as("text"))
      .write.parquet(s"$dir/documents.parquet")
  }

  override def prepare(run: Run): Unit = {
    val spark = run.spark
    // the rows curation must keep, from its quality rule
    val in = spark.read.parquet(pagesDir)
    inputRows = in.count()
    val r = in
      .filter(TextOps.qualityReason(col("text"), length(col("text")).cast("long"),
        minTokens, minMeanLenX100, maxMeanLenX100, minStopwordBp).isNull)
      .agg(count(lit(1)), countDistinct(col("text"))).collect()(0)
    passing = r.getLong(0)
    distinctPassing = r.getLong(1)
    planted = (99L until docs by 100L).map(i => (i - 1, i)).toSet
    // candidate pairs of the exact join: Σ df·(df−1)/2 over tokens under the cap
    candidates = spark.read.parquet(s"$docsDir/documents.parquet")
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .agg(sum(col("df") * (col("df") - 1) / 2).cast("long")).collect()(0).getLong(0)
  }

  private def manifests(r: Lineage.RunResult) =
    r.manifests.map(m => (m.bucket, m.rows, m.checksum)).sortBy(_._1)

  private def checkCurate(run: Run, r: Lineage.RunResult, out: Path): Seq[String] = {
    val copies = run.spark.read.parquet(s"$out/data").agg(sum(col("n_copies")))
      .collect()(0).getLong(0)
    val rows = r.manifests.map(_.rows).sum
    run.expect(rows == distinctPassing, s"curated $rows rows, expected $distinctPassing distinct passing texts") ++
      run.expect(copies == passing, s"n_copies sums to $copies, expected $passing passing rows") ++
      run.expect(r.manifests.size == 64, s"${r.manifests.size} buckets committed, expected 64") ++
      run.expect(reference.isEmpty || manifests(r) == reference, "manifests differ from the first iteration")
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  def iteration(run: Run, traced: Boolean): Unit = {
    val spark = run.spark
    val out = run.freshDir("curate")
    val (cur, tCurate) = run.op("curate") {
      val in = spark.read.parquet(pagesDir)
      if (!traced) Curation.curate(spark, in, out.toString, "s1", minTokens = minTokens,
        minMeanLenX100 = minMeanLenX100, maxMeanLenX100 = maxMeanLenX100, minStopwordBp = minStopwordBp)
      else layered(run, in, out.toString)
    }(r => checkCurate(run, r, out))
    if (reference.isEmpty) reference = manifests(cur)
    val (jac, tJac) = run.op("text.jaccard") {
      val p = pairs(NearDup.jaccardPairs(spark, docsDir, thresholdPct, maxDf, Long.MaxValue))
      run.attr("candidates", candidates.toDouble)
      run.attr("precision", p.size.toDouble / math.max(1L, candidates))
      p
    }(p => run.expect(p == planted, s"${p.size} jaccard pairs, ${(p intersect planted).size} of ${planted.size} planted"))
    val (_, tMh) = run.op("text.minhash") {
      val p = pairs(NearDup.minhashLsh(spark, docsDir, numHashes, bands, thresholdPct, Long.MaxValue))
      run.attr("recall", (p intersect jac).size.toDouble / math.max(1, jac.size))
      p
    } { p =>
      val recall = (p intersect jac).size.toDouble / math.max(1, jac.size)
      run.expect(p.subsetOf(jac), s"${(p diff jac).size} minhash pairs outside the jaccard pairs") ++
        run.expect(recall >= MinRecall, s"minhash recall $recall < $MinRecall")
    }
    run.sample("curate_pages_per_s", inputRows / tCurate)
    run.sample("curate_s", tCurate)
    run.sample("jaccard_docs_per_s", docs / tJac)
    run.sample("minhash_docs_per_s", docs / tMh)
    run.sample("neardup_s", tJac + tMh)
    Run.deleteTree(out)
  }

  /** Curation.curate's steps one by one, each materialized before the next
    * starts; the result must match the untraced call's manifests. */
  private def layered(run: Run, in: DataFrame, out: String): Lineage.RunResult = {
    val scored = run.step("text.quality") {
      val df = in.filter(col("text").isNotNull)
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("reason", TextOps.qualityReason(col("text"), col("n_chars"),
          minTokens, minMeanLenX100, maxMeanLenX100, minStopwordBp))
        .filter(col("reason").isNull).drop("reason")
        .withColumn("text_hash", md5(col("text"))).cache()
      val n = df.count()
      run.attr("rows", n.toDouble)
      run.attr("pass_ratio", n.toDouble / inputRows)
      df
    }
    val deduped = run.step("text.dedup") {
      val wHash = Window.partitionBy(col("text_hash"))
      val df = scored
        .withColumn("rn", row_number().over(wHash.orderBy(col("url"), col("warc_ts"))))
        .withColumn("n_copies", count(lit(1)).over(wHash))
        .filter(col("rn") === 1).drop("rn", "text_hash", "n_chars").cache()
      run.attr("collapse_ratio", 1.0 - df.count().toDouble / math.max(1L, passing))
      df
    }
    val annotated = run.step("text.annotate") {
      val df = deduped
        .withColumn("n_tokens", TextOps.wsTokens(col("text")).cast("long"))
        .withColumn("n_bpe_tokens", TextOps.bpeTokens(col("text")).cast("long"))
        .withColumn("bucket", pmod(xxhash64(col("url")), lit(64L))).cache()
      df.count()
      df
    }
    // named apart from the geocode commit: the same writer, 64 uniform buckets
    run.step("lineage.commit_uniform") {
      val r = Lineage.run(run.spark, annotated, out, "s1")
      val (files, bytes) = Run.parquetFiles(java.nio.file.Paths.get(out, "data"))
      run.attr("files_written", files.toDouble)
      run.attr("bytes_written", bytes.toDouble)
      r
    }
  }
}
