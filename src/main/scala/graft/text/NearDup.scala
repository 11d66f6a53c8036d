package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over the `documents` table — the dedup family
  * a training-data pipeline needs at 100 TB. One column-level kernel
  * ([[words]], [[tokens]], [[minhash]], [[lshBuckets]], [[jaccardAtLeast]])
  * serves these methods and the streaming near-dup of
  * [[graft.streaming.Streams]]:
  *
  *  - exact set Jaccard over words or character n-grams via one
  *    inverted-index pair join (the oracle-able exact method; candidate
  *    pairs only where an element is shared, so the join never goes
  *    quadratic on disjoint docs; hot elements capped)
  *  - MinHash + banded LSH (the scale path: candidates from band-bucket
  *    equality, then exact verification — one shuffle per stage)
  *  - SimHash with Hamming-ball banding
  *
  * All hashing is xxhash64 (codegen'd); no UDFs.
  */
object NearDup {

  /** Pairwise queries run on a deterministic doc_id prefix so the work is
    * O(subset²) at every scale factor (the oracle applies the same bound).
    * The operators themselves scale by the token-index join, not by n². */
  private def docs(spark: SparkSession, dir: String, maxDocId: Long = 1000L): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < maxDocId)

  /** Non-empty space-separated words of `text` (null for null text): the
    * one tokenizer of every word-level method here and in
    * [[graft.streaming.Streams]]. */
  def words(text: Column): Column = filter(split(text, " "), t => t =!= "")

  /** The distinct words of `text`: the token set that word Jaccard and
    * MinHash work on. */
  def tokens(text: Column): Column = array_distinct(words(text))

  /** MinHash signature of a token array: sig_i = min over tokens of
    * xxhash64(i, token), as a per-row array expression, so batch and
    * streaming compute the same values with no aggregation. */
  def minhash(toks: Column, numHashes: Int): Column =
    array((0 until numHashes).map(i =>
      array_min(transform(toks, t => xxhash64(lit(i), t)))): _*)

  /** LSH band buckets from a signature column: band b = xxhash64 of the
    * b-th length-`rows` slice. */
  def bandBuckets(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map(b =>
      xxhash64(slice(sig, b * rows + 1, rows).cast("string"))): _*)

  /** The band buckets of a token array's MinHash signature, to posexplode
    * into (band, bucket) rows. ONE definition — [[minhashLsh]] and the
    * streaming corpus/stream sides must produce bit-identical buckets or
    * the band join silently finds nothing. Null, so no rows, for a null or
    * token-less doc: its all-null signature would otherwise share every
    * bucket with every other token-less doc and fabricate (0,0,0) pairs. */
  def lshBuckets(toks: Column, numHashes: Int, bands: Int): Column = {
    // a remainder would silently drop hashes; bands > numHashes gives
    // empty slices that every doc shares, so candidates go O(n²)
    require(numHashes > 0 && bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must be positive and divide numHashes ($numHashes)")
    when(size(toks) > 0, bandBuckets(minhash(toks, numHashes), bands, numHashes / bands))
  }

  /** Jaccard inter/(size_a + size_b − inter) ≥ thresholdPct/100 over the
    * integer columns inter, size_a, size_b, by cross-multiplication, so the
    * DuckDB oracle decides every pair the same way. */
  def jaccardAtLeast(thresholdPct: Int): Column =
    col("inter") * 100 >= (col("size_a") + col("size_b") - col("inter")) * thresholdPct

  /** Exact set-Jaccard pairs over the per-doc sets of `elems` (an array
    * column of words or character n-grams). An inverted-index pair join:
    * candidates arise only where an element is shared, so |candidates| =
    * Σ_elem df², and an element in more than `maxDf` docs (a stopword) is
    * dropped so it cannot create O(n²) pairs. Emits (doc_a, doc_b, inter,
    * size_a, size_b) over the capped sets. */
  private def setJaccardPairs(d: DataFrame, elems: Column,
                              thresholdPct: Int, maxDf: Int): DataFrame = {
    val parts = d.sparkSession.sparkContext.defaultParallelism
    // explicit-count repartition on the distinct keys: the dedup exchange
    // is reused by distinct() (same hash keys) and stays parallel where
    // AQE would coalesce the tiny bytes to one task
    val sets = d.select(col("doc_id"), explode(elems).as("elem"))
      .repartition(parts, col("doc_id"), col("elem"))
      .distinct()
    val hot = sets.groupBy("elem").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("elem")
    // explicit-count repartition on the join key: the pair join EXPLODES
    // (Σdf² candidates from KB-sized sets), and AQE — seeing only the tiny
    // pre-join bytes — coalesced the exchange to ONE partition, making the
    // explosion single-threaded (measured 14.6 s serial at sf0.1). A
    // REPARTITION_BY_NUM exchange is exempt from AQE coalescing, and the
    // sizes and both self-join sides reuse this one exchange.
    val ts = sets.join(broadcast(hot), Seq("elem"), "left_anti")
      .repartition(parts, col("elem"))
    val sizes = ts.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    ts.as("a").join(ts.as("b"),
        col("a.elem") === col("b.elem") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("doc_a", "size_a"), "doc_a")
      .join(sizes.toDF("doc_b", "size_b"), "doc_b")
      .filter(jaccardAtLeast(thresholdPct))
      .select("doc_a", "doc_b", "inter", "size_a", "size_b")
  }

  /** Exact Jaccard similarity ≥ threshold over (capped) word sets.
    * Emits (doc_a, doc_b, inter, size_a, size_b) with integer counts so the
    * DuckDB oracle hashes identically (jaccard = inter/(a+b-inter)). */
  def jaccardPairs(spark: SparkSession, dir: String,
                   thresholdPct: Int = 50, maxDf: Int = 1000,
                   maxDocId: Long = 1000L): DataFrame =
    setJaccardPairs(docs(spark, dir, maxDocId), words(col("text")), thresholdPct, maxDf)

  /** Character n-gram (shingle) Jaccard near-dup — the boundary-robust
    * variant of [[jaccardPairs]]: token-set jaccard misses edits that move
    * word boundaries; character shingles do not. Same pair join over the
    * distinct shingle sets, so the same Σdf² scaling law.
    * Emits (doc_a, doc_b, inter, size_a, size_b) like jaccardPairs. */
  def ngramJaccardPairs(spark: SparkSession, dir: String, n: Int = 3,
                        thresholdPct: Int = 80, maxDf: Int = 1000,
                        maxDocId: Long = 1000L): DataFrame = {
    // all length-n substrings, as a codegen transform over positions
    // (guard: sequence(1, 0) would generate DESCENDING, so short texts get
    // array())
    val text = col("text")
    val grams = transform(
      when(length(text) >= n, sequence(lit(1), length(text) - (n - 1)))
        .otherwise(array().cast("array<int>")),
      i => text.substr(i, lit(n)))
    setJaccardPairs(docs(spark, dir, maxDocId), grams, thresholdPct, maxDf)
  }

  /** MinHash+LSH near-dup candidates, exact-Jaccard verified.
    * bands × rowsPerBand = numHashes; candidate ⇔ some band identical.
    *
    * Signatures are per-row array expressions ([[lshBuckets]], the same
    * formula [[graft.streaming.Streams.nearDupAgainstCorpus]] computes
    * statelessly), and the exact verify is an array_intersect over the same
    * per-doc token arrays, so only the band self-join and the candidate
    * joins shuffle. */
  def minhashLsh(spark: SparkSession, dir: String, numHashes: Int = 16,
                 bands: Int = 4, thresholdPct: Int = 50,
                 maxDocId: Long = 1000L): DataFrame = {
    val parts = spark.sparkContext.defaultParallelism
    val docsArr = docs(spark, dir, maxDocId)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val banded = docsArr
      .select(col("doc_id"), posexplode(lshBuckets(col("toks"), numHashes, bands)))
      .toDF("doc_id", "band", "bucket")
      // explicit-count repartition on the join key — the band self-join
      // explodes per bucket; AQE would coalesce the tiny input to one
      // partition and serialize the explosion (see setJaccardPairs)
      .repartition(parts, col("band"), col("bucket"))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verification of candidates only: |A ∩ B| via array_intersect
    // (token arrays ride the two candidate joins; candidates are the sparse
    // LSH survivors). The explicit-count repartition keeps the per-pair
    // intersect work wide — AQE coalesced the small candidate bytes to ~3
    // tasks and serialized the verify
    cands
      .repartition(parts, col("doc_a"))
      .join(docsArr.toDF("doc_a", "a_toks"), "doc_a")
      .join(docsArr.toDF("doc_b", "b_toks"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("a_toks"), col("b_toks"))).cast("long").as("inter"),
        size(col("a_toks")).cast("long").as("size_a"),
        size(col("b_toks")).cast("long").as("size_b"))
      .filter(jaccardAtLeast(thresholdPct))
  }

  /** 64-bit SimHash over token xxhash64s: sign of the per-bit vote sum. */
  def simhash(d: DataFrame): DataFrame = {
    val toks = d.select(col("doc_id"), explode(words(col("text"))).as("token"))
      .withColumn("h", xxhash64(col("token")))
    // per bit: votes = Σ ±1; bit set ⇔ votes > 0
    val bitCols = (0 until 64).map { b =>
      sum(when(shiftrightunsigned(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$b")
    }
    toks.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b =>
          when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** SimHash near-dup pairs within Hamming distance ≤ maxHamming, using
    * (maxHamming+1)-band exact-match prefilter — by pigeonhole any pair
    * within distance maxHamming shares at least one identical band — then
    * exact popcount verify. */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val nBands = maxHamming + 1
    require(nBands <= 64, "maxHamming too large for a 64-bit simhash")
    // band b covers bits [start_b, start_b + width_b); widths differ by ≤1
    val starts = (0 to nBands).map(b => b * 64 / nBands)
    val sh = simhash(docs(spark, dir))
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nBands).map { b =>
        val width = starts(b + 1) - starts(b)
        shiftrightunsigned(col("simhash"), starts(b))
          .bitwiseAND(lit((1L << width) - 1))
      }: _*)))
      .toDF("doc_id", "simhash", "band", "bucket")
      // same AQE-coalescing guard as minhashLsh's band join
      .repartition(spark.sparkContext.defaultParallelism, col("band"), col("bucket"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }
}
