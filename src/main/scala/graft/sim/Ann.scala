package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id, embedding
  * FLOAT[64], label) — approximate nearest neighbor for a training-data
  * pipeline.
  *
  *  - [[bruteTopK]]: exact cosine top-k — query side streams against a
  *    broadcast matrix of the index side. Driver-collects the index side, so
  *    it is the TEST ORACLE for small corpora only, never a production path.
  *  - [[exactTopK]]: exact cosine top-k as a distributed all-pairs join —
  *    no driver materialization; inherently O(n²) work (that is what "exact
  *    against the whole corpus" means), but every stage is distributed and
  *    codegen'd, so it survives as long as the n² pair count does.
  *  - [[ivfTopK]]: spherical k-means IVF as the scale path —
  *    centroid count and nprobe derive from the corpus size
  *    ([[ivfParams]]), so candidate pairs stay sub-quadratic.
  *  - [[cosineNearDup]]: unordered pairs above a cosine threshold, over the
  *    exact all-pairs join.
  */
object Ann {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Exact cosine top-k for every vector against the whole corpus
    * (excluding self). Output (vec_id, rank, neighbor_id, cos_sim).
    * TEST ORACLE: collects the corpus to the driver — small fixtures only. */
  def bruteTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    val rows = emb(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val corpus = rows.collect() // bounded index side
    val norms = corpus.map { case (_, v) =>
      math.sqrt(v.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
    }
    val bc = spark.sparkContext.broadcast((corpus, norms))
    rows.mapPartitions { it =>
      val (cs, ns) = bc.value
      it.flatMap { case (qid, qv) =>
        val qn = math.sqrt(qv.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble))
        val top = new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
          Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2)))
        var i = 0
        while (i < cs.length) {
          val (cid, cv) = cs(i)
          if (cid != qid) {
            var dot = 0.0
            var d = 0
            while (d < qv.length) { dot += qv(d).toDouble * cv(d).toDouble; d += 1 }
            val cos = dot / (qn * ns(i))
            if (top.size < k) top.enqueue((cos, cid))
            else if (cos > top.head._1 || (cos == top.head._1 && cid < top.head._2)) {
              top.dequeue(); top.enqueue((cos, cid))
            }
          }
          i += 1
        }
        top.toSeq.sortBy(t => (-t._1, t._2)).zipWithIndex.map {
          case ((cos, cid), r) => (qid, r + 1, cid, cos)
        }
      }
    }.toDF("vec_id", "rank", "neighbor_id", "cos_sim")
  }

  /** cosine(a.embedding, b.embedding) from pre-computed norms — the
    * allocation-free codegen [[graft.functions.VecDot]] expression (the
    * higher-order aggregate(zip_with(...)) alternative materializes a
    * dim-sized array per pair: GC-bound at n² pairs). Callers must have
    * run GeoFunctions.register on the session. */
  private def cosine(qv: Column, cv: Column, qn: Column, cn: Column): Column =
    graft.functions.GeoFunctions.vec_dot(qv, cv) / (qn * cn)

  private def withNorm(df: DataFrame): DataFrame = {
    graft.functions.GeoFunctions.register(df.sparkSession)
    df.withColumn("norm",
      sqrt(graft.functions.GeoFunctions.vec_dot(col("embedding"), col("embedding"))))
  }

  /** Exact cosine top-k, fully distributed: all-pairs join with norms
    * precomputed per row. Output (vec_id, rank, neighbor_id, cos_sim).
    * No collect — the production-shaped exact path (q28).
    *
    * GUARDED: exact-against-the-whole-corpus is definitionally O(n²) pairs;
    * past `maxRows` that is a quadratic job no cluster should run by
    * accident, so the call FAILS LOUDLY instead of silently launching it
    * (the caller either raises the bound deliberately or routes through
    * [[ivfTopK]], whose candidate count is sub-quadratic by construction). */
  def exactTopK(spark: SparkSession, dir: String, k: Int = 3,
                maxRows: Long = 65536L): DataFrame = {
    // one shared guarded pair machinery ([[cosinePairsOf]]); each unordered
    // pair mirrors into both directions, ranked by the one top-k tail
    val scored = cosinePairsOf(spark, emb(spark, dir), maxRows)
    val directed = scored.select(col("id_a").as("vec_id"),
        col("id_b").as("cand_id"), col("cos").as("cos_sim"))
      .unionByName(scored.select(col("id_b").as("vec_id"),
        col("id_a").as("cand_id"), col("cos").as("cos_sim")))
    rerank(directed, k)
  }

  /** The IVF tuning law AS CODE (not a comment): `c` grows with √n so the
    * average cluster holds √n vectors, and `nprobe` stays a small constant,
    * so the scan fraction nprobe/c DECAYS as the corpus grows —
    * candidate pairs ≈ n · nprobe · (n/c) = nprobe · n^1.5 when c = √n,
    * sub-quadratic at every n (the round-2 defaults c=64/nprobe=32 scanned a
    * fixed 50% of the corpus per query = quadratic at any n).
    *
    * At the small harness corpora (n ≤ 4096) this reproduces c=64/nprobe=32
    * exactly — the configuration whose recall@3 was measured at 0.94 — so
    * q29 is unchanged. `c` is capped at 65536 (centroid broadcast ≤ ~34 MB
    * at 64 dims), which is below the [[MaxTrainSamples]] bound; k-means
    * places min(c, samples) centroids. */
  def ivfParams(n: Long): (Int, Int) = {
    val c = math.max(64L, math.ceil(math.sqrt(n.toDouble)).toLong).min(65536L).toInt
    (c, math.min(32, c))
  }

  /** Bound on the k-means training sample: the sampling modulus is derived
    * from the corpus size so that at most ~this many vectors reach the
    * driver. */
  private val MaxTrainSamples = 100000L

  /** Spherical k-means iterations over the training sample. */
  private val TrainIters = 5

  /** IVF (inverted-file) ANN — the scale path for top-k on diffuse corpora
    * (measured here: top-1 cosine ≈ 0.36, barely 3σ above random — at that
    * similarity hyperplane-LSH banding needs ~80% of all pairs for 0.9
    * recall, while IVF reaches 0.94 scanning ~nprobe/C of the corpus).
    *
    * Spherical k-means over a deterministic sample trains `c` unit
    * centroids (tiny, broadcast); every vector is assigned to its argmax-dot
    * centroid; a query probes its `nprobe` nearest centroids. The one
    * candidate join ([[selfCandidates]]) scores each pair's exact cosine and
    * [[rerank]] keeps the top k.
    *
    * c and nprobe derive from the corpus size by [[ivfParams]] (the FAISS
    * posture — parameters come from the data, so a call at 10⁸ vectors gets
    * a sub-quadratic job, not a silent 50%-scan quadratic one). */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    rerank(selfCandidates(emb(spark, dir)), k)

  /** Candidate-pair count for the given corpus — the measurable
    * scale contract (NearDupAnnSpec asserts it stays ≤ nprobe·n^1.5·slack
    * and grows sub-quadratically across corpus sizes). Only the ids reach
    * the count: Catalyst prunes the embeddings and the cosine. */
  def ivfCandidatePairs(spark: SparkSession, dir: String): Long =
    selfCandidates(emb(spark, dir)).count()

  /** The one IVF candidate join: every corpus row probes the index trained
    * on the corpus itself, and every (probe row, assigned row) pair of two
    * different rows on a shared `cluster` comes out with its exact cosine,
    * as (vec_id, cand_id, cos_sim). A candidate lives in exactly one
    * cluster and a probe's clusters are distinct, so each pair appears once
    * per direction, and the two directions carry bit-identical cosines
    * (vec_dot and the norm product commute). */
  private def selfCandidates(corpus: DataFrame): DataFrame = {
    // (vec_id, embedding, norm, unit), `unit` the embedding over its norm;
    // spread to the cores, since small scans land in 1 split
    val rows = withNorm(corpus.select(col("vec_id"), col("embedding")))
      .withColumn("unit", transform(col("embedding"), x => x.cast("double") / col("norm")))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    val (assign, probe) = ivfIndex(rows)
    rows.withColumn("cluster", probe)
      .select(col("vec_id"), col("cluster"), col("embedding").as("qv"), col("norm").as("qn"))
      .join(rows.withColumn("cluster", assign).select(col("vec_id").as("cand_id"),
        col("cluster"), col("embedding").as("cv"), col("norm").as("cn")), "cluster")
      .filter(col("vec_id") =!= col("cand_id"))
      .select(col("vec_id"), col("cand_id"),
        cosine(col("qv"), col("cv"), col("qn"), col("cn")).as("cos_sim"))
  }

  /** The one top-k tail of [[ivfTopK]] and [[exactTopK]]: top k per
    * vec_id of directed (vec_id, cand_id, cos_sim) pairs, ordered by
    * (cos desc, cand_id asc). For [[ivfTopK]] Spark picks a broadcast or
    * shuffled join on `cluster` from its size estimate of the assign side;
    * at q29 sf0.1, and at 50k uncached rows, it broadcasts it.
    * (The 50k profile, `Inspect profile <sf> ivf50k`, measured 178 → 215 s
    * of task time when its plan flipped to broadcast; pinning the join to a
    * shuffle is a separate change, since no perfbench workload runs IVF and
    * none could show it.)
    *
    * A per-PARTITION streaming top-k per vec_id cuts the rows entering the
    * window to ≤ k per (vec_id, partition) with bounded state (k entries
    * per in-flight vector; no sort, no spill). It is exact under any
    * partitioning: a vec_id's global top-k rows are top-k rows of whichever
    * partitions hold them. Comparisons use java.lang.Double.compare — the
    * same total order (NaN greatest, -0.0 < 0.0) as the window sort, so
    * ranking ties stay bit-identical.
    *
    * The heap stays because it is measured faster than the plain
    * `row_number() ≤ k`, which Spark 4.1 plans as a sort-based
    * WindowGroupLimit before and after the exchange (4 vCPU, `local[4]`):
    *  - q28 at sf0.1 (`Inspect profile`, runs 3–5 of three alternating
    *    pairs), when exactTopK moved from the plain window to this tail:
    *    exec 0.67–0.75 → 0.48–0.68 s (median 0.70 → 0.51), task time
    *    2.17–2.38 → 1.36–1.94 s; 7 jobs and 5,090,688 B of shuffle write
    *    on both sides.
    *  - 20M `spark.range` rows in 4 partitions, vec_id = id % 50000 and
    *    a hashed cosine, k = 3, 4 alternating pairs after one warm-up
    *    each: heap + window 0.64–0.97 s, plain window 1.67–1.80 s, the
    *    same checksum. */
  private def rerank(scored: DataFrame, k: Int): DataFrame = {
    import scored.sparkSession.implicits._
    val kk = k
    val pruned = scored.as[(Long, Long, Double)].mapPartitions { it =>
      val state = new java.util.HashMap[java.lang.Long, TopK]()
      it.foreach { case (vid, cid, cos) =>
        var t = state.get(vid)
        if (t == null) { t = new TopK(kk); state.put(vid, t) }
        t.offer(cos, cid)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      state.forEach { (vid, t) =>
        var i = 0
        while (i < t.n) { out += ((vid, t.id(i), t.cos(i))); i += 1 }
      }
      out.iterator
    }.toDF("vec_id", "cand_id", "cos_sim")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos_sim").desc, col("cand_id").asc)
    pruned.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("rank"), col("cand_id").as("neighbor_id"), col("cos_sim"))
  }

  /** Bounded top-k pool ordered by (cos desc, id asc) via
    * java.lang.Double.compare — Spark's double sort order. */
  private final class TopK(k: Int) {
    val cos = new Array[Double](k)
    val id = new Array[Long](k)
    var n = 0
    // (c1, i1) strictly better than (c2, i2)
    @inline private def better(c1: Double, i1: Long, c2: Double, i2: Long): Boolean = {
      val c = java.lang.Double.compare(c1, c2)
      c > 0 || (c == 0 && i1 < i2)
    }
    def offer(c: Double, i: Long): Unit = {
      if (n < k) { cos(n) = c; id(n) = i; n += 1 }
      else {
        // find the worst retained entry; replace if the offer beats it
        var w = 0
        var x = 1
        while (x < n) { if (better(cos(w), id(w), cos(x), id(x))) w = x; x += 1 }
        if (better(c, i, cos(w), id(w))) { cos(w) = c; id(w) = i }
      }
    }
  }

  /** The IVF index over normed corpus `rows` as two columns over `unit`:
    * the argmax-dot centroid (`assign`) and one row per probed cluster,
    * the `nprobe` nearest centroids (`probe`, an explode). The trained
    * centroid broadcast and nprobe live in the two UDFs. */
  private def ivfIndex(rows: DataFrame): (Column, Column) = {
    val spark = rows.sparkSession
    import spark.implicits._
    // spherical k-means trained DRIVER-LOCAL on a bounded hash-stratified
    // sample (the FAISS posture: training never scans the full corpus —
    // the sampling mod is DERIVED from the corpus size so at most
    // ~MaxTrainSamples vectors ever reach the driver). Sorted collect +
    // fixed iteration order make the centroids fully deterministic (§7.5),
    // with zero Spark jobs per k-means iteration.
    val total = rows.count()
    val (c, nprobe) = ivfParams(total)
    val trainSampleMod = math.max(1L, total / MaxTrainSamples)
    val sample = rows.select(col("vec_id"), col("unit")).as[(Long, Seq[Double])]
      .filter(r => trainSampleMod <= 1L ||
        math.floorMod(graft.synth.SynthWorld.mix(r._1), trainSampleMod) == 0L)
      .collect().sortBy(_._1).map(_._2.toArray)
    require(sample.nonEmpty, "empty training sample")
    var centroids = Array.tabulate(math.min(c, sample.length))(i =>
      sample((i.toLong * sample.length / math.min(c, sample.length)).toInt).clone())
    var it = 0
    while (it < TrainIters) {
      val dim = centroids(0).length
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      var si = 0
      while (si < sample.length) {
        val u = sample(si)
        val ci = argmaxDot(u, centroids)
        val s = sums(ci)
        var d = 0
        while (d < dim) { s(d) += u(d); d += 1 }
        counts(ci) += 1
        si += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, ci) =>
        if (counts(ci) == 0) old
        else {
          val m = sums(ci)
          val n2 = math.sqrt(m.map(x => x * x).sum)
          if (n2 > 0) m.map(_ / n2) else old
        }
      }
      it += 1
    }

    // owned by the plans that capture it; Spark's ContextCleaner frees it
    // once they are unreachable
    val bc = spark.sparkContext.broadcast(centroids)
    val assign = udf((u: Seq[Double]) => argmaxDot(u.toArray, bc.value)).asNonNullable()
    val probe = udf((u: Seq[Double]) => topClusters(u.toArray, bc.value, nprobe))
      .asNonNullable()
    (assign(col("unit")), explode(probe(col("unit"))))
  }

  /** Embedding-cosine near-dup: unordered pairs with round(cos, 4) ≥
    * thresholdPct/100 — the last member of the dedup family (exact,
    * word/shingle jaccard, MinHash, SimHash, embedding cosine). All-pairs
    * with the same loud [[exactTopK]]-style row bound — the DuckDB-oracle
    * path (q41) for bounded corpora. */
  def cosineNearDup(spark: SparkSession, dir: String, thresholdPct: Int = 32,
                    maxRows: Long = 65536L): DataFrame =
    cosinePairsOf(spark, emb(spark, dir), maxRows)
      .withColumn("cos_r4", round(col("cos"), 4))
      .filter(col("cos_r4") >= thresholdPct / 100.0)
      .select(col("id_a"), col("id_b"), col("cos_r4"))

  /** The guarded all-pairs join over any (vec_id, embedding) frame: every
    * unordered pair (id_a < id_b) with its exact cosine, UNTHRESHOLDED — the
    * caller filters or ranks, and nothing materializes between. Shared by
    * exactTopK/cosineNearDup (q28/q41).
    *
    * INPUT CONTRACT: `rows0` is evaluated several times (count guard, both
    * join sides) — it must be DETERMINISTIC, and a computed pipeline (not a
    * scan) re-executes per evaluation unless the caller caches it. */
  private def cosinePairsOf(spark: SparkSession, rows0: DataFrame,
                            maxRows: Long): DataFrame = {
    val e = withNorm(rows0.select(col("vec_id"), col("embedding")))
    val n = e.count()
    require(n <= maxRows,
      s"exact cosine pairing is an all-pairs O(n²) join: $n rows > maxRows=$maxRows. " +
        "Use ivfTopK (sub-quadratic candidates) or raise maxRows deliberately.")
    val q = e.repartition(spark.sparkContext.defaultParallelism)
    q.select(col("vec_id").as("id_a"), col("embedding").as("qv"), col("norm").as("qn"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("cv"),
        col("norm").as("cn")), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("qv"), col("cv"), col("qn"), col("cn")).as("cos"))
  }

  private def argmaxDot(u: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MinValue
    var ci = 0
    while (ci < cents.length) {
      var s = 0.0; var d = 0
      val cv = cents(ci)
      while (d < u.length) { s += u(d) * cv(d); d += 1 }
      if (s > bestD) { bestD = s; best = ci }
      ci += 1
    }
    best
  }

  private def topClusters(u: Array[Double], cents: Array[Array[Double]], p: Int): Seq[Int] = {
    val dots = cents.indices.map { ci =>
      var s = 0.0; var d = 0
      val cv = cents(ci)
      while (d < u.length) { s += u(d) * cv(d); d += 1 }
      (s, ci)
    }
    dots.sortBy(t => (-t._1, t._2)).take(p).map(_._2)
  }
}
