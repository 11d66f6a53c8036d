package graft.spatial

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.cells.CellIndex
import graft.truncated

/** Distributed nearest-neighbor snap — the 100 TB path for J9 when the
  * target side is NOT broadcastable (fact×fact, e.g. pages × planet
  * buildings). Cell-ring expansion as iterative shuffle joins:
  *
  *   round r: unresolved points explode their ring-r cells ⋈ targets
  *   bucketed by cell → per-point running top-k pool; a point finalizes
  *   once its k-th best distance is within the unscanned-ring lower bound
  *   (the next ring can still hold a closer target — same guarantee as the
  *   broadcast PointCellIndex.knn).
  *
  * Each round is one shuffle on cell id; resolved points leave the loop, so
  * round cost decays geometrically in dense regions. Hot cells are handled
  * by the bucketing itself (a target cell's rows spread across its join
  * partitions via AQE skew splitting).
  */
object DistributedKnn {

  /** points: (id, lat, lon); targets: (tid, tlat, tlon).
    * Returns (id, rank, nearest_tid, nearest_dist_m) — up to `k` rows per
    * point ranked by (distance asc, tid asc). Points see fewer than k rows
    * only when fewer than k targets exist within maxRing rings; points
    * with no target there are dropped.
    *
    * Rings are scanned in GEOMETRIC BATCHES ([0], [1], [2,4), [4,8), …):
    * each round is a full shuffle barrier, so O(log maxRing) rounds beats
    * one round per ring — at worst 2× the cells probed, and only for the
    * few points still unresolved in late rounds.
    *
    * Termination is exact: a point finalizes once it holds k candidates
    * AND its k-th best distance is within the geometric lower bound of all
    * unscanned rings (firstUnscannedRing × minCellExtentM at the point's
    * latitude — anisotropy-safe, same rule as the broadcast
    * PointCellIndex); after the last batch every point with any candidate
    * finalizes.
    *
    * A point finalizes in exactly one round, and that round's window ranked
    * its pool by (d, tid) over unique (id, tid) rows with the sentinel last,
    * so the finalized slice's row number IS the rank: the result is the one
    * union of those slices, with no second ranking pass. Every round's
    * cache is freed before the call returns; the result recomputes from
    * their lineage. */
  def knn(spark: SparkSession, points: DataFrame, targets: DataFrame,
          level: Int, k: Int = 1, maxRing: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the refine/key computations are the registered CODEGEN expressions
    // (GeoFunctions) — no per-row UDF serde on the biggest join of q36/q44;
    // only ringBatch stays a UDF (genuinely array-generating)
    graft.functions.GeoFunctions.register(spark)
    import graft.functions.GeoFunctions.{haversine_m, min_cell_extent_m, cell_of}
    val ringBatch = udf { (lat: Double, lon: Double, lo: Int, hi: Int) =>
      val center = CellIndex.cellOf(lat, lon, level)
      (lo until hi).flatMap(r => CellIndex.ring(center, r)).distinct.toArray
    }
    val targetsByCell = targets
      .withColumn("cell", cell_of(col("tlat"), col("tlon"), level))
      .cache()

    val wBest = Window.partitionBy(col("id"))
      .orderBy(col("d").asc_nulls_last, col("tid").asc_nulls_last)
    val wId = Window.partitionBy(col("id"))
    var unresolved = truncated(points.select("id", "lat", "lon"))
    var unresolvedCount = 0L
    // finalized rows are sliced out of each round's top-k frame and joined
    // by ONE union, so no per-round best-carry or anti joins exist — every
    // round is exactly one window exchange + one action
    val finalizedParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var prevBest: DataFrame = null // the previous round's top-k frame
    var lo = 0
    // the first round always runs (its action fills the points cache), so
    // the union below has at least one slice even when `points` is empty
    do {
      // batch [lo, hi): rings 0 and 1 share the FIRST batch — the hi = 1
      // finalize bound below is 0 m (vacuous), so a lone ring-0 round was
      // one full shuffle barrier that could finalize nothing; merging it
      // probes the same 9 cells in one round instead of two
      val hi = math.min(if (lo == 0) 2 else lo * 2, maxRing + 1) // [lo, hi)
      val cands = unresolved
        .withColumn("cell",
          explode(ringBatch(col("lat"), col("lon"), lit(lo), lit(hi))))
        .join(targetsByCell, "cell")
        .withColumn("d", haversine_m(col("lat"), col("lon"), col("tlat"), col("tlon")))
        .select(col("id"), col("lat"), col("lon"), col("tid"), col("d"))
      // one SENTINEL row (null tid/d) per unresolved point keeps
      // candidate-less points inside the window output, so the next
      // round's unresolved set falls out of the same pass (the round-5
      // shape re-derived it with an anti join per round); sentinels sort
      // last (nulls_last) and are dropped from every kept slice
      val sentinel = unresolved.select(col("id"), col("lat"), col("lon"),
        lit(null).cast("long").as("tid"), lit(null).cast("double").as("d"))
      // unfinalized points carry their pools (≤ k rows per id) forward
      val pool0 = (if (prevBest == null) cands
        else prevBest.filter(!col("fin") && col("tid").isNotNull)
          .select(col("id"), col("lat"), col("lon"), col("tid"), col("d"))
          .unionByName(cands))
        .unionByName(sentinel)
      // longitude wrap can place ONE target cell at two Chebyshev ring
      // distances r and 2^level - r; ringBatch dedups within a batch, but
      // across batches the same (id, tid) row would enter the pool twice —
      // k=1 collapsed duplicates under rn=1, top-k would rank one target
      // at two ranks and displace the true k-th. Possible only when the
      // scanned disk can span the grid (2·maxRing ≥ columns), so fine
      // levels skip the extra exchange entirely.
      val pool =
        if ((1L << level) <= 2L * maxRing) pool0.dropDuplicates("id", "tid")
        else pool0
      // per-point running top-k; kth = the worst retained distance, cnt =
      // retained REAL pool size (count(tid) skips sentinels). `fin` marks
      // finalized points: rings 0..hi-1 are scanned, so the first
      // unscanned ring is hi and any target there is ≥ (hi-1) × minExtent
      // away (the point may sit on its own cell's edge); finalize once the
      // pool is full (cnt = k) AND its worst member beats that bound;
      // after the last batch finalize everything.
      val roundBest = truncated(pool
        .withColumn("rn", row_number().over(wBest)).filter(col("rn") <= k)
        .withColumn("cnt", count(col("tid")).over(wId))
        .withColumn("kth", max(col("d")).over(wId))
        .withColumn("fin",
          if (hi > maxRing) lit(true)
          else col("cnt") === k &&
            col("kth") <= lit(hi - 1) * min_cell_extent_m(col("lat"), level)))
      finalizedParts += roundBest
        .filter(col("fin") && col("tid").isNotNull)
        .select(col("id"), col("rn").as("rank"), col("tid").as("nearest_tid"),
          col("d").as("nearest_dist_m"))
      // the rn = 1 row exists for EVERY unresolved point (sentinel floor),
      // so next round's unresolved set needs no join at all
      val newUnresolved = truncated(roundBest.filter(!col("fin") && col("rn") === 1)
        .select(col("id"), col("lat"), col("lon")))
      // ONE action per round: materializes roundBest (via its cache) and
      // newUnresolved, and returns the count that drives the loop
      unresolvedCount = newUnresolved.groupBy().count().collect()(0).getLong(0)
      // this round's window shuffle was the last reader of the previous
      // round's cache; that round's slice recomputes from its own shuffle
      unresolved.unpersist(false)
      if (prevBest != null) prevBest.unpersist(false)
      prevBest = roundBest
      unresolved = newUnresolved
      lo = hi
    } while (lo <= maxRing && unresolvedCount > 0)
    targetsByCell.unpersist(false)
    unresolved.unpersist(false)
    prevBest.unpersist(false)
    finalizedParts.reduce(_ unionByName _)
  }
}
