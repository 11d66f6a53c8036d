package graft.spatial

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.truncated

/** Raster↔vector operators over the cell grid (north rule: "H3/S2 index,
  * point-in-polygon, kNN, raster↔vector").
  *
  * A raster here is a Dataset of occupied grid cells with a value column —
  * the natural distributed representation at planet scale (dense arrays
  * don't shard; (cell, v) rows partition, prune and join like any fact
  * table).
  */
object Raster {

  /** Vector→raster: aggregate points into (cell, v = point count) at
    * `level`. One shuffle (the groupBy); the cell id is the codegen'd
    * z-order expression, not a UDF. */
  def rasterize(spark: SparkSession, points: DataFrame, level: Int): DataFrame = {
    graft.functions.GeoFunctions.register(spark)
    points
      .withColumn("cell",
        graft.functions.GeoFunctions.cell_of(col("lat"), col("lon"), level))
      .groupBy("cell").agg(count(lit(1)).as("v"))
  }

  /** Raster→vector zonal statistics: per zone polygon, the count and sum of
    * raster cells whose CENTROID falls inside it (the standard raster
    * convention; zones may overlap — a cell contributes to every zone
    * containing it). The centroids run through
    * [[DistributedPip.containsJoin]]'s cover join with the raster value as
    * a payload column, so the whole operator is the one cover join plus the
    * final groupBy — no second shuffle to re-attach `v`.
    *
    * Strategy: [[CoverJoin.Broadcast]] — the zones are a driver-resident
    * Seq, so their cover is small by contract and the raster streams past
    * it. */
  def zonalStats(spark: SparkSession, raster: DataFrame,
                 zones: Seq[SpatialBoundary], coverLevel: Int): DataFrame =
    zonal(spark, raster, DistributedPip.boundaryTable(spark, zones), coverLevel,
      CoverJoin.Broadcast)

  /** Fact×fact zonal statistics: same semantics as [[zonalStats]] but with
    * zones as a TABLE (boundary_id, wkb) — the path for zone sets beyond
    * executor memory (per-tenant fences at 10⁸ zones).
    *
    * Strategy: [[CoverJoin.Merge]] — the zone cover's fan-out (cells per
    * zone) is invisible to the size estimate. */
  def zonalStatsDistributed(spark: SparkSession, raster: DataFrame, zones: DataFrame,
                            coverLevel: Int): DataFrame =
    zonal(spark, raster, zones, coverLevel, CoverJoin.Merge)

  private def zonal(spark: SparkSession, raster: DataFrame, zones: DataFrame,
                    coverLevel: Int, strategy: CoverJoin): DataFrame = {
    // centroid via the registered codegen expressions — no per-row UDF serde
    // on the fact side of the PIP join
    graft.functions.GeoFunctions.register(spark)
    val pts = raster.select(col("cell").as("id"), col("v"))
      .withColumn("lat", graft.functions.GeoFunctions.cell_centroid_lat(col("id")))
      .withColumn("lon", graft.functions.GeoFunctions.cell_centroid_lon(col("id")))
      .select(col("id"), col("lat"), col("lon"), col("v"))
    DistributedPip.containsJoin(spark, pts, zones, coverLevel, strategy)
      .groupBy("boundary_id")
      .agg(count(lit(1)).as("n_cells"), sum(col("v")).as("sum_v"))
  }

  /** Raster→vector component labeling: 4-neighbor connected components of
    * the occupied cells — the scalable two-phase shape:
    *
    *  1. ONE shuffle co-locates cells by their 2^blockBits-square grid
    *    block; a streaming per-block union-find labels each cell with the
    *    min key of its block-LOCAL component (memory = one block's occupied
    *    cells, never the partition).
    *  2. Only block-BORDER cells probe their out-of-block neighbors; the
    *    resulting label-equivalence pairs form a contracted graph
    *    (|block-graph| ≪ |cells|) on which the min-label + pointer-halving
    *    loop runs — rounds = O(log block-graph diameter), each over
    *    hundreds of labels instead of every cell.
    *
    * The round-5 shape ran the propagation loop over ALL cells (3 shuffles
    * × O(log component diameter) rounds — ~60 Spark jobs at the q38 size);
    * phase-1 collapses everything intra-block into one pass.
    *
    * Input: (i LONG, j LONG) occupied grid coordinates at one level.
    * Output: (i, j, comp) where comp = min linear key (i*gridN + j)
    * reachable in the component — identical to the one-phase labeling. */
  def connectedComponents(spark: SparkSession, cells: DataFrame,
                          gridN: Long, blockBits: Int = 10): DataFrame = {
    import spark.implicits._
    val B = blockBits
    val ids = cells.select(col("i"), col("j"), (col("i") * gridN + col("j")).as("key"))
      .distinct()
    // phase 1: block-local union-find. Rows arrive partitioned by block and
    // SORTED by block within the partition, so one block is in memory at a
    // time (bounded by 4^blockBits occupied cells; 2^20 at the default).
    val labeled = truncated(ids
      // ARITHMETIC shift — must group exactly like the task-side `>> B`
      // (shiftrightunsigned would split a negative-coordinate block across
      // partitions and silently lose its intra-block edges)
      .repartition(shiftright(col("i"), B), shiftright(col("j"), B))
      .sortWithinPartitions(shiftright(col("i"), B), shiftright(col("j"), B))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        new Iterator[Iterator[(Long, Long, Long, Long)]] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): Iterator[(Long, Long, Long, Long)] = {
            val (bi, bj) = (buf.head._1 >> B, buf.head._2 >> B)
            val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
            while (buf.hasNext && (buf.head._1 >> B) == bi && (buf.head._2 >> B) == bj)
              rows += buf.next()
            labelBlock(rows, B, gridN)
          }
        }.flatten
      }.toDF("i", "j", "key", "lbl")) // read by border probes + the final relabel join
    // phase 2: border cells probe out-of-block neighbors only; both
    // directions appear because each side of a cross-block edge probes the
    // other. Equivalences are (src lbl, dst lbl) pairs.
    val borderProbes = labeled.select(col("i"), col("j"), col("lbl"))
      .as[(Long, Long, Long)]
      .flatMap { case (i, j, lbl) =>
        val out = List.newBuilder[(Long, Long, Long)]
        if (((i + 1) >> B) != (i >> B)) out += ((i + 1, j, lbl))
        if (i > 0 && ((i - 1) >> B) != (i >> B)) out += ((i - 1, j, lbl))
        if (((j + 1) >> B) != (j >> B)) out += ((i, j + 1, lbl))
        if (j > 0 && ((j - 1) >> B) != (j >> B)) out += ((i, j - 1, lbl))
        out.result()
      }.toDF("i", "j", "src")
    val edges = truncated(borderProbes
      .join(labeled.select(col("i"), col("j"), col("lbl").as("dst")), Seq("i", "j"))
      .select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")))
    // min-label propagation over the contracted label graph; labels not in
    // any equivalence keep their block-local lbl (coalesce at the end)
    val eqNodes = edges.select(col("src").as("key"))
      .unionByName(edges.select(col("dst").as("key"))).distinct()
    var labels = eqNodes.select(col("key"), col("key").as("comp"))
    var converged = edges.isEmpty // single-block / no-border worlds skip the loop
    var iter = 0
    val maxRounds = 64
    // convergence via DECIMAL(38,0) sum: keys are i*gridN+j, so at fine
    // grids (gridN ≈ 2³¹) a Long sum of ~10⁹ labels overflows — under ANSI
    // mode that is a job-killing exception, and without ANSI a wrapped sum
    // could silently alias two different label states. 38 digits cannot
    // overflow (n·maxKey ≤ 10¹⁰·2⁶³ < 10³⁰).
    var prevSum: java.math.BigDecimal = null
    while (!converged && iter < maxRounds) {
      // (1) push the label across edges, (2) pointer-halve: follow the
      // label one hop (comp := min(comp, comp(comp)) — comp is itself a
      // cell key, so the self-join always hits). Halving turns the round
      // count from O(component diameter) into O(log diameter).
      val pushed = edges.join(labels, col("src") === col("key"))
        .select(col("dst").as("key"), col("comp"))
      val merged = labels.unionByName(pushed)
        .groupBy("key").agg(min(col("comp")).as("comp"))
      val halved = merged.as("a")
        .join(merged.select(col("key").as("ck"), col("comp").as("ccomp")).as("b"),
          col("a.comp") === col("b.ck"))
        .select(col("a.key").as("key"), least(col("a.comp"), col("b.ccomp")).as("comp"))
      val next = truncated(halved)
      // min-label sums are monotone non-increasing; a fixed sum ⇒ fixpoint
      val s = next.agg(sum(col("comp").cast("decimal(38,0)"))).collect()(0).getDecimal(0)
      if (prevSum != null && s.compareTo(prevSum) == 0) converged = true
      prevSum = s
      // the previous round's cache is dead once `next` is materialized (the
      // agg above populated it) — free it instead of pinning one DataFrame
      // per round for the session lifetime
      if (iter > 0) labels.unpersist(false)
      labels = next
      iter += 1
    }
    // free every cache before returning: the relabel join below reads
    // truncated frames only, so it recomputes from their shuffle outputs.
    // A truncated scan has no size statistics, so the contracted label
    // table (≪ cells) is broadcast by hint; unhinted, the join would
    // shuffle every cell. Labels with no cross-block equivalence keep
    // their block-local lbl.
    labeled.unpersist(false)
    edges.unpersist(false)
    labels.unpersist(false)
    labeled
      .join(broadcast(labels.withColumnRenamed("key", "lbl").withColumnRenamed("comp", "gcomp")),
        Seq("lbl"), "left")
      .select(col("i"), col("j"), coalesce(col("gcomp"), col("lbl")).as("comp"))
  }

  /** Union-find over one block's occupied cells (4-adjacency, intra-block
    * edges only): emits (i, j, key, lbl = min key of the block-local
    * component). Neighbor lookup is by linear key; the +1 steps guard both
    * the grid edge (key aliasing at j = gridN-1) and the block edge. */
  private def labelBlock(rows: scala.collection.mutable.ArrayBuffer[(Long, Long, Long)],
                         blockBits: Int, gridN: Long): Iterator[(Long, Long, Long, Long)] = {
    val n = rows.length
    val idx = new java.util.HashMap[java.lang.Long, Integer](n * 2)
    var x = 0
    while (x < n) { idx.put(rows(x)._3, x); x += 1 }
    val parent = Array.tabulate(n)(identity)
    def find(a: Int): Int = {
      var r = a
      while (parent(r) != r) r = parent(r)
      var c = a
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    x = 0
    while (x < n) {
      val (i, j, key) = rows(x)
      if (i + 1 < gridN && ((i + 1) >> blockBits) == (i >> blockBits)) {
        val nb = idx.get(key + gridN)
        if (nb != null) union(x, nb)
      }
      if (j + 1 < gridN && ((j + 1) >> blockBits) == (j >> blockBits)) {
        val nb = idx.get(key + 1)
        if (nb != null) union(x, nb)
      }
      x += 1
    }
    val minKey = Array.fill(n)(Long.MaxValue)
    x = 0
    while (x < n) {
      val r = find(x)
      if (rows(x)._3 < minKey(r)) minKey(r) = rows(x)._3
      x += 1
    }
    rows.iterator.zipWithIndex.map { case ((i, j, key), y) => (i, j, key, minKey(find(y))) }
  }
}
