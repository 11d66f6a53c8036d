package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Relational
import graft.text.TextOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 (or a
  * training-data-pipeline extension), expressed over the harness tables at
  * `dir`; `oracleSql` holds the equivalent DuckDB SQL. Column names and
  * result types match exactly on both sides (the driver hashes values after
  * sorting columns by name).
  */
object SparkEntry {

  /** Flagship: the north-star geocode+tile pipeline (BASELINE.json:6) on a
    * small deterministic synthetic world — pages geoparsed, spatially
    * joined into the admin hierarchy, tiled, kNN-snapped. */
  def entry(spark: SparkSession): DataFrame = {
    val cfg = graft.synth.SynthWorld.Config(
      seed = 42L, gridP = 2, gridC = 2,
      streetsPerCity = 5, buildingsPerStreet = 6, pages = 5000L)
    graft.web.Flagship.geocode(spark, cfg)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_union_project"  -> ((s, d) => Relational.unionProject(s, d)),
    "q02_regex_filter"   -> ((s, d) => Relational.regexFilter(s, d)),
    "q03_classify"       -> ((s, d) => Relational.classify(s, d)),
    "q04_coalesce_name"  -> ((s, d) => Relational.coalesceName(s, d)),
    "q05_group_collect"  -> ((s, d) => Relational.groupCollect(s, d)),
    "q06_invert_map"     -> ((s, d) => Relational.invertMap(s, d)),
    "q07_having_distinct"-> ((s, d) => Relational.havingDistinct(s, d)),
    "q08_window_dedup"   -> ((s, d) => Relational.windowDedup(s, d)),
    "q09_semi_join"      -> ((s, d) => Relational.semiJoin(s, d)),
    "q10_anti_join"      -> ((s, d) => Relational.antiJoin(s, d)),
    "q11_quantified"     -> ((s, d) => Relational.quantified(s, d)),
    "q12_broadcast_lookup" -> ((s, d) => Relational.broadcastLookup(s, d)),
    "q13_closure"        -> ((s, d) => Relational.closure(s, d)),
    "q14_stats_counts"   -> ((s, d) => Relational.statsCounts(s, d)),
    "q15_cast_bucket"    -> ((s, d) => Relational.castBucket(s, d)),
    "q16_topk_per_group" -> ((s, d) => Relational.topkPerGroup(s, d)),
    "q17_tumbling_agg"   -> ((s, d) => Relational.tumblingAgg(s, d)),
    "q18_union_except"   -> ((s, d) => Relational.unionExcept(s, d)),
    "q19_token_count"    -> ((s, d) => TextOps.tokenCount(s, d)
                               .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))),
    "q20_exact_dedup"    -> ((s, d) => TextOps.exactDedup(s, d)),
    "q21_quality_score"  -> ((s, d) => TextOps.qualityScore(s, d)
                               .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
                                       col("mean_tok_len_x100"), col("stopword_bp"))),
    "q22_lang_distribution" -> ((s, d) => TextOps.langDistribution(s, d)),
    "q23_langid_hits"    -> ((s, d) => TextOps.langIdHeuristic(s, d)
                               .select(col("doc_id"), col("lang_true"),
                                       col("en_hits").cast("long").as("en_hits"),
                                       col("de_hits").cast("long").as("de_hits"),
                                       col("fr_hits").cast("long").as("fr_hits"))),
    "q24_fingerprint"    -> ((s, d) => TextOps.fingerprint(s, d)),
    "q49_quality_filter" -> ((s, d) => TextOps.qualityFilter(s, d)),
    "q50_bpe_tokens"     -> ((s, d) => TextOps.bpeTokenCount(s, d)),
    "q25_jaccard_neardup" -> ((s, d) => graft.text.NearDup.jaccardPairs(s, d, thresholdPct = 80)),
    "q26_minhash_lsh"    -> ((s, d) => graft.text.NearDup.minhashLsh(s, d, thresholdPct = 80)),
    "q40_ngram_jaccard"  -> ((s, d) => graft.text.NearDup.ngramJaccardPairs(s, d, n = 3, thresholdPct = 80)),
    "q27_simhash_pairs"  -> ((s, d) => graft.text.NearDup.simhashPairs(s, d, maxHamming = 8)),
    "q28_cosine_top1"    -> ((s, d) => {
                               // argmax by ROUNDED cosine then min id, so the
                               // tie-break matches the oracle exactly; k=32
                               // candidate depth covers rounded-cosine ties.
                               // exactTopK is the distributed all-pairs path
                               // (no driver collect; bruteTopK stays a
                               // test-only oracle)
                               import org.apache.spark.sql.expressions.Window
                               val w = Window.partitionBy(col("vec_id"))
                                 .orderBy(col("cos_r4").desc, col("neighbor_id").asc)
                               graft.sim.Ann.exactTopK(s, d, k = 32)
                                 .withColumn("cos_r4", round(col("cos_sim"), 4))
                                 .withColumn("rn", row_number().over(w))
                                 .filter(col("rn") === 1)
                                 .select(col("vec_id"), col("neighbor_id"), col("cos_r4"))
                             }),
    "q29_ann_ivf_topk"   -> ((s, d) => graft.sim.Ann.ivfTopK(s, d, k = 3)
                               .select(col("vec_id"), col("rank"), col("neighbor_id"))),
    "q30_media_features" -> ((s, d) => graft.multimodal.MultiModal.featureStats(s, 2000L)),
    "q41_cosine_neardup" -> ((s, d) => graft.sim.Ann.cosineNearDup(s, d, thresholdPct = 32)),
    "q43_gazetteer_geoparse" -> ((s, d) => {
                               // deployment's hot path: marker-less pages
                               // matched by place-name mention via the
                               // inverted-index token join (token-boundary
                               // semantics — 'tab' must NOT match 'table',
                               // 'spark nowhere' has a live first token but
                               // no full sequence)
                               import s.implicits._
                               val gaz = Seq(
                                 ("spark", 51.5, -0.12), ("table scan", 48.85, 2.35),
                                 ("merge fast", 40.71, -74.0), ("dup", 35.68, 139.69),
                                 ("tab", 1.0, 1.0), ("spark nowhere", 2.0, 2.0),
                                 ("zzz", 3.0, 3.0), ("order sort table", 10.0, 20.0))
                                 .toDF("place_name", "g_lat", "g_lon")
                               // keyCols = doc_id: the tie-break shuffle
                               // carries (doc_id, matched struct) only —
                               // page text never rides a shuffle
                               graft.web.Geocode.gazetteerMatch(
                                   Relational.t(s, d, "documents")
                                     .select(col("doc_id"), col("text")),
                                   gaz, keyCols = Seq("doc_id"))
                                 .select(col("doc_id"), col("place_name"),
                                   col("g_lat"), col("g_lon"))
                             }),
    "q47_gazetteer_distributed" -> ((s, d) => {
                               // q43's semantics through the FACT×FACT
                               // gazetteer path (broadcastDim = false): the
                               // first-token and n-gram verify joins run as
                               // shuffle joins — the planetary-gazetteer
                               // shape; same gazetteer, same oracle SQL
                               import s.implicits._
                               val gaz = Seq(
                                 ("spark", 51.5, -0.12), ("table scan", 48.85, 2.35),
                                 ("merge fast", 40.71, -74.0), ("dup", 35.68, 139.69),
                                 ("tab", 1.0, 1.0), ("spark nowhere", 2.0, 2.0),
                                 ("zzz", 3.0, 3.0), ("order sort table", 10.0, 20.0))
                                 .toDF("place_name", "g_lat", "g_lon")
                               graft.web.Geocode.gazetteerMatch(
                                   Relational.t(s, d, "documents")
                                     .select(col("doc_id"), col("text")),
                                   gaz, keyCols = Seq("doc_id"), broadcastDim = false)
                                 .select(col("doc_id"), col("place_name"),
                                   col("g_lat"), col("g_lon"))
                             }),
    "q48_cell_range_scan" -> ((s, d) => {
                               // spatial-prefix scan: tile the points at
                               // level 14 and keep only descendants of one
                               // level-4 ancestor via the contiguous
                               // BETWEEN range (the pushdown-able form of
                               // cell_parent(cell,4)=anc); the oracle
                               // rebuilds the level-14 interleave in SQL
                               // bit math and applies the same literal range
                               graft.functions.GeoFunctions.register(s)
                               synthPoints(s, d)
                                 .withColumn("cell", graft.functions.GeoFunctions
                                   .cell_of(col("lat"), col("lon"), 14))
                                 .filter(graft.functions.GeoFunctions
                                   .under_cell(col("cell"), scanAnc, 14))
                                 .groupBy("cell").agg(count(lit(1)).as("n"))
                             }),
    "q31_sessionize"     -> ((s, d) => Relational.sessionize(s, d)),
    "q32_tile_agg"       -> ((s, d) => {
                               // native codegen cell_of over deterministic
                               // per-customer coordinates; the oracle rebuilds
                               // the Z-order interleave in pure SQL bit math —
                               // an engine-independent check of the codec
                               graft.functions.GeoFunctions.register(s)
                               Relational.t(s, d, "customer")
                                 .withColumn("lat", (col("c_custkey") % 170).cast("double") - 85.0)
                                 .withColumn("lon", ((col("c_custkey") * 7) % 350).cast("double") - 175.0)
                                 .withColumn("cell",
                                   graft.functions.GeoFunctions.cell_of(col("lat"), col("lon"), 8))
                                 .groupBy("cell").agg(count(lit(1)).as("n"))
                             }),
    "q34_crossings"      -> ((s, d) => {
                               // J8 distance-0 spatial join on the synthetic
                               // world: which streets-as-linestrings cross an
                               // admin border. The rect world is closed-form,
                               // so the oracle rebuilds the crossing predicate
                               // in pure SQL over generate_series
                               import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
                               import s.implicits._
                               val cfg = graft.synth.SynthWorld.Config(seed = 42L, gridP = 2, gridC = 2)
                               val gf = new GeometryFactory()
                               val w = new org.locationtech.jts.io.WKBWriter()
                               val lines = (0 until 64).map { i =>
                                 // each line straddles a city/province/country
                                 // border at lon = 2, 4, 6 or 8
                                 val y = 40.25 + (i % 16) * 0.48
                                 val x0 = 1.5 + (i / 16) * 2.0
                                 (i.toLong, w.write(gf.createLineString(Array(
                                   new Coordinate(x0, y), new Coordinate(x0 + 1.0, y)))))
                               }.toDF("line_id", "wkb")
                               graft.spatial.SpatialOps.crossings(
                                 s, lines, graft.web.Flagship.boundaries(cfg), level = 11)
                             }),
    "q46_crossings_distributed" -> ((s, d) => {
                               // J8's fact×fact shape: boundary rings as a
                               // TABLE through the cell-cover shuffle join
                               // (clipped ring/line segments as payload);
                               // same lines + zones as q34, same oracle SQL
                               import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
                               import s.implicits._
                               val cfg = graft.synth.SynthWorld.Config(seed = 42L, gridP = 2, gridC = 2)
                               val gf = new GeometryFactory()
                               val w = new org.locationtech.jts.io.WKBWriter()
                               val lines = (0 until 64).map { i =>
                                 val y = 40.25 + (i % 16) * 0.48
                                 val x0 = 1.5 + (i / 16) * 2.0
                                 (i.toLong, w.write(gf.createLineString(Array(
                                   new Coordinate(x0, y), new Coordinate(x0 + 1.0, y)))))
                               }.toDF("line_id", "wkb")
                               val zones = graft.web.Flagship.boundaries(cfg)
                                 .map(b => (b.id, b.wkb)).toDF("boundary_id", "wkb")
                               graft.spatial.SpatialOps.crossingsDistributed(
                                 s, lines, zones, level = 11)
                             }),
    "q33_salted_agg"     -> ((s, d) => {
                               // explicit skew handling: two-phase salted agg
                               // must equal the plain GROUP BY (the oracle)
                               val li = Relational.t(s, d, "lineitem")
                               graft.ops.Skew.saltedAgg(li,
                                 col("l_returnflag"),
                                 floor(col("l_quantity") * 100).cast("long"),
                                 salts = 16, spreadOn = col("l_orderkey"))
                                 .withColumnRenamed("key", "l_returnflag")
                             }),
    "q35_pip_containment" -> ((s, d) => {
                               // J7 north-star containment: deterministic
                               // customer-derived points flow through the REAL
                               // spatial path (cell-cover prejoin + JTS PIP in
                               // Geocode.assign); the oracle computes deepest
                               // containment closed-form over the rect world
                               val pts = synthPoints(s, d)
                                 .withColumn("url", col("point_id").cast("string"))
                                 .withColumn("warc_ts",
                                   lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
                                 .withColumn("lang", lit("en"))
                               val cfg = spatialCfg
                               val bld = graft.synth.SynthWorld.buildings(cfg)
                                 .map(b => (b.id, b.lat, b.lon))
                               graft.web.Geocode.assign(s, pts,
                                   graft.web.Flagship.boundaries(cfg), bld,
                                   coverLevel = 10, tileLevel = 14, snapLevel = 12)
                                 .select(col("url").cast("long").as("point_id"),
                                   col("boundary_id"), col("admin_level"), col("admin_chain"))
                             }),
    "q39_salted_join"    -> ((s, d) => {
                               // skew-safe fact↔dim equi-join: probe side
                               // salted, build side replicated per salt —
                               // must equal the plain join (the oracle)
                               val li = Relational.t(s, d, "lineitem")
                                 .select(col("l_orderkey").as("orderkey"),
                                   floor(col("l_quantity") * 100).cast("long").as("qty_cents"))
                               val o = Relational.t(s, d, "orders")
                                 .select(col("o_orderkey").as("orderkey"),
                                   col("o_orderpriority"))
                               graft.ops.Skew.saltedJoin(li, o, "orderkey",
                                   salts = 16, spreadOn = col("qty_cents"))
                                 .groupBy("o_orderpriority")
                                 .agg(count(lit(1)).as("n"),
                                   sum(col("qty_cents")).as("total"))
                             }),
    "q37_zonal_stats"    -> ((s, d) => {
                               // raster↔vector: rasterize the points at
                               // level 8, then per-zone (all 21 rects,
                               // overlapping) count+sum of cells whose
                               // centroid the zone contains — the cover join
                               // on cell, broadcast, + PIP refine
                               val raster = graft.spatial.Raster.rasterize(
                                 s, synthPoints(s, d), level = 8)
                               graft.spatial.Raster.zonalStats(s, raster,
                                 graft.web.Flagship.boundaries(spatialCfg), coverLevel = 8)
                             }),
    "q38_vectorize_cc"   -> ((s, d) => {
                               // raster→vector: 4-neighbor connected
                               // components of the occupied level-12 cells,
                               // iterative min-label propagation; the oracle
                               // replays it as a recursive-CTE reachability
                               // closure
                               val cells = synthPoints(s, d).select(
                                 floor((col("lon") + 180) / 360 * 4096).cast("long").as("i"),
                                 floor((col("lat") + 90) / 180 * 4096).cast("long").as("j"))
                               graft.spatial.Raster.connectedComponents(s, cells, gridN = 4096L)
                             }),
    "q42_pip_distributed" -> ((s, d) => {
                               // J7's fact×fact shape: zones as a TABLE
                               // (not broadcast), uniform cell cover join +
                               // per-task JTS refine; oracle = bbox SQL over
                               // the closed-form rect world (all containing
                               // zones, not just the deepest)
                               import s.implicits._
                               val zones = graft.web.Flagship.boundaries(spatialCfg)
                                 .map(b => (b.id, b.wkb)).toDF("boundary_id", "wkb")
                               graft.spatial.DistributedPip.containsJoin(
                                   s, synthPoints(s, d).withColumnRenamed("point_id", "id"),
                                   zones, level = 8)
                                 .select(col("point_id"), col("boundary_id"))
                             }),
    "q45_zonal_distributed" -> ((s, d) => {
                               // q37's semantics with zones as a TABLE (not
                               // broadcast): centroid containment through the
                               // DistributedPip cover machinery, raster value
                               // riding the join as payload — same oracle SQL
                               import s.implicits._
                               val raster = graft.spatial.Raster.rasterize(
                                 s, synthPoints(s, d), level = 8)
                               val zones = graft.web.Flagship.boundaries(spatialCfg)
                                 .map(b => (b.id, b.wkb)).toDF("boundary_id", "wkb")
                               graft.spatial.Raster.zonalStatsDistributed(
                                 s, raster, zones, coverLevel = 8)
                             }),
    "q36_knn_snap"       -> ((s, d) => {
                               // J9 kNN snap through the DISTRIBUTED ring-join
                               // path (fact×fact shape); oracle = brute-force
                               // haversine argmin over the closed-form
                               // building grid
                               import s.implicits._
                               val cfg = spatialCfg
                               val targets = graft.synth.SynthWorld.buildings(cfg)
                                 .map(b => (b.id, b.lat, b.lon))
                                 .toDF("tid", "tlat", "tlon")
                               graft.spatial.DistributedKnn.knn(s,
                                   synthPoints(s, d).withColumnRenamed("point_id", "id"),
                                   targets, level = 12, k = 1)
                                 .select(col("id").as("point_id"), col("nearest_tid"),
                                   floor(col("nearest_dist_m")).cast("long").as("dist_m"))
                             }),
    "q44_knn_topk"       -> ((s, d) => {
                               // J9 generalized: top-3 neighbors through the
                               // SAME distributed ring-join loop (pool of k,
                               // k-th-distance termination bound); oracle =
                               // the q36 SQL with rn <= 3
                               import s.implicits._
                               val cfg = spatialCfg
                               val targets = graft.synth.SynthWorld.buildings(cfg)
                                 .map(b => (b.id, b.lat, b.lon))
                                 .toDF("tid", "tlat", "tlon")
                               graft.spatial.DistributedKnn.knn(s,
                                   synthPoints(s, d).withColumnRenamed("point_id", "id"),
                                   targets, level = 12, k = 3)
                                 .select(col("id").as("point_id"), col("rank"),
                                   col("nearest_tid"),
                                   floor(col("nearest_dist_m")).cast("long").as("dist_m"))
                             }),
  )

  /** The closed-form rect world every spatial oracle is checked against. */
  private def spatialCfg = graft.synth.SynthWorld.Config(seed = 42L, gridP = 2, gridC = 2)

  /** Deterministic in-domain points from customer keys: milli-degree lattice
    * offset by 0.0005°, so points are never on a boundary edge and never on
    * a building-grid perpendicular bisector (both engines compute identical
    * doubles: integer mod, one correctly-rounded division, two adds). */
  private def synthPoints(s: SparkSession, d: String): DataFrame =
    Relational.t(s, d, "customer").select(
      col("c_custkey").as("point_id"),
      (lit(40.0) + (col("c_custkey") * 13 % 7919) / 1000.0 + 0.0005).as("lat"),
      ((col("c_custkey") * 31 % 7919) / 1000.0 + 0.0005).as("lon"))

  /** The level-4 ancestor cell q48 scans under, and its contiguous
    * level-14 descendant range (computed once; the literals appear in both
    * the Spark predicate and the oracle SQL). */
  private val scanAnc: Long = graft.cells.CellIndex.cellOf(44.0, 4.0, 4)

  /** q48 oracle: level-14 Z-order interleave in portable SQL bit math (the
    * q32 engine-independent codec check, two levels deeper) + the same
    * literal BETWEEN range the Spark side pushes down. */
  private def cellRangeScanSql: String = {
    val z = (0 until 14).map(k =>
      s"(((i >> $k) & 1) << ${2 * k}) + (((j >> $k) & 1) << ${2 * k + 1})").mkString(" + ")
    val lo = graft.cells.CellIndex.rangeMinAt(scanAnc, 14)
    val hi = graft.cells.CellIndex.rangeMaxAt(scanAnc, 14)
    s"""WITH pts AS (
         SELECT 40.0 + ((c_custkey * 13) % 7919) / 1000.0 + 0.0005 AS lat,
                ((c_custkey * 31) % 7919) / 1000.0 + 0.0005 AS lon
         FROM customer
       ), ij AS (
         SELECT CAST(FLOOR((lon + 180) / 360 * 16384) AS BIGINT) AS i,
                CAST(FLOOR((lat + 90) / 180 * 16384) AS BIGINT) AS j
         FROM pts
       ), cells AS (
         SELECT (($z) << 35) | 14 AS cell FROM ij
       ) SELECT cell, count(*) AS n FROM cells
         WHERE cell BETWEEN $lo AND $hi GROUP BY 1"""
  }

  /** Z-order interleave at level 8, spelled out in portable SQL bit math —
    * mirrors CellIndex.fromIJ exactly. */
  private def zorderSql: String = {
    val z = (0 until 8).map(k =>
      s"(((i >> $k) & 1) << ${2 * k}) + (((j >> $k) & 1) << ${2 * k + 1})").mkString(" + ")
    s"""WITH pts AS (
         SELECT CAST(c_custkey % 170 AS DOUBLE) - 85.0 AS lat,
                CAST((c_custkey * 7) % 350 AS DOUBLE) - 175.0 AS lon
         FROM customer
       ), ij AS (
         SELECT CAST(FLOOR((lon + 180) / 360 * 256) AS BIGINT) AS i,
                CAST(FLOOR((lat + 90) / 180 * 256) AS BIGINT) AS j
         FROM pts
       ) SELECT (($z) << 47) | 8 AS cell, count(*) AS n FROM ij GROUP BY 1"""
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_union_project" ->
      """SELECT 'customer' AS kind, c_custkey AS key, c_name AS name FROM customer
         UNION ALL SELECT 'supplier', s_suppkey, s_name FROM supplier
         UNION ALL SELECT 'part', p_partkey, p_name FROM part""",
    "q02_regex_filter" ->
      """SELECT event_id, event_type FROM events
         WHERE regexp_matches(event_type, '^(click|view)(|_link)$')""",
    "q03_classify" ->
      """SELECT p_partkey,
                CASE WHEN p_size > 40 THEN 'building'
                     WHEN p_type LIKE '%BRASS%' THEN 'street'
                     WHEN p_size < 5 THEN 'outer_name'
                     ELSE 'boundary' END AS class
         FROM part""",
    "q04_coalesce_name" ->
      """SELECT p_partkey,
                coalesce(CASE WHEN p_size < 10 THEN NULL ELSE p_brand END,
                         concat_ws(' ', p_type, p_name)) AS display
         FROM part""",
    "q05_group_collect" ->
      """SELECT o_custkey,
                array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
                count(*) AS n_orders
         FROM orders GROUP BY o_custkey""",
    "q06_invert_map" ->
      """SELECT n_regionkey,
                array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations
         FROM nation GROUP BY n_regionkey""",
    "q07_having_distinct" ->
      """SELECT o_custkey, count(DISTINCT o_orderpriority) AS n_distinct
         FROM orders GROUP BY o_custkey HAVING count(DISTINCT o_orderpriority) > 1""",
    "q08_window_dedup" ->
      """SELECT o_custkey, o_orderkey AS latest_orderkey FROM (
           SELECT o_custkey, o_orderkey,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
           FROM orders) WHERE rn = 1""",
    "q09_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
    "q10_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
    "q11_quantified" ->
      """SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
         HAVING bool_and(l_quantity < 45)
            AND bool_or(l_linenumber = 1 AND l_discount > 0.01)""",
    "q12_broadcast_lookup" ->
      """SELECT r_name, n_name, count(*) AS n_customers
         FROM customer JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",
    "q13_closure" ->
      """WITH RECURSIVE edges(child, parent) AS (
           SELECT 'c' || CAST(c_custkey AS VARCHAR), 'n' || CAST(c_nationkey AS VARCHAR) FROM customer
           UNION ALL
           SELECT 'n' || CAST(n_nationkey AS VARCHAR), 'r' || CAST(n_regionkey AS VARCHAR) FROM nation
         ), anc(child, ancestor) AS (
           SELECT child, parent FROM edges
           UNION
           SELECT a.child, e.parent FROM anc a JOIN edges e ON a.ancestor = e.child
         ) SELECT child, ancestor FROM anc""",
    "q14_stats_counts" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    "q15_cast_bucket" ->
      """SELECT CAST(FLOOR(value / 100) AS INT) AS bucket, count(*) AS n
         FROM events GROUP BY 1""",
    "q16_topk_per_group" ->
      """SELECT o_orderpriority, rk, o_orderkey FROM (
           SELECT o_orderpriority, o_orderkey,
                  row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
           FROM orders) WHERE rk <= 3""",
    "q17_tumbling_agg" ->
      """SELECT date_trunc('hour', ts) AS hour, count(*) AS n,
                CAST(sum(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM events GROUP BY 1""",
    "q18_union_except" ->
      """SELECT o_custkey FROM (
           SELECT o_custkey FROM orders WHERE o_totalprice > 100000
           UNION SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
         EXCEPT SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'""",
    "q19_token_count" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         FROM documents""",
    "q20_exact_dedup" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
         FROM documents GROUP BY 1""",
    "q21_quality_score" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(FLOOR(n_chars * 100 / len(string_split(text, ' '))) AS BIGINT) AS mean_tok_len_x100,
                CAST(FLOOR(len(list_filter(string_split(text, ' '), x -> x = 'the')) * 10000
                           / len(string_split(text, ' '))) AS BIGINT) AS stopword_bp
         FROM documents""",
    "q22_lang_distribution" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY lang""",
    "q23_langid_hits" ->
      """SELECT doc_id, lang AS lang_true,
                CAST(len(list_filter(string_split(text, ' '),
                     x -> x = 'the' OR x = 'a' OR x = 'of')) AS BIGINT) AS en_hits,
                CAST(len(list_filter(string_split(text, ' '),
                     x -> x = 'der' OR x = 'und' OR x = 'die')) AS BIGINT) AS de_hits,
                CAST(len(list_filter(string_split(text, ' '),
                     x -> x = 'le' OR x = 'la' OR x = 'et')) AS BIGINT) AS fr_hits
         FROM documents""",
    // q24_fingerprint: xxhash64-based rolling hash has no DuckDB equivalent —
    // rows-only check (SURVEY.md §2.7 extension functions).
    // BPE pre-tokenization count; the pattern is character-classes-only so
    // Java regex and RE2 agree
    "q50_bpe_tokens" ->
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                     AS BIGINT) AS n_bpe_tokens
         FROM documents""",
    // keep/reason from the same integer-math signals as q21; CASE order =
    // the Spark when-chain order (first failing rule wins)
    "q49_quality_filter" ->
      """SELECT doc_id, reason IS NULL AS keep, reason FROM (
           SELECT doc_id,
                  CASE WHEN len(string_split(text, ' ')) < 30 THEN 'too_short'
                       WHEN FLOOR(n_chars * 100 / len(string_split(text, ' '))) < 300
                         THEN 'short_tokens'
                       WHEN FLOOR(n_chars * 100 / len(string_split(text, ' '))) > 900
                         THEN 'long_tokens'
                       WHEN FLOOR(len(list_filter(string_split(text, ' '), x -> x = 'the'))
                                  * 10000 / len(string_split(text, ' '))) < 100
                         THEN 'low_stopword'
                  END AS reason
           FROM documents)""",
    "q25_jaccard_neardup" ->
      """WITH ts AS (
           SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
           FROM documents WHERE doc_id < 1000
         ), sz AS (SELECT doc_id, count(*) AS n FROM ts GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM ts a JOIN ts b ON a.token = b.token AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, inter, sa.n AS size_a, sb.n AS size_b
         FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         WHERE inter * 100 >= (sa.n + sb.n - inter) * 80""",
    // n-gram shingles instead of word tokens; same inverted-index shape as
    // q25 (the df cap never binds at ≤1000 docs, so the SQL omits it)
    "q40_ngram_jaccard" ->
      """WITH ts AS (
           SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 3) AS gram
           FROM (SELECT doc_id, text, unnest(range(1, length(text) - 1)) AS i
                 FROM documents WHERE doc_id < 1000 AND length(text) >= 3)
         ), sz AS (SELECT doc_id, count(*) AS n FROM ts GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM ts a JOIN ts b ON a.gram = b.gram AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, inter, sa.n AS size_a, sb.n AS size_b
         FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
         WHERE inter * 100 >= (sa.n + sb.n - inter) * 80""",
    // q26/q27/q29/q30: LSH band hashing + xxhash64/simhash internals have no
    // DuckDB equivalent — rows-only checks; exactness is covered by the
    // ScalaTest recall specs against brute force (NearDupSpec/AnnSpec).
    // CAST to DOUBLE[]: DuckDB's list_cosine_similarity on FLOAT[] computes
    // in single precision — a cosine sitting on a 4th-decimal rounding
    // boundary (seen at sf0.001: pair 27/380 at 0.34785) then rounds the
    // other way than our float64 dot product
    "q28_cosine_top1" ->
      """SELECT vec_id, neighbor_id, cos_r4 FROM (
           SELECT a.vec_id, b.vec_id AS neighbor_id,
                  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])), 4) AS cos_r4,
                  row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                          CAST(b.embedding AS DOUBLE[])), 4) DESC,
                             b.vec_id ASC) AS rn
           FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         ) WHERE rn = 1""",
    // embedding-cosine near-dup pairs: exact bounded path (the scale path is
    // exact=false via IVF candidates, spec-tested); DOUBLE[] cast per the
    // q28 note (FLOAT[] cosine rounds differently at 4th-decimal boundaries)
    "q41_cosine_neardup" ->
      """SELECT id_a, id_b, cos_r4 FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])), 4) AS cos_r4
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         ) WHERE cos_r4 >= 0.32""",
    // token-boundary gazetteer match: name's space-joined token sequence
    // occurs in the page's \s+-token stream; the oracle mirrors the
    // tokenizer by collapsing whitespace runs to single spaces first;
    // canonically-first (min place_name) entry wins per page
    "q43_gazetteer_geoparse" ->
      """WITH gaz(place_name, g_lat, g_lon) AS (
           VALUES ('spark', 51.5, -0.12), ('table scan', 48.85, 2.35),
                  ('merge fast', 40.71, -74.0), ('dup', 35.68, 139.69),
                  ('tab', 1.0, 1.0), ('spark nowhere', 2.0, 2.0), ('zzz', 3.0, 3.0),
                  ('order sort table', 10.0, 20.0)
         ), m AS (
           SELECT d.doc_id, g.place_name, g.g_lat, g.g_lon
           FROM documents d JOIN gaz g
             ON contains(' ' || regexp_replace(d.text, '\s+', ' ', 'g') || ' ',
                         ' ' || g.place_name || ' ')
         )
         SELECT doc_id, place_name,
                CAST(g_lat AS DOUBLE) AS g_lat, CAST(g_lon AS DOUBLE) AS g_lon
         FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                            ORDER BY place_name) AS rn FROM m)
         WHERE rn = 1""",
    // q47 = the q43 oracle verbatim: same semantics, the Spark side routes
    // through the shuffled (broadcastDim=false) gazetteer joins
    "q47_gazetteer_distributed" ->
      """WITH gaz(place_name, g_lat, g_lon) AS (
           VALUES ('spark', 51.5, -0.12), ('table scan', 48.85, 2.35),
                  ('merge fast', 40.71, -74.0), ('dup', 35.68, 139.69),
                  ('tab', 1.0, 1.0), ('spark nowhere', 2.0, 2.0), ('zzz', 3.0, 3.0),
                  ('order sort table', 10.0, 20.0)
         ), m AS (
           SELECT d.doc_id, g.place_name, g.g_lat, g.g_lon
           FROM documents d JOIN gaz g
             ON contains(' ' || regexp_replace(d.text, '\s+', ' ', 'g') || ' ',
                         ' ' || g.place_name || ' ')
         )
         SELECT doc_id, place_name,
                CAST(g_lat AS DOUBLE) AS g_lat, CAST(g_lon AS DOUBLE) AS g_lon
         FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                            ORDER BY place_name) AS rn FROM m)
         WHERE rn = 1""",
    "q31_sessionize" ->
      """WITH marked AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                       THEN 1 ELSE 0 END AS new_session
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ), sess AS (
           SELECT user_id, ts,
                  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
           FROM marked)
         SELECT user_id, session_seq, count(*) AS n_events,
                CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us
         FROM sess GROUP BY user_id, session_seq""",
    "q32_tile_agg" -> zorderSql,
    "q48_cell_range_scan" -> cellRangeScanSql,
    "q33_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n,
                CAST(sum(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS total
         FROM lineitem GROUP BY l_returnflag""",
    "q34_crossings" ->
      """WITH lines AS (
           SELECT i AS line_id, 40.25 + (i % 16) * 0.48 AS y,
                  1.5 + (i // 16) * 2.0 AS xa
           FROM generate_series(0,63) t(i)
         ), rects AS (
           SELECT CAST(1 AS BIGINT) AS boundary_id, 0.0 AS x0, 40.0 AS y0, 8.0 AS x1, 48.0 AS y1
           UNION ALL
           SELECT 100+pi*2+pj, pi*4.0, 40+pj*4.0, pi*4.0+4, 40+pj*4.0+4
           FROM generate_series(0,1) a(pi), generate_series(0,1) b(pj)
           UNION ALL
           SELECT (100+pi*2+pj)*1000 + ci*2+cj, pi*4.0+ci*2, 40+pj*4.0+cj*2,
                  pi*4.0+ci*2+2, 40+pj*4.0+cj*2+2
           FROM generate_series(0,1) a(pi), generate_series(0,1) b(pj),
                generate_series(0,1) c(ci), generate_series(0,1) d(cj)
         )
         SELECT l.line_id, r.boundary_id
         FROM lines l, rects r
         WHERE l.y > r.y0 AND l.y < r.y1
           AND ((r.x0 >= l.xa AND r.x0 <= l.xa+1.0) OR (r.x1 >= l.xa AND r.x1 <= l.xa+1.0))""",
    // q46 computes the SAME result as q34 through the fact×fact path
    // (rings as a table, cover-cell shuffle join) — one oracle SQL, two
    // operator implementations under test
    "q46_crossings_distributed" ->
      """WITH lines AS (
           SELECT i AS line_id, 40.25 + (i % 16) * 0.48 AS y,
                  1.5 + (i // 16) * 2.0 AS xa
           FROM generate_series(0,63) t(i)
         ), rects AS (
           SELECT CAST(1 AS BIGINT) AS boundary_id, 0.0 AS x0, 40.0 AS y0, 8.0 AS x1, 48.0 AS y1
           UNION ALL
           SELECT 100+pi*2+pj, pi*4.0, 40+pj*4.0, pi*4.0+4, 40+pj*4.0+4
           FROM generate_series(0,1) a(pi), generate_series(0,1) b(pj)
           UNION ALL
           SELECT (100+pi*2+pj)*1000 + ci*2+cj, pi*4.0+ci*2, 40+pj*4.0+cj*2,
                  pi*4.0+ci*2+2, 40+pj*4.0+cj*2+2
           FROM generate_series(0,1) a(pi), generate_series(0,1) b(pj),
                generate_series(0,1) c(ci), generate_series(0,1) d(cj)
         )
         SELECT l.line_id, r.boundary_id
         FROM lines l, rects r
         WHERE l.y > r.y0 AND l.y < r.y1
           AND ((r.x0 >= l.xa AND r.x0 <= l.xa+1.0) OR (r.x1 >= l.xa AND r.x1 <= l.xa+1.0))""",
    "q35_pip_containment" ->
      """WITH pts AS (
           SELECT c_custkey AS point_id,
                  40.0 + ((c_custkey * 13) % 7919) / 1000.0 + 0.0005 AS lat,
                  ((c_custkey * 31) % 7919) / 1000.0 + 0.0005 AS lon
           FROM customer
         ), cell AS (
           SELECT point_id,
                  CAST(FLOOR(lon / 4) AS BIGINT) AS pi,
                  CAST(FLOOR((lat - 40) / 4) AS BIGINT) AS pj,
                  CAST(FLOOR((lon - FLOOR(lon / 4) * 4) / 2) AS BIGINT) AS ci,
                  CAST(FLOOR((lat - 40 - FLOOR((lat - 40) / 4) * 4) / 2) AS BIGINT) AS cj
           FROM pts
         )
         SELECT point_id,
                (100 + pi*2 + pj) * 1000 + ci*2 + cj AS boundary_id,
                8 AS admin_level,
                concat('Synthia>Province-', pi, '-', pj,
                       '>City-', 100 + pi*2 + pj, '-', ci, '-', cj) AS admin_chain
         FROM cell""",
    "q39_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n,
                CAST(sum(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS total
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    "q37_zonal_stats" ->
      """WITH pts AS (
           SELECT 40.0 + ((c_custkey * 13) % 7919) / 1000.0 + 0.0005 AS lat,
                  ((c_custkey * 31) % 7919) / 1000.0 + 0.0005 AS lon
           FROM customer
         ), cells AS (
           SELECT CAST(FLOOR((lon + 180) / 360 * 256) AS BIGINT) AS i,
                  CAST(FLOOR((lat + 90) / 180 * 256) AS BIGINT) AS j,
                  count(*) AS v
           FROM pts GROUP BY 1, 2
         ), cent AS (
           SELECT v, (i + 0.5) / 256 * 360 - 180 AS clon,
                  (j + 0.5) / 256 * 180 - 90 AS clat
           FROM cells
         ), rects AS (
           SELECT CAST(1 AS BIGINT) AS boundary_id, 0.0 AS x0, 40.0 AS y0, 8.0 AS x1, 48.0 AS y1
           UNION ALL
           SELECT 100+pi*2+pj, pi*4.0, 40+pj*4.0, pi*4.0+4, 40+pj*4.0+4
           FROM generate_series(0,1) a(pi), generate_series(0,1) b(pj)
           UNION ALL
           SELECT (100+pi*2+pj)*1000 + ci*2+cj, pi*4.0+ci*2, 40+pj*4.0+cj*2,
                  pi*4.0+ci*2+2, 40+pj*4.0+cj*2+2
           FROM generate_series(0,1) a(pi), generate_series(0,1) b(pj),
                generate_series(0,1) c(ci), generate_series(0,1) d(cj)
         )
         SELECT r.boundary_id, count(*) AS n_cells, CAST(sum(c.v) AS BIGINT) AS sum_v
         FROM cent c JOIN rects r
           ON c.clat > r.y0 AND c.clat < r.y1 AND c.clon > r.x0 AND c.clon < r.x1
         GROUP BY 1""",
    // q45 computes the SAME result as q37 through the fact×fact path
    // (zones as a table, DistributedPip cover join) — one oracle SQL, two
    // operator implementations under test
    "q45_zonal_distributed" ->
      """WITH pts AS (
           SELECT 40.0 + ((c_custkey * 13) % 7919) / 1000.0 + 0.0005 AS lat,
                  ((c_custkey * 31) % 7919) / 1000.0 + 0.0005 AS lon
           FROM customer
         ), cells AS (
           SELECT CAST(FLOOR((lon + 180) / 360 * 256) AS BIGINT) AS i,
                  CAST(FLOOR((lat + 90) / 180 * 256) AS BIGINT) AS j,
                  count(*) AS v
           FROM pts GROUP BY 1, 2
         ), cent AS (
           SELECT v, (i + 0.5) / 256 * 360 - 180 AS clon,
                  (j + 0.5) / 256 * 180 - 90 AS clat
           FROM cells
         ), rects AS (
           SELECT CAST(1 AS BIGINT) AS boundary_id, 0.0 AS x0, 40.0 AS y0, 8.0 AS x1, 48.0 AS y1
           UNION ALL
           SELECT 100+pi*2+pj, pi*4.0, 40+pj*4.0, pi*4.0+4, 40+pj*4.0+4
           FROM generate_series(0,1) a(pi), generate_series(0,1) b(pj)
           UNION ALL
           SELECT (100+pi*2+pj)*1000 + ci*2+cj, pi*4.0+ci*2, 40+pj*4.0+cj*2,
                  pi*4.0+ci*2+2, 40+pj*4.0+cj*2+2
           FROM generate_series(0,1) a(pi), generate_series(0,1) b(pj),
                generate_series(0,1) c(ci), generate_series(0,1) d(cj)
         )
         SELECT r.boundary_id, count(*) AS n_cells, CAST(sum(c.v) AS BIGINT) AS sum_v
         FROM cent c JOIN rects r
           ON c.clat > r.y0 AND c.clat < r.y1 AND c.clon > r.x0 AND c.clon < r.x1
         GROUP BY 1""",
    "q38_vectorize_cc" ->
      """WITH RECURSIVE pts AS (
           SELECT 40.0 + ((c_custkey * 13) % 7919) / 1000.0 + 0.0005 AS lat,
                  ((c_custkey * 31) % 7919) / 1000.0 + 0.0005 AS lon
           FROM customer
         ), ids AS (
           SELECT DISTINCT CAST(FLOOR((lon + 180) / 360 * 4096) AS BIGINT) AS i,
                  CAST(FLOOR((lat + 90) / 180 * 4096) AS BIGINT) AS j
           FROM pts
         ), keyed AS (
           SELECT i, j, i * 4096 + j AS key FROM ids
         ), edges AS (
           SELECT a.key AS src, b.key AS dst
           FROM keyed a JOIN keyed b
             ON (abs(a.i - b.i) + abs(a.j - b.j)) = 1
         ), reach(key, r) AS (
           SELECT key, key FROM keyed
           UNION
           SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.key
         )
         SELECT k.i, k.j, m.comp
         FROM keyed k JOIN (SELECT key, min(r) AS comp FROM reach GROUP BY key) m
           ON m.key = k.key""",
    "q42_pip_distributed" ->
      """WITH pts AS (
           SELECT c_custkey AS point_id,
                  40.0 + ((c_custkey * 13) % 7919) / 1000.0 + 0.0005 AS lat,
                  ((c_custkey * 31) % 7919) / 1000.0 + 0.0005 AS lon
           FROM customer
         ), rects AS (
           SELECT CAST(1 AS BIGINT) AS boundary_id, 0.0 AS x0, 40.0 AS y0, 8.0 AS x1, 48.0 AS y1
           UNION ALL
           SELECT 100+pi*2+pj, pi*4.0, 40+pj*4.0, pi*4.0+4, 40+pj*4.0+4
           FROM generate_series(0,1) a(pi), generate_series(0,1) b(pj)
           UNION ALL
           SELECT (100+pi*2+pj)*1000 + ci*2+cj, pi*4.0+ci*2, 40+pj*4.0+cj*2,
                  pi*4.0+ci*2+2, 40+pj*4.0+cj*2+2
           FROM generate_series(0,1) a(pi), generate_series(0,1) b(pj),
                generate_series(0,1) c(ci), generate_series(0,1) d(cj)
         )
         SELECT p.point_id, r.boundary_id
         FROM pts p JOIN rects r
           ON p.lat > r.y0 AND p.lat < r.y1 AND p.lon > r.x0 AND p.lon < r.x1""",
    "q36_knn_snap" ->
      """WITH pts AS (
           SELECT c_custkey AS point_id,
                  40.0 + ((c_custkey * 13) % 7919) / 1000.0 + 0.0005 AS lat,
                  ((c_custkey * 31) % 7919) / 1000.0 + 0.0005 AS lon
           FROM customer
         ), cities AS (
           SELECT (100+pi*2+pj)*1000 + ci*2 + cj AS cid,
                  pi*4.0 + ci*2 AS x0, 40 + pj*4.0 + cj*2 AS y0
           FROM generate_series(0,1) a(pi), generate_series(0,1) b(pj),
                generate_series(0,1) c(ci), generate_series(0,1) d(cj)
         ), bld AS (
           SELECT cid*10000 + si*100 + bi AS bid,
                  y0 + 2.0 * (si + 0.5) / 10 AS blat,
                  x0 + 2.0 * (bi + 0.5) / 8 AS blon
           FROM cities, generate_series(0,9) s(si), generate_series(0,7) t(bi)
         ), d AS (
           SELECT p.point_id, b.bid,
                  2 * 6371008.8 * asin(least(1.0, sqrt(
                    sin((radians(b.blat) - radians(p.lat)) / 2)
                      * sin((radians(b.blat) - radians(p.lat)) / 2)
                    + cos(radians(p.lat)) * cos(radians(b.blat))
                      * sin(radians(b.blon - p.lon) / 2)
                      * sin(radians(b.blon - p.lon) / 2)))) AS dist
           FROM pts p, bld b
         )
         SELECT point_id, bid AS nearest_tid, CAST(FLOOR(dist) AS BIGINT) AS dist_m
         FROM (SELECT point_id, bid, dist,
                      row_number() OVER (PARTITION BY point_id
                                         ORDER BY dist ASC, bid ASC) AS rn
               FROM d) WHERE rn = 1""",
    // q44 = the q36 oracle with rn <= 3: top-3 ranked neighbors per point
    "q44_knn_topk" ->
      """WITH pts AS (
           SELECT c_custkey AS point_id,
                  40.0 + ((c_custkey * 13) % 7919) / 1000.0 + 0.0005 AS lat,
                  ((c_custkey * 31) % 7919) / 1000.0 + 0.0005 AS lon
           FROM customer
         ), cities AS (
           SELECT (100+pi*2+pj)*1000 + ci*2 + cj AS cid,
                  pi*4.0 + ci*2 AS x0, 40 + pj*4.0 + cj*2 AS y0
           FROM generate_series(0,1) a(pi), generate_series(0,1) b(pj),
                generate_series(0,1) c(ci), generate_series(0,1) d(cj)
         ), bld AS (
           SELECT cid*10000 + si*100 + bi AS bid,
                  y0 + 2.0 * (si + 0.5) / 10 AS blat,
                  x0 + 2.0 * (bi + 0.5) / 8 AS blon
           FROM cities, generate_series(0,9) s(si), generate_series(0,7) t(bi)
         ), d AS (
           SELECT p.point_id, b.bid,
                  2 * 6371008.8 * asin(least(1.0, sqrt(
                    sin((radians(b.blat) - radians(p.lat)) / 2)
                      * sin((radians(b.blat) - radians(p.lat)) / 2)
                    + cos(radians(p.lat)) * cos(radians(b.blat))
                      * sin(radians(b.blon - p.lon) / 2)
                      * sin(radians(b.blon - p.lon) / 2)))) AS dist
           FROM pts p, bld b
         )
         SELECT point_id, rn AS rank, bid AS nearest_tid, CAST(FLOOR(dist) AS BIGINT) AS dist_m
         FROM (SELECT point_id, bid, dist,
                      row_number() OVER (PARTITION BY point_id
                                         ORDER BY dist ASC, bid ASC) AS rn
               FROM d) WHERE rn <= 3""",
  )
}
