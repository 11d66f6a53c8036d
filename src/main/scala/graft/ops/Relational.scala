package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.truncated

/** Relational operator library — each public method is one operator from
  * SURVEY.md §2, expressed over the harness TPC-H-ish tables so the driver
  * can cross-check it against DuckDB (SparkEntry.oracleSql).
  *
  * Design notes (100 TB posture):
  *  - every aggregation is a plain hash aggregate (partial+final from
  *    Catalyst); collected sets are bounded per group before collecting;
  *  - dimension-sized sides of joins are broadcast explicitly;
  *  - dedup uses window-rank, never dropDuplicates on unbounded state;
  *  - iterative closure loops truncate each pass's plan and free its cache
  *    before returning.
  */
object Relational {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // ── P1: project + union of element kinds (hierarchy.ml:74-97) ──
  def unionProject(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
      .select(lit("customer").as("kind"), col("c_custkey").as("key"), col("c_name").as("name"))
    val s = t(spark, dir, "supplier")
      .select(lit("supplier").as("kind"), col("s_suppkey").as("key"), col("s_name").as("name"))
    val p = t(spark, dir, "part")
      .select(lit("part").as("kind"), col("p_partkey").as("key"), col("p_name").as("name"))
    c.unionByName(s).unionByName(p)
  }

  // ── P5: street-class regex filter (query-raw.overpassql:40-41) ──
  def regexFilter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .filter(col("event_type").rlike("^(click|view)(|_link)$"))
      .select(col("event_id"), col("event_type"))

  // ── P7: 4-way classification dispatch (hierarchy.ml:107-176) ──
  def classify(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part").select(
      col("p_partkey"),
      when(col("p_size") > 40, lit("building"))
        .when(col("p_type").contains("BRASS"), lit("street"))
        .when(col("p_size") < 5, lit("outer_name"))
        .otherwise(lit("boundary")).as("class"))

  // ── F2/F3: coalesce display-name chain (hierarchy.ml:117-127,160-167) ──
  def coalesceName(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part").select(
      col("p_partkey"),
      coalesce(
        when(col("p_size") < 10, lit(null)).otherwise(col("p_brand")),
        concat_ws(" ", col("p_type"), col("p_name"))).as("display"))

  // ── A1/A2: group-collect aggregation (hierarchy.ml:128-135,169-176) ──
  // Sorted-joined string so the result is deterministic and oracle-hashable.
  def groupCollect(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(array_join(sort_array(collect_set(col("o_orderpriority"))), ",").as("priorities"),
           count(lit(1)).as("n_orders"))

  // ── A3: map inversion value→keys (hierarchy.ml:6-16) ──
  def invertMap(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "nation")
      .groupBy(col("n_regionkey"))
      .agg(array_join(sort_array(collect_set(col("n_name"))), ",").as("nations"))

  // ── A5: junction HAVING — ≥2 distinct street names (hierarchy.ml:225-234) ──
  def havingDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(countDistinct(col("o_orderpriority")).as("n_distinct"))
      .filter(col("n_distinct") > 1)

  // ── J3: deepest-wins window dedup (hierarchy.ml:107-111 reformulated) ──
  def windowDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey").as("latest_orderkey"))
  }

  // ── J5: membership semi join (query-raw.overpassql:13-23) ──
  def semiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))

  // ── J4/U2: anti join (id_seen exemption, hierarchy.ml:214-218) ──
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  // ── J6: per-member quantified join (query-raw.overpassql:19-27) ──
  // "all members satisfy" (bool_and) + "first member satisfies" (bool_or on pos=1)
  def quantified(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(bool_and(col("l_quantity") < 45).as("all_small"),
           bool_or(col("l_linenumber") === 1 && col("l_discount") > 0.01).as("first_discounted"))
      .filter(col("all_small") && col("first_discounted"))
      .select(col("l_orderkey"))

  // ── J1: parent→children lookup via broadcast equi join (builder.ml:57-62) ──
  def broadcastLookup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"))

  /** Generic iterative transitive closure over an edge table
    * (child, parent) → all (child, ancestor) pairs. Loop of at most 32
    * passes, each behind a [[graft.truncated]] plan (SURVEY.md §2.5 R1/R3):
    * Spark has no recursive CTE, so the fixpoint is a driver loop over
    * Datasets. Every pass's cache is freed before the call returns; the
    * result recomputes from their lineage. */
  def transitiveClosure(edges: DataFrame): DataFrame = {
    // edges: (child STRING, parent STRING)
    var acc = edges.select(col("child"), col("parent").as("ancestor"))
    var frontier = acc
    val passes = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var done = false
    while (passes.length < 32 && !done) {
      val stepped = truncated(frontier.as("f")
        .join(edges.as("e"), col("f.ancestor") === col("e.child"))
        .select(col("f.child").as("child"), col("e.parent").as("ancestor")))
      passes += stepped
      if (stepped.isEmpty) done = true
      else { acc = acc.unionByName(stepped); frontier = stepped }
    }
    passes.foreach(_.unpersist(false))
    acc.distinct()
  }

  // ── R1/R3: iterative closure over customer→nation→region lattice ──
  def closure(spark: SparkSession, dir: String): DataFrame = {
    val e1 = t(spark, dir, "customer").select(
      concat(lit("c"), col("c_custkey")).as("child"),
      concat(lit("n"), col("c_nationkey")).as("parent"))
    val e2 = t(spark, dir, "nation").select(
      concat(lit("n"), col("n_nationkey")).as("child"),
      concat(lit("r"), col("n_regionkey")).as("parent"))
    transitiveClosure(e1.unionByName(e2))
  }

  // ── A6: per-control stats counts (hierarchy.ml:236-286) ──
  def statsCounts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").groupBy(col("event_type")).agg(count(lit(1)).as("n"))

  // ── F4: int cast + bucketed aggregate (hierarchy.ml:38,53-56) ──
  def castBucket(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(floor(col("value") / 100).cast("int").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))

  // ── Window top-k per group (canonical-order choice, SURVEY.md §2.8) ──
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_orderpriority"), col("rk"), col("o_orderkey"))
  }

  // ── Tumbling-window batch aggregate over events (SURVEY.md §2.10) ──
  // Exact integer cents so the sum is order-independent for the oracle.
  def tumblingAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(date_trunc("hour", col("ts")).as("hour"),
              floor(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("hour"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))

  // ── Sessionization: stateful-stream analog in batch (SURVEY.md §2.10) —
  // new session when a user's inter-event gap exceeds 30 min ──
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts").cast("timestamp")) - unix_micros(col("prev_ts").cast("timestamp")) > 1800L * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts")).cast("timestamp")) - unix_micros(min(col("ts")).cast("timestamp"))).as("duration_us"))
  }

  // ── U1/U2: union + except (query-raw.overpassql:34,93,97-102) ──
  def unionExcept(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val highVal = orders.filter(col("o_totalprice") > 100000).select(col("o_custkey"))
    val urgent = orders.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    highVal.union(urgent).distinct()
      .except(t(spark, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("o_custkey")))
  }
}
