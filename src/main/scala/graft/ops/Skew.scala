package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit skew handling (north rule: "salted repartitioning on hot H3
  * cells"; SURVEY.md §4.3). Two tools:
  *
  *  - [[saltedAgg]]: two-phase aggregation — partial agg on (key, salt),
  *    final agg on key. A hot cell's rows spread over `salts` reducers in
  *    phase one, so no single task owns a hot key's whole volume. Results
  *    are exactly equal to the direct aggregation (oracle-checked, q33).
  *  - [[saltedJoin]]: skew-safe equi-join — the probe side salts, the
  *    modest build side replicates once per salt (oracle-checked, q39).
  *
  * Complementary to AQE's runtime skew-join splitting (enabled by default);
  * salting is the plan-level guarantee when hot keys are known (city-center
  * cells in the tile histogram).
  */
object Skew {

  /** Deterministic salt in [0, salts): hash of the whole row's key plus a
    * spreading column if provided, else a per-row hash. */
  def saltCol(salts: Int, spreadOn: Column): Column =
    pmod(xxhash64(spreadOn), lit(salts.toLong)).cast("int")

  /** Two-phase (salted) sum/count aggregation over `key`, exactly equal to
    * `df.groupBy(key).agg(count, sum(valueCol))`. */
  def saltedAgg(df: DataFrame, key: Column, valueCol: Column, salts: Int,
                spreadOn: Column): DataFrame =
    df.withColumn("_salt", saltCol(salts, spreadOn))
      .groupBy(key.as("key"), col("_salt"))
      .agg(count(lit(1)).as("_n"), sum(valueCol).as("_s"))
      .groupBy(col("key"))
      .agg(sum(col("_n")).as("n"), sum(col("_s")).as("total"))

  /** Skew-safe equi-join: the big probe side salts on `spreadOn`, the
    * modest build side replicates once per salt, and the join key becomes
    * (key, salt) — a hot key's rows spread across `salts` tasks even where
    * AQE's runtime skew split can't apply (reused exchanges, aggregated
    * pipelines). Result is exactly the plain equi-join (oracle q39). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int, spreadOn: Column): DataFrame = {
    val b = big.withColumn("_salt", saltCol(salts, spreadOn))
    val s = small.withColumn("_salt",
      explode(array((0 until salts).map(i => lit(i)): _*)))
    b.join(s, Seq(key, "_salt")).drop("_salt")
  }
}
