import org.apache.spark.sql.DataFrame

package object graft {

  /** `df` behind a truncated PLAN, cached: createDataFrame over its RDD
    * gives the next iteration round a flat plan to analyze, while the RDD
    * lineage stays recomputable — so freeing an intermediate is a cache
    * decision, not a correctness one. NOT localCheckpoint: its blocks
    * cannot be freed without killing the lineage, and its LogicalRDD
    * keeps constraints that break a later unionByName on Spark 4.1
    * (key-not-found in rewriteConstraints). Lazy: the caller's next action
    * fills the cache. */
  private[graft] def truncated(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema).cache()
}
