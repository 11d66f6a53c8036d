package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Skew

class SkewExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("salted two-phase agg equals the direct aggregation on a skewed key") {
    // 90% of rows share one hot key
    val df = spark.range(20000)
      .withColumn("key", when(col("id") % 10 < 9, lit("hot")).otherwise(concat(lit("k"), col("id") % 7)))
      .withColumn("v", col("id") % 1000)
    val direct = df.groupBy("key").agg(count(lit(1)).as("n"), sum("v").as("total"))
      .withColumnRenamed("key", "k")
    val salted = Skew.saltedAgg(df, col("key"), col("v"), salts = 32, spreadOn = col("id"))
    assert(salted.withColumnRenamed("key", "k").exceptAll(direct).count() == 0)
    assert(direct.exceptAll(salted.withColumnRenamed("key", "k")).count() == 0)
    // phase-one parallelism: (hot, salt) groups actually spread
    val phase1 = df.withColumn("_salt", Skew.saltCol(32, col("id")))
      .filter(col("key") === "hot").select("_salt").distinct().count()
    assert(phase1 == 32)
  }
}
