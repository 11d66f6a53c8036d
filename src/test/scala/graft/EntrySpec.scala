package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${sys.props("java.io.tmpdir")}/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class EntrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("all queries run non-empty on sf0.001") {
    def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val leaks = for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) yield {
      val baseline = persistentRdds
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
      if (!Set("q10_anti_join").contains(name)) // anti join may legitimately be empty
        assert(n > 0, s"$name returned 0 rows")
      val after = persistentRdds
      Option.when(after != baseline)(
        s"$name left ${after -- baseline} and freed ${baseline -- after}")
    }
    assert(leaks.flatten.isEmpty, leaks.flatten.mkString("; "))
  }

  test("window dedup keeps exactly one row per customer") {
    val df = SparkEntry.queries("q08_window_dedup")(spark, sf)
    assert(df.count() == df.select("o_custkey").distinct().count())
  }

  test("closure contains two-hop ancestors") {
    val df = SparkEntry.queries("q13_closure")(spark, sf).collect()
    val pairs = df.map(r => (r.getString(0), r.getString(1))).toSet
    // every customer must reach both a nation and a region
    val custs = pairs.collect { case (c, _) if c.startsWith("c") => c }
    assert(custs.nonEmpty)
    for (c <- custs.take(20)) {
      assert(pairs.exists { case (ch, an) => ch == c && an.startsWith("n") })
      assert(pairs.exists { case (ch, an) => ch == c && an.startsWith("r") })
    }
  }

  test("exact dedup partitions the corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    val dedup = SparkEntry.queries("q20_exact_dedup")(spark, sf)
    import org.apache.spark.sql.functions._
    val total = dedup.agg(sum("n_copies")).collect()(0).getLong(0)
    assert(total == docs)
  }
}
