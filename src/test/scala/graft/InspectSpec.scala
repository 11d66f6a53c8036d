package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Inspect

/** The inspection tool's library entry points run on a live session and
  * leave it usable. */
class InspectSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("plans writes one non-empty formatted plan per requested name, flagship included") {
    val outDir = Files.createTempDirectory("graft-inspect-plans").toString
    val names = Seq(Inspect.FlagshipPlan, "q12_broadcast_lookup", "q20_exact_dedup")
    val written = Inspect.plans(spark, sf, outDir, "after", names :+ "no_such_query")
    assert(written == names.map(n => Paths.get(outDir, s"${n}_after.txt")),
      "one file per resolvable name; an unknown name is reported and skipped")
    for (p <- written) {
      val txt = Files.readString(p)
      assert(txt.startsWith("== Physical Plan =="), s"$p is not a formatted plan")
      assert(txt.contains("(1) "), s"$p lacks the numbered node details")
    }
    assert(Files.readString(written.head).contains("Scan parquet"),
      "the flagship plan scans the materialized pages table")
    assert(spark.range(10).count() == 10)
  }

  test("profile records the warm run's jobs and leaves the session usable") {
    val names = Seq("q12_broadcast_lookup", Inspect.FlagshipPlan)
    val profiles = Inspect.profile(spark, sf, names)
    assert(profiles.map(_.name) == names, "a named frame profiles like a query")
    for (p <- profiles) {
      assert(Seq(p.buildS, p.planS, p.execS).forall(_ >= 0.0))
      assert(p.jobs.nonEmpty, s"${p.name}: the noop write runs at least one job")
      assert(p.jobs.forall(_._3 >= 0.0), s"${p.name}: negative job wall time: ${p.jobs}")
    }
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(10).count() == 10)
  }
}
