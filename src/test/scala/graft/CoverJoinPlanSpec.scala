package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, SortMergeJoinExec}
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.io.WKBWriter
import graft.spatial.{DistributedPip, Raster, SpatialOps}
import graft.synth.SynthWorld
import graft.web.Flagship

/** The join strategy each spatial cover join states: the forms that take
  * driver-resident boundaries broadcast their cover, the forms that take a
  * table sort-merge on cell. Spark's size estimate would broadcast every
  * cover at this scale, so the final adaptive plan shows whether the
  * stated strategy reached the executor. */
class CoverJoinPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val bs = Flagship.boundaries(SynthWorld.Config(seed = 42L, gridP = 2, gridC = 2))
  private lazy val zones = bs.map(b => (b.id, b.wkb)).toDF("boundary_id", "wkb")
  private lazy val points = (0L until 200L).map { i =>
    (i, 40.0 + math.floorMod(SynthWorld.mix(i), 79990L) / 10000.0,
      math.floorMod(SynthWorld.mix(i * 7), 79990L) / 10000.0)
  }.toDF("id", "lat", "lon")
  private lazy val raster = Raster.rasterize(spark, points, level = 8)
  private lazy val lines = {
    val gf = new GeometryFactory()
    val w = new WKBWriter()
    (0 until 32).map { i =>
      val y = 40.25 + (i % 16) * 0.48
      val x0 = 1.5 + (i / 16) * 2.0
      (i.toLong, w.write(gf.createLineString(Array(
        new Coordinate(x0, y), new Coordinate(x0 + 1.0, y)))))
    }.toDF("line_id", "wkb")
  }

  private def onCell(keys: Seq[Expression]): Boolean =
    keys.exists { case a: AttributeReference => a.name == "cell"; case _ => false }

  /** Runs `df`, then returns the joins on `cell` in its final adaptive plan. */
  private def cellJoins(df: DataFrame): Seq[BaseJoinExec] = {
    assert(df.collect().nonEmpty)
    collect(df.queryExecution.executedPlan) {
      case j: BaseJoinExec if onCell(j.leftKeys) && onCell(j.rightKeys) => j
    }
  }

  private def assertOnly[J <: BaseJoinExec](df: DataFrame)(implicit c: reflect.ClassTag[J]): Unit = {
    val js = cellJoins(df)
    assert(js.nonEmpty, s"no join on cell in\n${df.queryExecution.executedPlan}")
    assert(js.forall(c.runtimeClass.isInstance),
      s"expected only ${c.runtimeClass.getSimpleName} on cell, got " +
        js.map(_.getClass.getSimpleName).mkString(", "))
  }

  test("broadcast forms plan a BroadcastHashJoin on cell") {
    assertOnly[BroadcastHashJoinExec](SpatialOps.crossings(spark, lines, bs, level = 11))
    assertOnly[BroadcastHashJoinExec](Raster.zonalStats(spark, raster, bs, coverLevel = 8))
  }

  test("table forms plan a SortMergeJoin on cell") {
    assertOnly[SortMergeJoinExec](DistributedPip.containsJoin(spark, points, zones, level = 8))
    assertOnly[SortMergeJoinExec](Raster.zonalStatsDistributed(spark, raster, zones, coverLevel = 8))
    assertOnly[SortMergeJoinExec](SpatialOps.crossingsDistributed(spark, lines, zones, level = 11))
  }
}
