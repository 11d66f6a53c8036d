package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.cells.CellIndex
import graft.functions.GeoFunctions

class GeoFunctionsSpec extends AnyFunSuite {
  private lazy val spark = { val s = SparkTestSession.spark; GeoFunctions.register(s); s }
  import spark.implicits._

  private val pts = Seq((51.5007, -0.1246), (48.8584, 2.2945), (-33.86, 151.21),
    (0.0, 0.0), (89.9, 179.9), (-89.9, -179.9))

  test("cell_of expression agrees with the Scala codec and survives codegen") {
    val df = pts.toDF("lat", "lon")
      .withColumn("cell", GeoFunctions.cell_of(col("lat"), col("lon"), 14))
    val rows = df.collect()
    for (r <- rows)
      assert(r.getLong(2) == CellIndex.cellOf(r.getDouble(0), r.getDouble(1), 14))
    // whole-stage codegen must cover the projection (no UDF/serde break);
    // spark.range avoids the constant-fold of a literal local relation
    val gen = spark.range(1000)
      .withColumn("lat", col("id") % 180 - 89.5)
      .withColumn("lon", col("id") % 360 - 179.5)
      .withColumn("cell", GeoFunctions.cell_of(col("lat"), col("lon"), 14))
    val plan = gen.queryExecution.executedPlan.toString
    // "*(1)" marks a WholeStageCodegen stage; the cell_of projection must
    // sit inside one (no BatchEvalPython/serde break)
    assert(plan.contains("*(1) Project") && plan.contains("cell_of"), plan)
    for (r <- gen.collect())
      assert(r.getAs[Long]("cell") ==
        CellIndex.cellOf(r.getAs[Double]("lat"), r.getAs[Double]("lon"), 14))
  }

  test("cell_parent expression matches parentAt") {
    val df = pts.toDF("lat", "lon")
      .withColumn("cell", GeoFunctions.cell_of(col("lat"), col("lon"), 14))
      .withColumn("p8", GeoFunctions.cell_parent(col("cell"), 8))
    for (r <- df.collect())
      assert(r.getLong(3) == CellIndex.parentAt(r.getLong(2), 8))
  }

  test("haversine_m expression matches the Scala implementation incl. nulls") {
    val df = Seq((Some(51.5007), -0.1246, 48.8584, 2.2945),
        (None: Option[Double], 0.0, 0.0, 0.0))
      .toDF("lat1", "lon1", "lat2", "lon2")
      .withColumn("d", GeoFunctions.haversine_m(col("lat1"), col("lon1"), col("lat2"), col("lon2")))
    val rows = df.orderBy(col("lat1").desc_nulls_last).collect()
    assert(math.abs(rows(0).getDouble(4) -
      CellIndex.haversineM(51.5007, -0.1246, 48.8584, 2.2945)) < 1e-9)
    assert(rows(1).isNullAt(4))
  }

  test("cell_centroid_lat/lon and min_cell_extent_m match the Scala kernels") {
    val df = pts.toDF("lat", "lon")
      .withColumn("cell", GeoFunctions.cell_of(col("lat"), col("lon"), 12))
      .withColumn("clat", GeoFunctions.cell_centroid_lat(col("cell")))
      .withColumn("clon", GeoFunctions.cell_centroid_lon(col("cell")))
      .withColumn("ext", GeoFunctions.min_cell_extent_m(col("lat"), 12))
    for (r <- df.collect()) {
      val (elat, elon) = CellIndex.centroid(r.getLong(2))
      assert(r.getDouble(3) == elat && r.getDouble(4) == elon)
      assert(r.getDouble(5) == CellIndex.minCellExtentM(r.getDouble(0), 12))
    }
    // all three stay inside whole-stage codegen (the kNN/Raster hot-path
    // contract: no ScalaUDF/serde break in the refine projections)
    val gen = spark.range(500)
      .withColumn("lat", col("id") % 180 - 89.5)
      .withColumn("cell", GeoFunctions.cell_of(col("lat"), lit(0.5), 12))
      .withColumn("clat", GeoFunctions.cell_centroid_lat(col("cell")))
      .withColumn("ext", GeoFunctions.min_cell_extent_m(col("lat"), 12))
    val plan = gen.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("cell_centroid_lat") &&
      plan.contains("min_cell_extent_m"), plan)
  }

  test("under_cell: exact range semantics, parquet pushdown, partition pruning") {
    val anc = CellIndex.cellOf(44.0, 4.0, 4)
    val pts = spark.range(4000)
      .withColumn("lat", (col("id") % 1700).cast("double") / 10 - 85.0)
      .withColumn("lon", ((col("id") * 7) % 3500).cast("double") / 10 - 175.0)
      .withColumn("cell", GeoFunctions.cell_of(col("lat"), col("lon"), 14))
      .withColumn("p", GeoFunctions.cell_parent(col("cell"), 6))
    val dir = java.nio.file.Files.createTempDirectory("graft-cellscan").toString
    pts.write.mode("overwrite").partitionBy("p").parquet(dir)
    // the deployment pattern: prune the coarse partition prefix AND push
    // the fine range into the scan — both from the same ancestor cell
    val scan = spark.read.parquet(dir)
      .filter(GeoFunctions.under_cell(col("p"), anc, 6) &&
        GeoFunctions.under_cell(col("cell"), anc, 14))
    val got = scan.select("id").collect().map(_.getLong(0)).toSet
    val want = pts.collect()
      .filter(r => CellIndex.parentAt(r.getAs[Long]("cell"), 4) == anc)
      .map(_.getAs[Long]("id")).toSet
    assert(got == want, s"range ≠ parentAt: miss=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(want.nonEmpty && want.size < 4000)
    val ex = scan.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(ex.contains("GreaterThanOrEqual(cell") && ex.contains("LessThanOrEqual(cell"),
      s"cell range must reach PushedFilters:\n$ex")
    assert(ex.matches("(?s).*PartitionFilters: \\[.*p#.*\\].*"),
      s"coarse prefix must prune partitions:\n$ex")
  }

  test("functions are callable from SQL") {
    val got = spark.sql(
      "SELECT cell_of(51.5d, -0.1d, 12) AS c, cell_parent(cell_of(51.5d, -0.1d, 12), 4) AS p, " +
        "haversine_m(0d, 0d, 0d, 1d) AS d").collect()(0)
    assert(got.getLong(0) == CellIndex.cellOf(51.5, -0.1, 12))
    assert(got.getLong(1) == CellIndex.parentAt(CellIndex.cellOf(51.5, -0.1, 12), 4))
    assert(math.abs(got.getDouble(2) - CellIndex.haversineM(0, 0, 0, 1)) < 1e-6)
  }

  test("register is idempotent: a repeat call replaces no builder") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    val names = Seq("cell_of", "cell_parent", "haversine_m", "vec_dot",
      "cell_centroid_lat", "cell_centroid_lon", "min_cell_extent_m")
    // a non-capturing builder lambda is one JVM instance however often it
    // is re-registered, so the registration's ExpressionInfo, built afresh
    // by every replace, is what tells a replace apart
    def registered = names.map { n =>
      val id = FunctionIdentifier(n)
      (reg.lookupFunctionBuilder(id).getOrElse(fail(s"$n is not registered")),
        reg.lookupFunction(id).getOrElse(fail(s"$n has no info")))
    }
    val before = registered
    GeoFunctions.register(spark)
    for ((n, ((b0, i0), (b1, i1))) <- names.zip(before.zip(registered))) {
      assert(b0 eq b1, s"a second register replaced the builder of $n")
      assert(i0 eq i1, s"a second register re-registered $n")
    }
  }
}
