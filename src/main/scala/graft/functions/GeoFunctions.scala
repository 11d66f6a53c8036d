package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import graft.cells.CellIndex

/** Native Catalyst expressions for the tiling functions (SURVEY.md §4.3's
  * optional upgrade: codegen `Expression` beats a Scala UDF — no
  * serde, stays inside whole-stage codegen). The generated Java calls the
  * static forwarders on [[graft.cells.CellIndex]] directly. */
case class CellOf(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def prettyName: String = "cell_of"
  override def dataType: DataType = LongType
  override protected def nullSafeEval(lat: Any, lon: Any, lvl: Any): Any =
    CellIndex.cellOf(lat.asInstanceOf[Double], lon.asInstanceOf[Double], lvl.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, lon, lvl) => s"graft.cells.CellIndex.cellOf($lat, $lon, $lvl)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

case class CellParentAt(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "cell_parent"
  override def dataType: DataType = LongType
  override protected def nullSafeEval(cell: Any, lvl: Any): Any =
    CellIndex.parentAt(cell.asInstanceOf[Long], lvl.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, l) => s"graft.cells.CellIndex.parentAt($c, $l)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

case class HaversineM(children: Seq[Expression]) extends Expression {
  require(children.length == 4, "haversine_m(lat1, lon1, lat2, lon2)")
  override def prettyName: String = "haversine_m"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else CellIndex.haversineM(vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val nullCheck = evs.map(e => e.isNull.toString).mkString(" || ")
    ev.copy(code =
      code"""
         |${evs.map(_.code).reduce(_ + _)}
         |boolean ${ev.isNull} = ${org.apache.spark.sql.catalyst.expressions.codegen.JavaCode.isNullExpression(nullCheck)};
         |double ${ev.value} = -1.0;
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.cells.CellIndex.haversineM(
         |    ${evs(0).value}, ${evs(1).value}, ${evs(2).value}, ${evs(3).value});
         |}
       """.stripMargin)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

/** Cell-centroid latitude — codegen replacement for the tuple-returning
  * centroid UDF in the Raster/kNN hot paths (an interpreted UDF there costs
  * per-row serde on the biggest join of q36/q44/q45). */
case class CellCentroidLat(child: Expression) extends UnaryExpression {
  override def prettyName: String = "cell_centroid_lat"
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(cell: Any): Any =
    CellIndex.centroidLat(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.cells.CellIndex.centroidLat($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class CellCentroidLon(child: Expression) extends UnaryExpression {
  override def prettyName: String = "cell_centroid_lon"
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(cell: Any): Any =
    CellIndex.centroidLon(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.cells.CellIndex.centroidLon($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Per-ring kNN termination bound (CellIndex.minCellExtentM) as a codegen
  * expression — evaluated once per pooled candidate row each ring round. */
case class MinCellExtentM(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "min_cell_extent_m"
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(lat: Any, lvl: Any): Any =
    CellIndex.minCellExtentM(lat.asInstanceOf[Double], lvl.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, lvl) => s"graft.cells.CellIndex.minCellExtentM($lat, $lvl)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** Static kernel for [[VecDot]] — shared by eval and generated code;
  * iterates ArrayData directly (no intermediate array, the reason this
  * beats `aggregate(zip_with(...))` which materializes a 64-element array
  * per row). */
object VecOps {
  def dotF(a: org.apache.spark.sql.catalyst.util.ArrayData,
           b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }
}

/** Allocation-free dot product over two ARRAY<FLOAT> columns (the ANN hot
  * path: O(n²·dim) evaluations in exactTopK). */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "vec_dot"
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dotF(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.dotF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
}

/** Column API + SQL registration for the geo expressions. Registration is
  * per-session; the Column helpers route through `call_function`, so
  * [[register]] must run once on the session first. */
object GeoFunctions {
  import org.apache.spark.sql.functions.{call_function, lit}

  def cell_of(lat: Column, lon: Column, level: Int): Column =
    call_function("cell_of", lat, lon, lit(level))
  def cell_parent(cell: Column, level: Int): Column =
    call_function("cell_parent", cell, lit(level))
  def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    call_function("haversine_m", lat1, lon1, lat2, lon2)
  def vec_dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)
  def cell_centroid_lat(cell: Column): Column =
    call_function("cell_centroid_lat", cell)
  def cell_centroid_lon(cell: Column): Column =
    call_function("cell_centroid_lon", cell)
  def min_cell_extent_m(lat: Column, level: Int): Column =
    call_function("min_cell_extent_m", lat, lit(level))

  /** Spatial-prefix scan predicate: `cellCol` (a fact table's cell key at
    * fixed level `factLevel`) lies under ancestor `anc`. Compiled to a
    * literal BETWEEN — two plain range filters that reach the parquet scan
    * as PushedFilters (row-group min/max pruning; a cell-sorted or
    * cell-bucketed layout skips everything outside the ancestor), where
    * the equivalent `cell_parent(cell, L) = anc` form is an unpushable
    * function call. The interval is exact: descendants at one level are
    * one contiguous id range (CellIndex encoding invariant). */
  def under_cell(cellCol: Column, anc: Long, factLevel: Int): Column =
    cellCol.between(lit(CellIndex.rangeMinAt(anc, factLevel)),
      lit(CellIndex.rangeMaxAt(anc, factLevel)))

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cell_of" -> (es => CellOf(es(0), es(1), es(2))),
    "cell_parent" -> (es => CellParentAt(es(0), es(1))),
    "haversine_m" -> (es => HaversineM(es)),
    "vec_dot" -> (es => VecDot(es(0), es(1))),
    "cell_centroid_lat" -> (es => CellCentroidLat(es(0))),
    "cell_centroid_lon" -> (es => CellCentroidLon(es(0))),
    "min_cell_extent_m" -> (es => MinCellExtentM(es(0), es(1))))

  /** Register the geo expressions for spark.sql / call_function. Idempotent:
    * only names absent from the session are registered, so a repeat call
    * keeps the session's builders and replaces nothing. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.synchronized {
      for ((name, builder) <- builders
           if !reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
