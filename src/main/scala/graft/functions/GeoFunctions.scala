package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Spatial predicates over WKT bbox columns — the one capability the reference
 * workload needs that neither engine ships natively (reference: README.md:3-16
 * describes the search; the GeoArrow WKT typing is attached at
 * src/schema.rs:57-74 but no spatial function is registered there).
 *
 * Implemented as Catalyst `Expression`s (not Scala UDFs) so null handling and
 * eval stay inside the expression framework; registered into the session
 * `FunctionRegistry` so both SQL and the `Column` helpers below work:
 *
 * {{{
 *   GeoFunctions.register(spark)
 *   df.filter(GeoFunctions.bbox_intersects(col("bbox"), 15, 15, 25, 25))
 *   spark.sql("SELECT * FROM t WHERE bbox_intersects(bbox, 15, 15, 25, 25)")
 * }}}
 */
object GeoFunctions {

  private def checkWktInput(name: String, e: Expression)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (e.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$name expects a WKT string argument, got ${e.dataType.sql}")

  /** bbox_envelope(wkt) → struct<minx,miny,maxx,maxy> (null for empty geometry). */
  case class BboxEnvelope(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes() = checkWktInput(prettyName, child)
    override def dataType: DataType = StructType(Seq(
      StructField("minx", DoubleType, nullable = false),
      StructField("miny", DoubleType, nullable = false),
      StructField("maxx", DoubleType, nullable = false),
      StructField("maxy", DoubleType, nullable = false)))
    override def nullable: Boolean = true // empty geometry → null struct
    override def nullSafeEval(v: Any): Any =
      GeoFunctions.envelopeRow(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => s"""
        ${ev.value} = graft.functions.GeoFunctions.envelopeRow($v);
        ${ev.isNull} = ${ev.value} == null;""")
    override def prettyName: String = "bbox_envelope"
    override protected def withNewChildInternal(c: Expression): BboxEnvelope = copy(child = c)
  }

  /** Static kernel for [[BboxEnvelope]]: parse → envelope row (null if empty). */
  def envelopeRow(wkt: UTF8String): InternalRow = {
    val e = Wkt.envelope(wkt)
    if (e == null) null else InternalRow(e(0), e(1), e(2), e(3))
  }

  /**
   * bbox_intersects(wkt, minx, miny, maxx, maxy) → boolean.
   *
   * Full `doGenCode` (straight static call into [[Wkt]] on the column's
   * `UTF8String`, never a `String` copy) so a bbox filter
   * stays inside the surrounding WholeStageCodegen span instead of forcing
   * the row-at-a-time CodegenFallback path; the registry builder casts the
   * box bounds to double up front ([[GeoFunctions.register]]), so neither
   * eval path needs runtime numeric dispatch.
   */
  case class BboxIntersects(children: Seq[Expression]) extends Expression {
    require(children.length == 5, "bbox_intersects(wkt, minx, miny, maxx, maxy)")
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (children.head.dataType != StringType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects a WKT string first argument, got ${children.head.dataType.sql}")
      else children.tail.find(_.dataType != DoubleType) match {
        // the registry builder casts box bounds to double; a directly
        // constructed expression must arrive the same way or eval would CCE
        case Some(e) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName box bounds must be doubles, got ${e.dataType.sql}")
        case None => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      }
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = children.exists(_.nullable)
    // the interpreted path: five locals and a null short-circuit per row,
    // no per-row collection of child values
    override def eval(input: InternalRow): Any = {
      val wkt = children(0).eval(input)
      if (wkt == null) return null
      val minx = children(1).eval(input)
      if (minx == null) return null
      val miny = children(2).eval(input)
      if (miny == null) return null
      val maxx = children(3).eval(input)
      if (maxx == null) return null
      val maxy = children(4).eval(input)
      if (maxy == null) return null
      Wkt.envelopeIntersects(wkt.asInstanceOf[UTF8String], minx.asInstanceOf[Double],
        miny.asInstanceOf[Double], maxx.asInstanceOf[Double], maxy.asInstanceOf[Double])
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val evals = children.map(_.genCode(ctx))
      val nullCheck =
        if (nullable) evals.map(_.isNull.toString).mkString(" || ") else "false"
      ev.copy(code =
        code"""
          ${evals.map(_.code).mkString("\n")}
          boolean ${ev.isNull} = $nullCheck;
          boolean ${ev.value} = false;
          if (!${ev.isNull}) {
            ${ev.value} = graft.functions.Wkt.envelopeIntersects(
              ${evals(0).value}, ${evals(1).value},
              ${evals(2).value}, ${evals(3).value}, ${evals(4).value});
          }""")
    }
    override def prettyName: String = "bbox_intersects"
    override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): BboxIntersects =
      copy(children = cs)
  }

  /**
   * bbox_extent(wkt) — AGGREGATE: union envelope of a group's geometries as
   * struct<minx,miny,maxx,maxy> (null for a group with no parseable
   * geometry). The custom-aggregate row of SURVEY §2, built on
   * `TypedImperativeAggregate` as §2 prescribes: one WKT parse per row into
   * a 4-double buffer, partial-aggregated map-side like any Spark aggregate
   * (the buffer shuffles, not the rows — at 100 TB the extent of a table
   * costs one scan plus a 32-byte-per-partition reduce).
   */
  case class BboxExtent(
      child: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Double]]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

    override def checkInputDataTypes() = checkWktInput(prettyName, child)

    override def dataType: DataType = StructType(Seq(
      StructField("minx", DoubleType, nullable = false),
      StructField("miny", DoubleType, nullable = false),
      StructField("maxx", DoubleType, nullable = false),
      StructField("maxy", DoubleType, nullable = false)))
    override def nullable: Boolean = true

    override def createAggregationBuffer(): Array[Double] =
      Array(Double.PositiveInfinity, Double.PositiveInfinity,
        Double.NegativeInfinity, Double.NegativeInfinity)

    override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
      val v = child.eval(input)
      if (v != null) {
        val e = Wkt.envelope(v.asInstanceOf[UTF8String])
        if (e != null) {
          if (e(0) < buf(0)) buf(0) = e(0)
          if (e(1) < buf(1)) buf(1) = e(1)
          if (e(2) > buf(2)) buf(2) = e(2)
          if (e(3) > buf(3)) buf(3) = e(3)
        }
      }
      buf
    }

    override def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
      if (other(0) < buf(0)) buf(0) = other(0)
      if (other(1) < buf(1)) buf(1) = other(1)
      if (other(2) > buf(2)) buf(2) = other(2)
      if (other(3) > buf(3)) buf(3) = other(3)
      buf
    }

    override def eval(buf: Array[Double]): Any =
      if (buf(0) > buf(2)) null // nothing parsed: still the init buffer
      else InternalRow(buf(0), buf(1), buf(2), buf(3))

    override def serialize(buf: Array[Double]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(32)
      buf.foreach(bb.putDouble)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): Array[Double] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      Array.fill(4)(bb.getDouble)
    }

    override def withNewMutableAggBufferOffset(o: Int): BboxExtent =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): BboxExtent =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): BboxExtent = copy(child = c)
    override def prettyName: String = "bbox_extent"
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("bbox_envelope",
      (es: Seq[Expression]) => { VectorFunctions.expectArity(es, 1, "bbox_envelope(wkt)")
        BboxEnvelope(es.head) }, "scala_udf")
    reg.createOrReplaceTempFunction("bbox_intersects",
      (es: Seq[Expression]) => {
        VectorFunctions.expectArity(es, 5, "bbox_intersects(wkt, minx, miny, maxx, maxy)")
        BboxIntersects(es.head +: es.tail.map(e => Cast(e, DoubleType)))
      }, "scala_udf")
    reg.createOrReplaceTempFunction("bbox_extent",
      (es: Seq[Expression]) => { VectorFunctions.expectArity(es, 1, "bbox_extent(wkt)")
        BboxExtent(es.head) }, "scala_udf")
  }

  /** Column helpers (require `register(spark)` on the active session). */
  def bbox_envelope(wkt: Column): Column = call_function("bbox_envelope", wkt)
  def bbox_extent(wkt: Column): Column = call_function("bbox_extent", wkt)
  def bbox_intersects(wkt: Column, minx: Column, miny: Column, maxx: Column, maxy: Column): Column =
    call_function("bbox_intersects", wkt, minx, miny, maxx, maxy)
  def bbox_intersects(wkt: Column, minx: Double, miny: Double, maxx: Double, maxy: Double): Column = {
    import org.apache.spark.sql.functions.lit
    bbox_intersects(wkt, lit(minx), lit(miny), lit(maxx), lit(maxy))
  }
}
