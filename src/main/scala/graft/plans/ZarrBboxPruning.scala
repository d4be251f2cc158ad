package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, GetStructField, GreaterThan, GreaterThanOrEqual, LeafExpression, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types._

import graft.functions.GeoFunctions.{BboxEnvelope, BboxIntersects}
import graft.sources.ZarrScan

/**
 * Post-pushdown optimizer rule for every `Filter` directly over a Zarr scan.
 * It has two jobs.
 *
 * '''Bbox pruning.''' It makes the reference's flagship STAC-style search
 * (reference: README.md:3-16) chunk-pruned: a `bbox_intersects(bbox, x0, y0,
 * x1, y1)` conjunct over a Zarr scan is planted into the [[ZarrScan]], whose
 * partition planning then skips every chunk whose recorded envelope
 * (`_graft_stats.json` — [[graft.zarr.ZarrStats]]) cannot intersect the
 * query box. The reference cannot do this: it declines filter pushdown
 * entirely (src/table_provider.rs:85), and bare Zarr v3 carries no chunk
 * statistics anyway. The `Filter` above the scan is left in place, so like
 * all graft stats pruning this is advisory: wrong/stale envelopes cost I/O,
 * never correctness.
 *
 * '''One compiled class per search shape.''' Spark writes boolean,
 * integral, floating, date and timestamp literals into the generated Java
 * source, and caches compiled classes by source text, so a search repeated
 * with new constants compiles its whole stage again, on the driver and in
 * the task. The rule swaps each such non-null literal in the filter for a
 * [[ReferencedLiteral]], whose generated code reads the value from the
 * class's `references` array: searches that differ only in constants then
 * share one class. Strings and decimals already travel that way, and nulls
 * stay literals.
 *
 * `bbox_intersects` is a custom Catalyst expression, so it can never reach
 * the DSv2 `pushFilters` path (Spark only translates standard expressions to
 * `sources.Filter`s) — hence a rule that must run AFTER
 * `V2ScanRelationPushDown`, which by then has also turned the literals the
 * scan can prune with into `sources.Filter`s. The only such batch reachable
 * from user code is "User Provided Optimizers"
 * (`experimental.extraOptimizations`) — Spark's "Pre CBO Rules" batch sits
 * BEFORE early scan pushdown, so `injectPreCBORule` never sees the scan. The
 * rule has one install point: the [[graft.sources.ZarrTable]] constructor,
 * which every Zarr relation (`format("zarr")` and
 * [[graft.sources.ZarrCatalog]]) goes through during analysis, before the
 * optimizer runs.
 */
object ZarrBboxPruning extends Rule[LogicalPlan] with PredicateHelper {

  /** Idempotently install this rule into the session's "User Provided
   *  Optimizers" batch. Synchronized: two threads resolving Zarr tables
   *  concurrently on one session must not append the rule twice. */
  def installInto(session: org.apache.spark.sql.SparkSession): Unit =
    session.synchronized {
      if (!session.experimental.extraOptimizations.contains(this))
        session.experimental.extraOptimizations =
          session.experimental.extraOptimizations :+ this
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, r: DataSourceV2ScanRelation) if r.scan.isInstanceOf[ZarrScan] =>
      val scan = r.scan.asInstanceOf[ZarrScan]
      val planted =
        if (scan.bboxFilter.nonEmpty) r
        else bboxBox(cond, r).fold(r) { case (col, x0, y0, x1, y1) =>
          r.copy(scan = scan.withBboxFilter(col, x0, y0, x1, y1))
        }
      f.copy(condition = referenceLiterals(cond), child = planted)
  }

  /** The prune box `cond` puts on one of the scan's columns, if any. */
  private def bboxBox(cond: Expression, r: DataSourceV2ScanRelation)
      : Option[(String, Double, Double, Double, Double)] = {
    val scanCols = r.output.map(_.exprId).toSet
    val conjuncts = splitConjunctivePredicates(cond)
    // collect + headOption, NOT collectFirst: collectFirst stops at the
    // first bbox_intersects conjunct even when its bounds are
    // non-foldable (None after the for), discarding a later all-literal
    // conjunct that could have pruned
    conjuncts.collect {
      case BboxIntersects(Seq(a: AttributeReference, x0, y0, x1, y1))
          if scanCols.contains(a.exprId) =>
        for (vx0 <- lit(x0); vy0 <- lit(y0); vx1 <- lit(x1); vy1 <- lit(y1))
          yield (a.name, vx0, vy0, vx1, vy1)
    }.flatten.headOption.orElse(envelopeBox(conjuncts, scanCols))
  }

  /** `cond` with each non-null literal of a type Spark inlines into the
   *  generated source replaced by a [[ReferencedLiteral]]. */
  private def referenceLiterals(cond: Expression): Expression = cond.transformUp {
    case l @ Literal(v, BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType | TimestampNTZType) if v != null =>
      ReferencedLiteral(l)
  }

  /**
   * The manual spelling of an intersects test — an AND of comparisons over
   * `bbox_envelope(col)` fields, e.g.
   * `bbox_envelope(bbox).maxx >= 15 AND bbox_envelope(bbox).minx <= 25 AND …`
   * — extracts to the same prune box, with any unconstrained side at ±∞.
   * Sound per conjunct against the sidecar's UNION envelope: the chunk's
   * recorded `maxx` is the max of row maxx's, so `chunk.maxx < x0` proves
   * `row.maxx >= x0` false for every row (strict `>` is treated as `>=` —
   * weaker pruning, never wrong). Field ordinals follow
   * [[BboxEnvelope.dataType]]: 0=minx, 1=miny, 2=maxx, 3=maxy.
   */
  private def envelopeBox(conjuncts: Seq[Expression],
      scanCols: Set[org.apache.spark.sql.catalyst.expressions.ExprId])
      : Option[(String, Double, Double, Double, Double)] = {
    // bounds per column: x0/y0 from lower bounds on maxx/maxy (tightest =
    // max), x1/y1 from upper bounds on minx/miny (tightest = min)
    val boxes = scala.collection.mutable.LinkedHashMap
      .empty[String, Array[Double]] // [x0, y0, x1, y1]
    def bounds(name: String): Array[Double] =
      boxes.getOrElseUpdate(name, Array(Double.NegativeInfinity,
        Double.NegativeInfinity, Double.PositiveInfinity, Double.PositiveInfinity))
    object EnvField {
      def unapply(e: Expression): Option[(String, Int)] = e match {
        case GetStructField(BboxEnvelope(a: AttributeReference), ord, _)
            if scanCols.contains(a.exprId) => Some((a.name, ord))
        case _ => None
      }
    }
    conjuncts.foreach {
      // field >= v / field > v / v <= field / v < field → lower bound
      case GreaterThanOrEqual(EnvField(n, ord), v) => lower(bounds(n), ord, lit(v))
      case GreaterThan(EnvField(n, ord), v)        => lower(bounds(n), ord, lit(v))
      case LessThanOrEqual(v, EnvField(n, ord))    => lower(bounds(n), ord, lit(v))
      case LessThan(v, EnvField(n, ord))           => lower(bounds(n), ord, lit(v))
      // field <= v / field < v / v >= field / v > field → upper bound
      case LessThanOrEqual(EnvField(n, ord), v)    => upper(bounds(n), ord, lit(v))
      case LessThan(EnvField(n, ord), v)           => upper(bounds(n), ord, lit(v))
      case GreaterThanOrEqual(v, EnvField(n, ord)) => upper(bounds(n), ord, lit(v))
      case GreaterThan(v, EnvField(n, ord))        => upper(bounds(n), ord, lit(v))
      case _ =>
    }
    boxes.collectFirst {
      case (name, b) if b(0) > Double.NegativeInfinity || b(1) > Double.NegativeInfinity ||
          b(2) < Double.PositiveInfinity || b(3) < Double.PositiveInfinity =>
        (name, b(0), b(1), b(2), b(3))
    }
  }

  /** `envelope.maxx >= v` (ord 2) prunes via box x0; `maxy >= v` (3) via y0. */
  private def lower(b: Array[Double], ord: Int, v: Option[Double]): Unit = v.foreach { d =>
    if (ord == 2 && d > b(0)) b(0) = d
    if (ord == 3 && d > b(1)) b(1) = d
  }

  /** `envelope.minx <= v` (ord 0) prunes via box x1; `miny <= v` (1) via y1. */
  private def upper(b: Array[Double], ord: Int, v: Option[Double]): Unit = v.foreach { d =>
    if (ord == 0 && d < b(2)) b(2) = d
    if (ord == 1 && d < b(3)) b(3) = d
  }

  /** Foldable double expression → its value (constant folding has already
   *  collapsed the register-time casts, but fold defensively). */
  private def lit(e: Expression): Option[Double] = e match {
    case Literal(v: Double, DoubleType) => Some(v)
    case _ if e.foldable && e.dataType == DoubleType =>
      Option(e.eval(null)).map(_.asInstanceOf[Double])
    case _ => None
  }
}

/**
 * A non-null primitive [[Literal]] whose generated code reads its value from
 * the generated class's `references` array, once, into a field — so the Java
 * source does not depend on the value. It prints, folds and evaluates exactly
 * like the literal it wraps; only the generated code differs.
 */
case class ReferencedLiteral(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String = lit.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", lit.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "literal", v => s"$v = $ref.${javaType}Value();")
    ExprCode(FalseLiteral, JavaCode.global(field, dataType))
  }
}
