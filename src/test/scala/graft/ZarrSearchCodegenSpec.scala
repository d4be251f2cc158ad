package graft

import java.time.LocalDateTime

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{ExtendedMode, FilterExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.debug._
import org.apache.spark.sql.types._

import graft.functions.GeoFunctions
import graft.plans.ReferencedLiteral

/**
 * A search over a Zarr table compiles once per shape: the filter's
 * primitive constants reach the generated code through its `references`
 * array ([[ReferencedLiteral]], planted by [[graft.plans.ZarrBboxPruning]]),
 * so two searches that differ only in constants share one compiled class —
 * with the same answers and the same EXPLAIN text as inlined literals.
 */
class ZarrSearchCodegenSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("i", IntegerType),
    StructField("s", ShortType), StructField("b", ByteType),
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("flag", BooleanType), StructField("t", TimestampNTZType),
    StructField("bbox", StringType)))

  /** 100 rows; `d`/`f` hold -0.0, 0.0 and NaN among ordinary values, and
   *  `t` is null on every 7th row (the writer keeps only timestamp nulls). */
  private lazy val rows: Seq[Row] = (0 until 100).map { n =>
    val d = n match {
      case 10 | 40 => -0.0
      case 20 | 70 => 0.0
      case 55 | 95 => Double.NaN
      case _ => (n - 50) * 0.5
    }
    val t = if (n % 7 == 3) null else LocalDateTime.of(2020, 1, 1, 0, 0).plusHours(n * 13L)
    Row(n.toLong, n * 3 - 150, (n % 40 - 20).toShort, (n % 50 - 25).toByte, d, d.toFloat,
      n % 3 == 0, t, s"POLYGON (($n $n, ${n + 1} $n, ${n + 1} ${n + 1}, $n ${n + 1}, $n $n))")
  }

  /** The rows as a 10-chunk Zarr table (10-row scan ranges, so chunks
   *  prune one by one) and as an in-memory relation. */
  private lazy val zarr: DataFrame = {
    GeoFunctions.register(spark)
    val dir = tempDir("zsearch_codegen") + "/store.zarr"
    memory.coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "10").mode("overwrite").save(dir)
    spark.read.format("zarr").option("group", "/t")
      .option("target_partition_rows", "10").load(dir)
  }
  private lazy val memory: DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** One search shape over every inlined-literal type plus a bbox box.
   *  The boolean sits in an `if` and the date under `date_add`, the
   *  spellings the optimizer does not rewrite (`flag = true` becomes
   *  `flag`, and `to_date(t) <= DATE …` a timestamp bound). */
  private def search(df: DataFrame, lo: Long, i: Int, s: Short, b: Byte, d: Double,
      f: Float, flag: Boolean, day: String, ts: String, box: Seq[Int]): DataFrame =
    df.where(s"id >= $lo AND i <= $i AND s >= CAST($s AS SMALLINT) AND " +
      s"b <= CAST($b AS TINYINT) AND (d >= ${d}D OR f <= CAST('$f' AS FLOAT)) AND " +
      s"(if(i > 0, flag, $flag) OR date_add(to_date(t), 7) <= DATE '$day') AND " +
      s"t <= TIMESTAMP_NTZ '$ts' AND " +
      s"bbox_intersects(bbox, ${box.mkString(", ")})").select("id")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def referenced(df: DataFrame): Int =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case f: FilterExec => f.condition.collect { case r: ReferencedLiteral => r }.length
    }.sum

  test("searches differing only in constants generate one class and compile it once") {
    val a = search(zarr, 5L, 200, -15.toShort, 20.toByte, -3.5, 1.5f, true,
      "2020-02-01", "2020-03-01 12:00:00", Seq(0, 0, 60, 60))
    val b = search(zarr, 12L, 90, -9.toShort, 11.toByte, 4.0, -2.5f, false,
      "2020-01-20", "2020-02-11 06:30:00", Seq(20, 10, 45, 50))
    a.collect()
    val before = compiles
    val rowsB = b.collect()
    assert(compiles - before == 0L, "the second search compiled generated code")
    assert(rowsB.nonEmpty)
    val (codeA, codeB) = (codegenStringSeq(a.queryExecution.executedPlan).map(_._2),
      codegenStringSeq(b.queryExecution.executedPlan).map(_._2))
    assert(codeA.nonEmpty)
    assert(codeA == codeB)
    assert(referenced(b) == 15, b.queryExecution.executedPlan)
  }

  test("referenced constants answer like inlined ones, at the edges too") {
    val preds = Seq(
      "id >= 0", "id <= 99", "id > 99", "id = 0", "i = -150", "i >= 147", "i < -150",
      "s <= CAST(-20 AS SMALLINT)", "s >= CAST(19 AS SMALLINT)", "b = CAST(-25 AS TINYINT)",
      "b > CAST(24 AS TINYINT)",
      "d = -0.0D", "d <= -0.0D", "d < 0.0D", "d >= -0.0D", "d > -0.0D",
      "d = CAST('NaN' AS DOUBLE)", "d >= CAST('NaN' AS DOUBLE)", "d < CAST('NaN' AS DOUBLE)",
      "d > 1e300D", "d <= 24.5D", "d >= -25.0D",
      "f <= CAST('-0.0' AS FLOAT)", "f > CAST('-0.0' AS FLOAT)",
      "f = CAST('NaN' AS FLOAT)", "f < CAST('NaN' AS FLOAT)",
      "if(id > 50, flag, true)", "if(id > 50, flag, false)",
      "t > TIMESTAMP_NTZ '2020-01-20 00:00:00'", "t <= TIMESTAMP_NTZ '2020-01-01 00:00:00'",
      "t IS NULL OR t >= TIMESTAMP_NTZ '2020-02-01 00:00:00'",
      "NOT (t < TIMESTAMP_NTZ '2020-02-01 00:00:00')",
      "t <=> TIMESTAMP_NTZ '2020-01-01 13:00:00'",
      "coalesce(t, TIMESTAMP_NTZ '2020-01-10 00:00:00') <= TIMESTAMP_NTZ '2020-01-10 00:00:00'",
      "if(id > 50, NULL, d) <= 0.0D",
      "to_date(t) BETWEEN DATE '2020-01-05' AND DATE '2020-01-09'",
      "date_add(to_date(t), 7) BETWEEN DATE '2020-01-12' AND DATE '2020-01-16'",
      "bbox_intersects(bbox, 34, 34, 36, 36)", "bbox_intersects(bbox, -5, -5, 0, 0)",
      "id >= 30 AND d <= -0.0D AND t IS NOT NULL")
    for (p <- preds) {
      val z = zarr.where(p).select("id")
      val got = z.collect().map(_.getLong(0)).sorted.toSeq
      val want = memory.where(p).select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want, s"[$p]")
      assert(referenced(z) > 0, s"[$p] ${z.queryExecution.executedPlan}")
    }
  }

  test("EXPLAIN of a search prints its constants as literals") {
    val q = search(zarr, 5L, 200, -15.toShort, 20.toByte, -0.0, Float.NaN, true,
      "2020-02-01", "2020-03-01 12:00:00", Seq(0, 0, 60, 60))
    val text = q.queryExecution.explainString(ExtendedMode)
      .replaceAll("#\\d+", "#x").replaceAll("zarr:`[^`]*`", "zarr:`<store>`")
      .replaceAll("path=[^,]*,", "path=<store>,")
    assert(referenced(q) == 15)
    assert(text == ZarrSearchCodegenSpec.PinnedExplain, text)
  }
}

object ZarrSearchCodegenSpec {
  /** The EXPLAIN EXTENDED text Spark printed for the pinned search when
   *  the filter kept plain literals, with ids and the store path masked. */
  val PinnedExplain: String = """
    |== Parsed Logical Plan ==
    |'Project ['id]
    |+- Filter ((((id#xL >= cast(5 as bigint)) AND (i#x <= 200)) AND ((s#x >= cast(-15 as smallint)) AND (b#x <= cast(20 as tinyint)))) AND ((((d#x >= -0.0) OR (f#x <= cast(NaN as float))) AND (if ((i#x > 0)) flag#x else true OR (date_add(to_date(t#x, None, Some(UTC), true), 7) <= 2020-02-01))) AND ((t#x <= 2020-03-01 12:00:00) AND bbox_intersects(bbox#x, cast(0 as double), cast(0 as double), cast(60 as double), cast(60 as double)))))
    |   +- RelationV2[b#x, bbox#x, d#x, f#x, flag#x, i#x, id#xL, s#x, t#x] zarr:`<store>`/t
    |
    |== Analyzed Logical Plan ==
    |id: bigint
    |Project [id#xL]
    |+- Filter ((((id#xL >= cast(5 as bigint)) AND (i#x <= 200)) AND ((s#x >= cast(-15 as smallint)) AND (b#x <= cast(20 as tinyint)))) AND ((((d#x >= -0.0) OR (f#x <= cast(NaN as float))) AND (if ((i#x > 0)) flag#x else true OR (date_add(to_date(t#x, None, Some(UTC), true), 7) <= 2020-02-01))) AND ((t#x <= 2020-03-01 12:00:00) AND bbox_intersects(bbox#x, cast(0 as double), cast(0 as double), cast(60 as double), cast(60 as double)))))
    |   +- RelationV2[b#x, bbox#x, d#x, f#x, flag#x, i#x, id#xL, s#x, t#x] zarr:`<store>`/t
    |
    |== Optimized Logical Plan ==
    |Project [id#xL]
    |+- Filter ((((((((isnotnull(t#x) AND (id#xL >= 5)) AND (i#x <= 200)) AND (s#x >= -15)) AND (b#x <= 20)) AND ((d#x >= -0.0) OR (f#x <= NaN))) AND (t#x <= 2020-03-01 12:00:00)) AND (if ((i#x > 0)) flag#x else true OR (date_add(cast(t#x as date), 7) <= 2020-02-01))) AND bbox_intersects(bbox#x, 0.0, 0.0, 60.0, 60.0))
    |   +- RelationV2[b#x, bbox#x, d#x, f#x, flag#x, i#x, id#xL, s#x, t#x] zarr:`<store>`/t
    |
    |== Physical Plan ==
    |*(1) Project [id#xL]
    |+- *(1) Filter ((((((((isnotnull(t#x) AND (id#xL >= 5)) AND (i#x <= 200)) AND (s#x >= -15)) AND (b#x <= 20)) AND ((d#x >= -0.0) OR (f#x <= NaN))) AND (t#x <= 2020-03-01 12:00:00)) AND (if ((i#x > 0)) flag#x else true OR (date_add(cast(t#x as date), 7) <= 2020-02-01))) AND bbox_intersects(bbox#x, 0.0, 0.0, 60.0, 60.0))
    |   +- *(1) ColumnarToRow
    |      +- BatchScan zarr:`<store>`/t[b#x, bbox#x, d#x, f#x, flag#x, i#x, id#xL, s#x, t#x] ZarrScan(path=<store>, columns=[b,bbox,d,f,flag,i,id,s,t], PushedFilters: [IsNotNull(t), GreaterThanOrEqual(id,5), LessThanOrEqual(i,200), GreaterThanOrEqual(s,-15), LessThanOrEqual(b,20), Or(GreaterThanOrEqual(d,-0.0),LessThanOrEqual(f,NaN)), LessThanOrEqual(t,2020-03-01T12:00)], PushedBbox: bbox intersects [0.0, 0.0, 60.0, 60.0]) RuntimeFilters: []
    |""".stripMargin.stripPrefix("\n")
}
