package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._

import graft.sources.{ZarrInputPartition, ZarrScan}
import graft.zarr.{ZarrStats, ZarrStore}

/**
 * Chunk-statistics sidecar + filter-pushdown pruning:
 *  - the DSv2 write path emits per-chunk min/max/nulls,
 *  - the scan plans only the chunk ranges a pushed filter can match,
 *  - results NEVER depend on stats (filters stay residual): missing or
 *    corrupt sidecars keep full scans and identical answers.
 */
class ZarrStatsSpec extends SparkSpec {

  /** 100 rows, chunk_rows=10 → 10 chunks; id dense ascending so id-range
   *  filters map cleanly onto chunks. */
  private def writeStore(): String = {
    val dir = tempDir("zstats") + "/store.zarr"
    val df = spark.range(100).select(
      col("id"),
      (col("id") * 2).as("even"),
      concat(lit("name_"), format_string("%03d", col("id"))).as("name"),
      (col("id").cast("double") / 4.0).as("score"),
      // string nulls are WRITTEN as "" (fill) → read back non-null
      when(col("id") < 50, col("id").cast("string")).as("half_null"),
      // timestamp nulls are WRITTEN as NaT → read back as real nulls
      when(col("id") < 50, timestamp_seconds(col("id")).cast("timestamp_ntz"))
        .as("ts_null"))
    df.coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "10").mode("overwrite").save(dir)
    dir
  }

  private def read(dir: String): DataFrame =
    spark.read.format("zarr").option("group", "/t")
      .option("target_partition_rows", "10").load(dir)

  private def nParts(df: DataFrame): Int = df.queryExecution.toRdd.getNumPartitions

  test("write path emits a per-chunk stats sidecar") {
    val dir = writeStore()
    val stats = ZarrStats.read(new ZarrStore(dir, spark.sessionState.newHadoopConf()), "/t").get
    assert(stats.chunkRows == 10 && stats.nChunks == 10 && stats.totalRows == 100)
    val id = stats.columns("id")
    assert(id.min.toSeq == (0 until 10).map(c => (c * 10).toString))
    assert(id.max.toSeq == (0 until 10).map(c => (c * 10 + 9).toString))
    assert(id.nulls.forall(_ == 0))
    // string nulls read back as "" (the write fill), so stats must report
    // them as "" values, not nulls — or IsNotNull pruning would drop them
    val hn = stats.columns("half_null")
    assert(hn.nulls.forall(_ == 0))
    assert(hn.min(5) == "" && hn.max(5) == "")
    // timestamp nulls read back as real nulls (NaT) → counted
    val tn = stats.columns("ts_null")
    assert(tn.nulls.toSeq == Seq(0L, 0L, 0L, 0L, 0L, 10L, 10L, 10L, 10L, 10L))
    assert(tn.min(5) == null && tn.max(9) == null) // all-null chunks carry no bounds
    assert(tn.min(2) == (20L * 1000000L).toString) // micros since epoch
    val nm = stats.columns("name")
    assert(nm.min(3) == "name_030" && nm.max(3) == "name_039")
  }

  test("range filters prune partitions and keep exact results") {
    val dir = writeStore()
    val full = read(dir)
    assert(nParts(full) == 10)
    val hi = full.filter(col("id") >= 95)
    assert(nParts(hi) == 1)
    assert(hi.select("id").collect().map(_.getLong(0)).sorted.toSeq == (95L to 99L))
    val band = full.filter(col("id") >= 33 && col("id") < 47)
    assert(nParts(band) == 2) // chunks 3 and 4
    assert(band.count() == 14)
    val none = full.filter(col("id") > 1000)
    assert(nParts(none) == 0 && none.count() == 0)
    val eq = full.filter(col("name") === "name_042")
    assert(nParts(eq) == 1)
    assert(eq.select("id").head().getLong(0) == 42L)
    val dbl = full.filter(col("score") < 2.5) // ids 0..9 → chunk 0
    assert(nParts(dbl) == 1 && dbl.count() == 10)
  }

  test("null-aware pruning: IsNull / IsNotNull use per-chunk null counts") {
    val dir = writeStore()
    val full = read(dir)
    // timestamp column: NaT rows ARE null on read → null counts prune both ways
    val nulls = full.filter(col("ts_null").isNull)
    assert(nParts(nulls) == 5 && nulls.count() == 50)
    val notNulls = full.filter(col("ts_null").isNotNull)
    assert(nParts(notNulls) == 5 && notNulls.count() == 50)
    // comparison predicates are false on null → all-null ranges pruned
    val cmpOnNull = full.filter(col("ts_null") >
      timestamp_seconds(lit(0)).cast("timestamp_ntz"))
    assert(nParts(cmpOnNull) == 5 && cmpOnNull.count() == 49)
    // string column: nulls were written as "" fills → read back NON-null,
    // and the stats say so: IsNotNull keeps everything, IsNull keeps nothing
    val strNotNull = full.filter(col("half_null").isNotNull)
    assert(nParts(strNotNull) == 10 && strNotNull.count() == 100)
    val strNull = full.filter(col("half_null").isNull)
    assert(nParts(strNull) == 0 && strNull.count() == 0)
  }

  test("disjunctions prune only when BOTH sides prove empty; conjunctions either") {
    val dir = writeStore()
    val full = read(dir)
    val or2 = full.filter(col("id") < 10 || col("id") >= 90)
    assert(nParts(or2) == 2 && or2.count() == 20)
    val andMixed = full.filter(col("id") < 10 && col("name") =!= "nope")
    assert(nParts(andMixed) == 1 && andMixed.count() == 10)
  }

  /** Four 10-row chunks per task: ranges can hold several kept chunks. */
  private def readWide(dir: String): DataFrame =
    spark.read.format("zarr").option("group", "/t")
      .option("target_partition_rows", "40").load(dir)

  private def scanOf(df: DataFrame): ZarrScan =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.collect { case z: ZarrScan => z }.get

  private def layout(df: DataFrame): Seq[(Long, Long)] =
    scanOf(df).planInputPartitions().toSeq.map { case p: ZarrInputPartition => (p.start, p.end) }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("chunks are pruned one at a time, then kept neighbours coalesce into ranges") {
    // one leaf core: no core is spare, so coalescing alone shapes the plan
    withSQLConf("spark.sql.leafNodeDefaultParallelism" -> "1") {
      val dir = writeStore()
      val full = readWide(dir)
      // nothing pruned: ranges cut every 40 rows from 0
      assert(layout(full) == Seq((0L, 40L), (40L, 80L), (80L, 100L)))
      val hi = full.filter(col("id") >= 95)
      assert(layout(hi) == Seq((90L, 100L)))
      assert(ids(hi) == (95L to 99L))
      val band = full.filter(col("id") >= 33 && col("id") < 47)
      assert(layout(band) == Seq((30L, 50L))) // chunks 3 and 4, one task
      assert(ids(band) == (33L to 46L))
      // statistics count the kept chunks' rows, not the ranges they sat in
      val stats = scanOf(band).asInstanceOf[SupportsReportStatistics].estimateStatistics()
      assert(stats.numRows().getAsLong == 20L)
      val or2 = full.filter(col("id") < 10 || col("id") >= 90)
      assert(layout(or2) == Seq((0L, 10L), (90L, 100L)))
      assert(ids(or2) == (0L to 9L) ++ (90L to 99L))
      // a run longer than target_partition_rows starts at its first kept chunk
      val tail = full.filter(col("id") >= 15)
      assert(layout(tail) == Seq((10L, 50L), (50L, 90L), (90L, 100L)))
      assert(ids(tail) == (15L to 99L))
    }
  }

  test("kept chunks split evenly across the session's cores, never past the target") {
    // the shared session is local[4] and sets no leafNodeDefaultParallelism:
    // the split falls back to the context's default parallelism
    assert(spark.sparkContext.defaultParallelism == 4)
    val dir = writeStore()
    val full = readWide(dir)
    // 100 rows over 4 cores → 25, rounded up to whole 10-row chunks
    assert(layout(full) == Seq((0L, 30L), (30L, 60L), (60L, 90L), (90L, 100L)))
    val band = full.filter(col("id") >= 33 && col("id") < 47)
    assert(layout(band) == Seq((30L, 40L), (40L, 50L))) // two kept chunks, two tasks
    assert(scanOf(band).asInstanceOf[SupportsReportStatistics].estimateStatistics()
      .numRows().getAsLong == 20L)
    val hi = full.filter(col("id") >= 95)
    assert(layout(hi) == Seq((90L, 100L)))
    for (q <- Seq(full, band, hi, full.filter(col("id") < 10 || col("id") >= 90),
        full.filter(col("id") >= 15))) {
      assert(layout(q).forall { case (s, e) => e - s <= 40L }, layout(q))
      val oneCore = withSQLConf("spark.sql.leafNodeDefaultParallelism" -> "1")(ids(q))
      assert(ids(q) == oneCore)
      assert(q.collect().nonEmpty)
      val node = new AdaptiveSparkPlanHelper {}.collect(q.queryExecution.executedPlan) {
        case b: BatchScanExec => b
      }.head
      assert(node.metrics(ZarrScan.RangesPlannedMetric).value == layout(q).length.toLong)
    }
    assert(ids(band) == (33L to 46L))
  }

  test("bbox pruning keeps only the chunk under the box inside a multi-chunk range") {
    import graft.functions.GeoFunctions
    GeoFunctions.register(spark)
    val dir = writeGeoStore()
    // box [34,36]² lies in chunk 3, which shares a 40-row range with chunks 0..2
    val q = readWide(dir).filter(GeoFunctions.bbox_intersects(col("bbox"), 34, 34, 36, 36))
    assert(layout(q) == Seq((30L, 40L)))
    assert(ids(q) == (33L to 37L))
  }

  test("the scan node reports chunks, chunks pruned and ranges planned as SQL metrics") {
    val dir = writeStore()
    val q = readWide(dir).filter(col("id") < 10 || col("id") >= 90)
    assert(q.collect().length == 20)
    val node = new AdaptiveSparkPlanHelper {}.collect(q.queryExecution.executedPlan) {
      case b: BatchScanExec => b
    }.head
    val m = node.metrics
    assert(m(ZarrScan.ChunksMetric).value == 10L, node.metrics)
    assert(m(ZarrScan.ChunksPrunedMetric).value == 8L, node.metrics)
    assert(m(ZarrScan.RangesPlannedMetric).value == 2L, node.metrics)
  }

  test("missing or corrupt sidecar: no pruning, same answers") {
    val dir = writeStore()
    val sidecar = Paths.get(dir, "t", ZarrStats.FileName)
    val expected = read(dir).filter(col("id") >= 95).count()
    // corrupt: grid that doesn't cover the table → ignored
    Files.writeString(sidecar,
      """{"chunk_rows":7,"n_chunks":3,"total_rows":21,"columns":{}}""")
    val corrupted = read(dir).filter(col("id") >= 95)
    assert(nParts(corrupted) == 10 && corrupted.count() == expected)
    Files.delete(sidecar)
    val absent = read(dir).filter(col("id") >= 95)
    assert(nParts(absent) == 10 && absent.count() == expected)
  }

  test("garbage VALUE strings in a grid-valid sidecar: no error, no unsound skip") {
    val dir = writeStore()
    val sidecar = Paths.get(dir, "t", ZarrStats.FileName)
    val expected = read(dir).filter(col("id") >= 95).count()
    // grid fields valid, but every numeric bound becomes unparseable
    // garbage — the planner must keep every range (degrade), never throw
    // mid-planning; before the fix this was a NumberFormatException inside
    // planInputPartitions
    val doc = Files.readString(sidecar).replace("\"9", "\"x9").replace("\"0", "\"x0")
      .replace("\"1", "\"x1").replace("\"2", "\"x2").replace("\"3", "\"x3")
      .replace("\"4", "\"x4").replace("\"5", "\"x5").replace("\"6", "\"x6")
      .replace("\"7", "\"x7").replace("\"8", "\"x8")
    Files.writeString(sidecar, doc)
    val q = read(dir).filter(col("id") >= 95)
    assert(nParts(q) == 10, "corrupt bounds must disable pruning, not fake it")
    assert(q.count() == expected)
  }

  test("bool lt on garbage bounds throws (caller degrades) instead of faking equality") {
    // a corrupt bool bound that compared "equal" in both directions would
    // make GreaterThan(c, false) skippable and silently drop true rows
    import graft.sources.ZarrPruning
    import org.apache.spark.sql.sources.GreaterThan
    val bad = Some(ZarrPruning.RangeStats(
      graft.zarr.ZarrType.ZBool, Some("tru"), Some("tru"), 0L, 10L))
    intercept[NumberFormatException] {
      ZarrPruning.skippable(GreaterThan("flag", false), _ => bad)
    }
    // well-formed bounds still evaluate: all-false range skips flag > false
    val allFalse = Some(ZarrPruning.RangeStats(
      graft.zarr.ZarrType.ZBool, Some("false"), Some("false"), 0L, 10L))
    assert(ZarrPruning.skippable(GreaterThan("flag", false), _ => allFalse))
  }

  test("NaN and -0.0: stats record NaN as the max; pruning never drops NaN rows") {
    val dir = tempDir("znan") + "/store.zarr"
    // chunk 0: ordinary values; chunk 1 contains NaN; chunk 2 contains -0.0
    val df = spark.range(30).select(
      col("id"),
      when(col("id") === 15, lit(Double.NaN))
        .when(col("id") === 25, lit(-0.0))
        .otherwise(col("id").cast("double") / 10.0).as("v"))
    df.coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "10").mode("overwrite").save(dir)
    val stats = ZarrStats.read(new ZarrStore(dir, spark.sessionState.newHadoopConf()), "/t").get
    val v = stats.columns("v")
    // NaN is the recorded max of its chunk (Spark orders NaN largest);
    // primitive '<' would have recorded 1.9 and pruning would skip the chunk
    assert(v.max(1) == "NaN")
    assert(v.max(0).toDouble == 0.9)
    // -0.0 is normalized in the bound so `= 0.0` cannot prune past it
    assert(!v.min(2).startsWith("-0"))
    val full = read(dir)
    // `v > 2.5` is satisfied ONLY by the NaN row (ids 0..29 → v <= 2.9;
    // actually 26..29 → 2.6..2.9 also qualify; pick a bound above them)
    val nanOnly = full.filter(col("v") > 10.0)
    assert(nanOnly.count() == 1) // Spark: NaN > 10.0 is TRUE
    assert(nanOnly.head().getLong(0) == 15L)
    // the NaN chunk must remain planned for the > filter
    assert(nParts(full.filter(col("v") > 10.0)) >= 1)
    // -0.0 row still found by an equality against 0.0 with pruning on
    val zero = full.filter(col("v") === 0.0)
    assert(zero.select("id").collect().map(_.getLong(0)).toSet == Set(0L, 25L))
  }

  test("pushed filters appear in EXPLAIN; correctness matches an unfiltered scan") {
    val dir = writeStore()
    val q = read(dir).filter(col("id").between(20, 29))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"))
    val viaFull = read(dir).collect().filter { r =>
      val id = r.getLong(r.fieldIndex("id")); id >= 20 && id <= 29
    }.length
    assert(q.count() == viaFull)
  }

  /** 100 rows, chunk 10: row i carries a 2×2 box centered at (i, i), so
   *  chunk c's envelope is [10c-1, 10c-1, 10c+10, 10c+10] — geometrically
   *  disjoint bands a bbox predicate can prune between. */
  private def writeGeoStore(): String = {
    val dir = tempDir("zbbox") + "/store.zarr"
    val df = spark.range(100).select(
      col("id"),
      concat(
        lit("POLYGON (("),
        (col("id") - 1).cast("double").cast("string"), lit(" "),
        (col("id") - 1).cast("double").cast("string"), lit(", "),
        (col("id") + 1).cast("double").cast("string"), lit(" "),
        (col("id") - 1).cast("double").cast("string"), lit(", "),
        (col("id") + 1).cast("double").cast("string"), lit(" "),
        (col("id") + 1).cast("double").cast("string"), lit(", "),
        (col("id") - 1).cast("double").cast("string"), lit(" "),
        (col("id") + 1).cast("double").cast("string"), lit("))")).as("bbox"))
    df.coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "10").mode("overwrite").save(dir)
    dir
  }

  test("bbox envelopes land in the sidecar; bbox_intersects prunes chunks") {
    import graft.functions.GeoFunctions
    GeoFunctions.register(spark)
    val dir = writeGeoStore()
    val stats = ZarrStats.read(new ZarrStore(dir, spark.sessionState.newHadoopConf()), "/t").get
    val env = stats.envelopes("bbox")
    assert(env.length == 10)
    assert(env(3).toSeq == Seq(29.0, 29.0, 40.0, 40.0)) // chunk 3: ids 30..39 ± 1
    // box [34,36]² intersects only rows 33..37 — all in chunk 3
    val q = read(dir).filter(GeoFunctions.bbox_intersects(col("bbox"), 34, 34, 36, 36))
    assert(nParts(q) == 1)
    assert(q.select("id").collect().map(_.getLong(0)).sorted.toSeq == (33L to 37L))
    assert(q.queryExecution.executedPlan.toString.contains("PushedBbox"))
    // reported statistics reflect the pruning (broadcast-eligible at scale):
    // one kept 10-row chunk, not the 100-row table
    val rel = q.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.get
    assert(rel.stats.rowCount.contains(BigInt(10)), rel.stats.toString)
    // a box past the data prunes everything
    val none = read(dir).filter(GeoFunctions.bbox_intersects(col("bbox"), 500, 500, 600, 600))
    assert(nParts(none) == 0 && none.count() == 0)
    // spanning box keeps multiple chunks; conjunction with an id filter prunes both ways
    val span = read(dir).filter(GeoFunctions.bbox_intersects(col("bbox"), 15, 15, 45, 45))
    assert(nParts(span) == 4) // chunks 1..4
    val both = read(dir).filter(
      GeoFunctions.bbox_intersects(col("bbox"), 15, 15, 45, 45) && col("id") >= 40)
    assert(nParts(both) == 1 && both.count() == 7) // ids 40..46 (box touch at 45+1)
    // no sidecar → no pruning, same answer
    Files.delete(Paths.get(dir, "t", ZarrStats.FileName))
    val raw = read(dir).filter(GeoFunctions.bbox_intersects(col("bbox"), 34, 34, 36, 36))
    assert(nParts(raw) == 10)
    assert(raw.select("id").collect().map(_.getLong(0)).sorted.toSeq == (33L to 37L))
  }

  test("AND-of-comparisons over bbox_envelope fields prunes like bbox_intersects") {
    import graft.functions.GeoFunctions
    GeoFunctions.register(spark)
    val dir = writeGeoStore()
    // the manual spelling of intersects(34,34,36,36): four envelope-field
    // conjuncts extract to the same prune box → same single kept chunk
    val q = read(dir).filter(
      GeoFunctions.bbox_envelope(col("bbox")).getField("maxx") >= 34 &&
      GeoFunctions.bbox_envelope(col("bbox")).getField("minx") <= 36 &&
      GeoFunctions.bbox_envelope(col("bbox")).getField("maxy") >= 34 &&
      GeoFunctions.bbox_envelope(col("bbox")).getField("miny") <= 36)
    assert(nParts(q) == 1, q.queryExecution.executedPlan.toString)
    assert(q.select("id").collect().map(_.getLong(0)).sorted.toSeq == (33L to 37L))
    // a PARTIAL conjunction still prunes on its one constrained side:
    // maxx >= 85 keeps only chunks whose envelope reaches 85 (chunks 8, 9)
    val partial = read(dir).filter(
      GeoFunctions.bbox_envelope(col("bbox")).getField("maxx") >= 85)
    assert(nParts(partial) == 2, partial.queryExecution.executedPlan.toString)
    assert(partial.select("id").collect().map(_.getLong(0)).min == 84L) // 84+1 >= 85
    // strict > is treated as >= (weaker prune, never wrong)
    val strict = read(dir).filter(
      GeoFunctions.bbox_envelope(col("bbox")).getField("maxx") > 85)
    assert(nParts(strict) == 2)
    assert(strict.select("id").collect().map(_.getLong(0)).min == 85L)
  }

  test("non-foldable bbox args: filter stays, no prune — correct but unpruned") {
    import graft.functions.GeoFunctions
    GeoFunctions.register(spark)
    val dir = writeGeoStore()
    // box bounds computed from a COLUMN are not foldable: the rule must
    // leave the scan unpruned (all 10 chunk partitions) and the filter
    // intact — correctness never depends on the prune firing. (Integer
    // id*0+34 would constant-fold; double x*0.0 cannot — NaN semantics.)
    def bound(v: Double) =
      org.apache.spark.sql.functions.greatest(lit(v),
        col("id").cast("double") * lit(0.0))
    val q = read(dir).filter(GeoFunctions.bbox_intersects(col("bbox"),
      bound(34), bound(34), bound(36), bound(36)))
    assert(nParts(q) == 10, q.queryExecution.executedPlan.toString)
    assert(!q.queryExecution.executedPlan.toString.contains("PushedBbox"))
    assert(q.select("id").collect().map(_.getLong(0)).sorted.toSeq == (33L to 37L))
  }

  test("a non-foldable bbox conjunct does not mask a later literal one") {
    import graft.functions.GeoFunctions
    GeoFunctions.register(spark)
    val dir = writeGeoStore()
    def bound(v: Double) =
      org.apache.spark.sql.functions.greatest(lit(v),
        col("id").cast("double") * lit(0.0))
    // first conjunct non-foldable, second all-literal: extraction must keep
    // looking (collect+headOption — collectFirst stopped at the first match
    // and lost the prune)
    val q = read(dir).filter(
      GeoFunctions.bbox_intersects(col("bbox"), bound(0), bound(0), bound(99), bound(99)) &&
      GeoFunctions.bbox_intersects(col("bbox"), lit(34.0), lit(34.0), lit(36.0), lit(36.0)))
    assert(nParts(q) < 10, q.queryExecution.executedPlan.toString)
    assert(q.select("id").collect().map(_.getLong(0)).sorted.toSeq == (33L to 37L))
  }

  test("bbox_extent aggregate: update + merge across partitions, null groups") {
    import graft.functions.GeoFunctions
    GeoFunctions.register(spark)
    def poly(x0: Int, y0: Int, x1: Int, y1: Int): String =
      s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"
    val rows = (0 until 100).map { i =>
      val g = if (i % 2 == 0) "even" else "odd"
      (g, poly(i, -i, i + 5, -i + 5))
    } :+ ("empty", "POLYGON EMPTY") :+ ("empty", null.asInstanceOf[String])
    // 8 partitions force the merge path, not just per-row update
    val df = spark.createDataFrame(rows).toDF("g", "wkt").repartition(8)
    val out = df.groupBy("g")
      .agg(GeoFunctions.bbox_extent(col("wkt")).as("e"))
      .select(col("g"), col("e.minx"), col("e.miny"), col("e.maxx"), col("e.maxy"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null
         else (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out("even") == ((0.0, -98.0, 103.0, 5.0)))
    assert(out("odd") == ((1.0, -99.0, 104.0, 4.0)))
    assert(out("empty") == null) // no parseable geometry → null extent
    // SQL surface resolves too
    spark.createDataFrame(rows).toDF("g", "wkt").createOrReplaceTempView("wkt_rows")
    val whole = spark.sql("SELECT bbox_extent(wkt) AS e FROM wkt_rows")
      .select("e.maxx").head()
    assert(whole.getDouble(0) == 104.0)
  }
}
