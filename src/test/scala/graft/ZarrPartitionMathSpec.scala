package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.{ZarrInputPartition, ZarrScan}
import graft.zarr.{ZarrArrayMeta, ZarrCodec, ZarrType}

/**
 * Partition planning math at 100 TB-class shapes, pinned WITHOUT any store
 * I/O: `ZarrScan.planInputPartitions` touches storage only when pruning
 * filters are pushed, so synthetic `ZarrArrayMeta` rows let us assert the
 * exact task layout a trillion-row table would plan (the round-6 verdict's
 * "spec pinning partition math at large shapes").
 */
class ZarrPartitionMathSpec extends SparkSpec {

  private def meta(name: String, length: Long, chunk: Long): ZarrArrayMeta =
    ZarrArrayMeta(name, s"g/$name", length, chunk, ZarrType.ZInt64,
      Seq(ZarrCodec.BytesCodec(true)), "/", "0")

  private def scan(arrays: Seq[ZarrArrayMeta], targetRows: Long,
      limit: Option[Long] = None): ZarrScan = {
    val schema = StructType(arrays.map(a => StructField(a.name, LongType, nullable = false)))
    new ZarrScan("/never/opened", "/g", arrays, schema, targetRows, limit)
  }

  private def ranges(s: ZarrScan): Seq[(Long, Long)] =
    s.planInputPartitions().toSeq.map { p =>
      val zp = p.asInstanceOf[ZarrInputPartition]; (zp.start, zp.end)
    }

  test("a trillion-row table plans 250k aligned tasks, not one") {
    val rows = 1_000_000_000_000L // one int64 column of this = 8 TB raw
    val parts = ranges(scan(Seq(meta("x", rows, 1L << 20)), targetRows = 4L << 20))
    assert(parts.length == 238419) // ceil(1e12 / 4Mi)
    assert(parts.head == (0L, 4L << 20))
    assert(parts.last._2 == rows)
    // contiguous, chunk-aligned, full coverage
    assert(parts.sliding(2).forall { case Seq(a, b) => a._2 == b._1; case _ => true })
    assert(parts.forall(p => p._1 % (1L << 20) == 0))
  }

  test("target_partition_rows floors to a whole multiple of the chunk") {
    // 2.5M target over 1M chunks → 2M steps (never split a chunk)
    val parts = ranges(scan(Seq(meta("x", 10L << 20, 1L << 20)), targetRows = (5L << 20) / 2))
    assert(parts.forall { case (s, e) => (e - s) % (1L << 20) == 0 || e == 10L << 20 })
    assert(parts.head._2 - parts.head._1 == 2L << 20)
  }

  test("target smaller than one chunk still yields whole-chunk tasks") {
    val parts = ranges(scan(Seq(meta("x", 100L, 10L)), targetRows = 3))
    assert(parts == (0L until 100L by 10L).map(s => (s, s + 10L)))
  }

  test("the coarsest chunk grid among required columns sets the alignment") {
    val parts = ranges(scan(
      Seq(meta("a", 4L << 20, 1L << 20), meta("b", 4L << 20, 1L << 18)),
      targetRows = 1L << 20))
    assert(parts.length == 4) // aligned to a's 1M chunks, not b's 256k
    assert(parts.forall(p => (p._2 - p._1) == (1L << 20) || p._2 == 4L << 20))
  }

  test("LIMIT truncates the planned row range exactly") {
    val parts = ranges(scan(Seq(meta("x", 1L << 40, 1L << 20)),
      targetRows = 1L << 20, limit = Some(1234L)))
    assert(parts == Seq((0L, 1234L)))
  }

  test("a scan builds one reader factory, however often planning asks for it") {
    spark // the factory's Hadoop conf comes from the active session
    val s = scan(Seq(meta("x", 100L, 10L)), targetRows = 10L)
    assert(s.createReaderFactory() eq s.createReaderFactory())
  }

  test("empty table plans zero tasks") {
    assert(ranges(scan(Seq(meta("x", 0L, 1L << 20)), targetRows = 1L << 20)).isEmpty)
  }

  test("columnar batches straddling chunk boundaries reassemble rows exactly") {
    val dir = tempDir("zbatch") + "/store.zarr"
    spark.range(100).select(col("id"),
        concat(lit("s"), col("id").cast("string")).as("s"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "10").mode("overwrite").save(dir)
    for (bs <- Seq(1, 7, 10, 13, 4096)) { // 7 and 13 cross chunks mid-batch
      val rows = spark.read.format("zarr").option("group", "/t")
        .option("batch_size", bs.toString).load(dir)
        .orderBy("id").collect()
      assert(rows.map(_.getLong(0)).toSeq == (0L until 100L), s"batch_size=$bs")
      assert(rows.map(_.getString(1)).toSeq == (0 until 100).map(i => s"s$i"), s"batch_size=$bs")
    }
  }

  test("bbox pruning fires on an extensions-only session (SQL path)") {
    // a FRESH session built with extensions only — no register() call, so
    // the optimizer rule must come from resolving the Zarr table, which
    // installs ZarrBboxPruning into the session's User Provided Optimizers
    // batch (not injectPreCBORule: pre-CBO runs before V2 scan pushdown)
    val dir = tempDir("zbbox_ext") + "/store.zarr"
    spark.range(100).select(col("id"),
        concat(lit("POLYGON (("),
          (col("id") - 1).cast("double").cast("string"), lit(" "),
          (col("id") - 1).cast("double").cast("string"), lit(", "),
          (col("id") + 1).cast("double").cast("string"), lit(" "),
          (col("id") - 1).cast("double").cast("string"), lit(", "),
          (col("id") + 1).cast("double").cast("string"), lit(" "),
          (col("id") + 1).cast("double").cast("string"), lit(", "),
          (col("id") - 1).cast("double").cast("string"), lit(" "),
          (col("id") + 1).cast("double").cast("string"), lit("))")).as("bbox"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "10").mode("overwrite").save(dir)
    // same SparkContext, new session WITH extensions applied at build (the
    // pattern ZarrSourceSpec's extensions test uses)
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val fresh = org.apache.spark.sql.SparkSession.builder()
        .withExtensions(new graft.GraftExtensions())
        .getOrCreate()
      assert(fresh ne old)
      fresh.read.format("zarr").option("group", "/t")
        .option("target_partition_rows", "10").load(dir)
        .createOrReplaceTempView("geo")
      val q = fresh.sql("SELECT id FROM geo WHERE bbox_intersects(bbox, 34, 34, 36, 36)")
      assert(q.queryExecution.toRdd.getNumPartitions == 1) // chunk 3 only
      assert(q.collect().map(_.getLong(0)).sorted.toSeq == (33L to 37L))
      // SQL using ONLY envelope-field comparisons must prune too (a query
      // can reach the extraction path without ever resolving
      // bbox_intersects)
      val env = fresh.sql("""
        SELECT id FROM geo
        WHERE bbox_envelope(bbox).maxx >= 34 AND bbox_envelope(bbox).minx <= 36
          AND bbox_envelope(bbox).maxy >= 34 AND bbox_envelope(bbox).miny <= 36""")
      assert(env.queryExecution.toRdd.getNumPartitions == 1,
        env.queryExecution.executedPlan.toString)
      assert(env.collect().map(_.getLong(0)).sorted.toSeq == (33L to 37L))
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(old)
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
    }
  }

  test("real scans execute columnar: ColumnarToRow sits above the Zarr scan") {
    val dir = tempDir("zcolumnar") + "/store.zarr"
    spark.range(100).select(col("id"), (col("id") * 2).as("y"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "10").mode("overwrite").save(dir)
    val df = spark.read.format("zarr").option("group", "/t").load(dir)
      .groupBy().agg(sum("y"))
    assert(df.collect().head.getLong(0) == 9900L)
    // AQE finalizes transitions lazily — inspect the executed final plan
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
  }
}
