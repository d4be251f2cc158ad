package graft

import java.time.LocalDateTime

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.ZarrQueries
import graft.zarr.{ZarrSchema, ZarrStore}

/**
 * Goldens ported from the reference:
 *  - schema inference (reference: src/schema.rs:127-161)
 *  - array values (reference: src/testing/load_into_arrow.rs:76-97)
 *  - E2E `SELECT *` 3×3 (reference: src/table_provider.rs:307-325)
 *  - the reference's *ignored* projection+filter test
 *    (src/table_provider.rs:327-358) — its known capability gap, passing here.
 *
 * All of them run against a golden store committed as a test resource
 * (`src/test/resources/zarr_store.zarr`, laid out as FIXTURES.md §1): its
 * `zarr.json` documents are hand-written and its chunks were compressed by
 * the `zstd` command-line tool, so the decode path is proven against bytes
 * this codebase did not produce — not a writer/reader closed loop.
 */
class ZarrSourceSpec extends SparkSpec {

  val refStore: String = java.nio.file.Paths.get(
    getClass.getResource("/zarr_store.zarr").toURI).toString

  def refTable = spark.read.format("zarr").option("group", "/meta").load(refStore)

  test("schema inference matches the reference golden (schema.rs:127-161)") {
    val store = new ZarrStore(refStore, spark.sessionState.newHadoopConf())
    val schema = ZarrSchema.infer(store, "/meta")
    assert(schema.fieldNames.toSeq == Seq("bbox", "collection", "date")) // name-sorted
    assert(schema("bbox").dataType == StringType)
    assert(schema("bbox").metadata.getString("geoarrow.type") == "wkt")
    assert(schema("bbox").metadata.getString("crs") == "EPSG:4326")
    assert(schema("collection").dataType == StringType)
    assert(!schema("collection").nullable)
    assert(schema("date").dataType == TimestampNTZType)
    assert(schema("date").nullable) // documented deviation: NaT → null
  }

  test("SELECT * over the reference's committed store: 3x3 with golden values " +
      "(table_provider.rs:307-325, load_into_arrow.rs:76-97)") {
    val rows = refTable.orderBy("collection").collect()
    assert(rows.length == 3)
    assert(rows.head.length == 3)
    assert(rows.map(_.getAs[String]("collection")).toSeq ==
      Seq("collection_a", "collection_b", "collection_c"))
    // 1672531200000/1672617600000/1672704000000 ms = 2023-01-01/02/03 UTC
    assert(rows.map(_.getAs[LocalDateTime]("date")).toSeq == Seq(
      LocalDateTime.of(2023, 1, 1, 0, 0),
      LocalDateTime.of(2023, 1, 2, 0, 0),
      LocalDateTime.of(2023, 1, 3, 0, 0)))
    // shapely.to_wkt(shapely.box(-r,-r,r,r)) layout (scripts/generate_data.py:23-29)
    assert(rows.map(_.getAs[String]("bbox")).toSeq == Seq(10, 20, 30).map(r =>
      s"POLYGON (($r -$r, $r $r, -$r $r, -$r -$r, $r -$r))"))
  }

  test("the reference's ignored projection+filter test passes here " +
      "(table_provider.rs:327-358)") {
    val out = refTable
      .filter(col("collection") === "collection_a")
      .select("collection", "date")
      .collect()
    assert(out.length == 1)
    assert(out.head.length == 2)
    assert(out.head.getString(0) == "collection_a")
    assert(out.head.getAs[LocalDateTime](1) == LocalDateTime.of(2023, 1, 1, 0, 0))
  }

  test("column pruning reaches the scan (the gap the reference acknowledges at " +
      "table_provider.rs:84/228)") {
    val plan = refTable.select("collection").queryExecution.executedPlan.toString
    assert(plan.contains("columns=[collection]"), s"scan not pruned:\n$plan")
    assert(!plan.contains("columns=[bbox,collection,date]"))
  }

  test("the in-repo fixture equals the reference store row-for-row") {
    val ours = ZarrQueries.zarrTable(spark).orderBy("collection").collect().toSeq
    val ref = refTable.orderBy("collection").collect().toSeq
    assert(ours == ref)
  }

  test("flagship STAC search: collection+date+bbox predicate") {
    val rows = ZarrQueries.flagship(spark).collect()
    // collection_b (±20 box) and collection_c (±30 box) both intersect
    // (15,15)-(25,25); collection_a (±10) does not reach minx=15
    assert(rows.map(_.getString(0)).toSeq == Seq("collection_b", "collection_c"))
  }

  test("COUNT(*) is answered from metadata — zero chunk reads") {
    val dir = tempDir("zarr_count")
    graft.zarr.ZarrWriter.writeGroup(dir, "/g")
    graft.zarr.ZarrWriter.writeLongArray(dir, "/g", "x", 0L until 50L, chunkLen = 5)
    // delete every chunk object: a metadata-only count still works; a
    // data-reading count could not
    val chunkDir = java.nio.file.Paths.get(dir, "g", "x", "c")
    new java.io.File(chunkDir.toString).listFiles().foreach(_.delete())
    val df = spark.read.format("zarr").option("group", "/g").load(dir)
    val counted = df.agg(count(lit(1)))
    assert(counted.queryExecution.executedPlan.toString.contains("ZarrCountStar"),
      counted.queryExecution.executedPlan.toString.take(500))
    assert(counted.collect().head.getLong(0) == 50L)
    // LIMIT above the pushed aggregate caps the RESULT ROWS (one), not the
    // count: Spark pushes both into the same builder, and min(n, limit)
    // would return 10 here instead of 50
    df.createOrReplaceTempView("zc_t")
    val viaView = spark.sql("SELECT count(*) AS n FROM zc_t LIMIT 10")
    assert(viaView.collect().head.getLong(0) == 50L,
      viaView.queryExecution.executedPlan.toString.take(500))
  }

  test("limit pushdown reads only the chunks the limit needs") {
    val dir = tempDir("zarr_limit")
    graft.zarr.ZarrWriter.writeGroup(dir, "/g")
    graft.zarr.ZarrWriter.writeLongArray(dir, "/g", "x", 0L until 100L, chunkLen = 10)
    val df = spark.read.format("zarr").option("group", "/g")
      .option("target_partition_rows", "10").load(dir)
    val limited = df.limit(4)
    // without limit: 10 partitions; with limit 4: a single 10-row chunk range
    assert(df.rdd.getNumPartitions == 10)
    assert(limited.rdd.getNumPartitions == 1)
    assert(limited.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("GraftExtensions injects all functions into a fresh session's SQL") {
    import org.apache.spark.sql.SparkSession
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // same SparkContext, new session WITH extensions applied at build.
      // (the spark.sql.extensions CONFIG route only applies when the
      // SparkContext itself is built with it; withExtensions is the
      // session-level equivalent)
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      assert(s2 ne old)
      val r = s2.sql("""
        SELECT bbox_intersects('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))', 1, 1, 3, 3) AS hit,
               bbox_envelope('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))').maxx AS mx,
               vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cos,
               vec_dot(array(2.0D, 3.0D), array(4.0D, 5.0D)) AS dp,
               sign_lsh(array(1.0D, 2.0D, 3.0D), 8, 0) AS lsh,
               size(minhash_signature(array('a', 'b', 'c'), 4)) AS mh,
               simhash64('alpha beta gamma') AS sh,
               quality_score('The quick brown fox jumps over the lazy dog.') AS q,
               size(winnow_fingerprints('abcdefghijklmnop', 5, 8)) AS wf,
               word_shingles('a b c d', 3) AS ws
      """).collect().head
      assert(r.getBoolean(0))
      assert(r.getDouble(1) == 2.0)
      assert(r.getDouble(2) == 1.0)
      assert(r.getDouble(3) == 23.0)
      assert(r.getLong(4) >= 0L && r.getLong(4) < 256L)
      assert(r.getInt(5) == 4)
      assert(r.getLong(6) != 0L)
      assert(r.getDouble(7) > 0.0 && r.getDouble(7) <= 1.0)
      assert(r.getInt(8) > 0)
      assert(r.getSeq[String](9) == Seq("a b c", "b c d"))
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("SQL DDL registration: CREATE TABLE ... USING zarr (the reference's " +
      "register_table_provider equivalent via catalog)") {
    spark.sql("DROP TABLE IF EXISTS zarr_ddl")
    spark.sql(s"""
      CREATE TABLE zarr_ddl USING zarr OPTIONS (path '$refStore', group '/meta')""")
    try {
      val rows = spark.sql(
        "SELECT collection, date FROM zarr_ddl WHERE collection = 'collection_a'").collect()
      assert(rows.length == 1 && rows.head.getString(0) == "collection_a")
    } finally spark.sql("DROP TABLE IF EXISTS zarr_ddl")
  }

  test("multi-chunk partition planning: one task per coalesced chunk range") {
    val dir = tempDir("zarr_parts")
    graft.zarr.ZarrWriter.writeGroup(dir, "/g")
    graft.zarr.ZarrWriter.writeLongArray(dir, "/g", "x", 0L until 100L, chunkLen = 10)
    val df = spark.read.format("zarr").option("group", "/g")
      .option("target_partition_rows", "25").load(dir)
    // step = chunk-aligned floor(25/10)*10 = 20 rows → 100/20 = 5 tasks
    assert(df.rdd.getNumPartitions == 5)
    assert(df.agg(sum("x")).collect().head.getLong(0) == 4950L)
  }
}
