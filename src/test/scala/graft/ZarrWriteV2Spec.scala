package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import org.apache.spark.sql.functions._

import graft.zarr.{ZarrCodec, ZarrMeta, ZarrType}

/**
 * Zarr v2 WRITE path (`option("zarr_format", "2")`): the engine emits the
 * `.zarray`/`.zgroup`/`.zmetadata` layout zarr-python 2.x reads, with bare
 * integer chunk keys and numcodecs compressor objects — the write-side
 * completion of the v2 READ support (ZarrV2Spec). Byte-level interop
 * evidence: the documents are re-parsed by our own spec-derived v2 parser
 * and the chunk frames are the same numcodecs framings ZarrV2Spec's
 * hand-built fixtures pin (no zarr-python exists in this container —
 * same boundary README documents for blosc).
 */
class ZarrWriteV2Spec extends SparkSpec {

  private def writeV2(dir: String, group: String = "/meta",
      compression: String = "zstd", chunkRows: Int = 2): Unit = {
    val df = spark.createDataFrame(Seq(
      (1L, 10, "alpha", 1.5, 2.5f, true, LocalDateTime.of(2023, 1, 1, 0, 0)),
      (2L, 20, "béta", -0.5, 0f, false, LocalDateTime.of(2023, 6, 15, 12, 30)),
      (3L, 30, "", 99.25, -1f, true, LocalDateTime.of(2024, 2, 29, 23, 59))))
      .toDF("id", "n", "s", "d", "f", "b", "ts")
    df.coalesce(1).write.format("zarr").option("group", group)
      .option("zarr_format", "2").option("chunk_rows", chunkRows.toString)
      .option("compression", compression).mode("overwrite").save(dir)
  }

  test("v2 write emits the .zarray/.zgroup/.zmetadata layout with bare chunk keys") {
    val dir = tempDir("zw2_layout") + "/store.zarr"
    writeV2(dir)
    // v2 markers present, v3 document absent, everywhere
    assert(Files.exists(Paths.get(dir, ".zgroup")))
    assert(Files.exists(Paths.get(dir, "meta", ".zgroup")))
    assert(Files.exists(Paths.get(dir, "meta", ".zmetadata")))
    assert(Files.exists(Paths.get(dir, "meta", "id", ".zarray")))
    // xarray interop: every array carries the _ARRAY_DIMENSIONS attribute
    val attrs = new String(Files.readAllBytes(
      Paths.get(dir, "meta", "id", ".zattrs")), "UTF-8")
    assert(attrs.contains("_ARRAY_DIMENSIONS"))
    val zmeta = new String(Files.readAllBytes(
      Paths.get(dir, "meta", ".zmetadata")), "UTF-8")
    assert(zmeta.contains("id/.zattrs"), ".zattrs consolidated too")
    assert(!Files.exists(Paths.get(dir, "zarr.json")))
    assert(!Files.exists(Paths.get(dir, "meta", "zarr.json")))
    assert(!Files.exists(Paths.get(dir, "meta", "id", "zarr.json")))
    // chunk objects at the bare v2 key "<i>", not v3's "c/<i>"
    assert(Files.exists(Paths.get(dir, "meta", "id", "0")))
    assert(Files.exists(Paths.get(dir, "meta", "id", "1")))
    assert(!Files.exists(Paths.get(dir, "meta", "id", "c")))
  }

  test("v2 .zarray documents re-parse to the exact dtypes and codec chains") {
    val dir = tempDir("zw2_meta") + "/store.zarr"
    writeV2(dir)
    def meta(col: String) = ZarrMeta.parseArrayV2(s"meta/$col", col,
      new String(Files.readAllBytes(Paths.get(dir, "meta", col, ".zarray")), "UTF-8"))
    val id = meta("id")
    assert(id.dtype == ZarrType.ZInt64 && id.length == 3 && id.chunkLength == 2)
    assert(id.v2Keys, "v2 arrays must use bare chunk keys")
    assert(id.codecs == Seq(ZarrCodec.BytesCodec(true), ZarrCodec.ZstdCodec(0, false)))
    assert(meta("n").dtype == ZarrType.ZInt32)
    assert(meta("d").dtype == ZarrType.ZFloat64)
    assert(meta("f").dtype == ZarrType.ZFloat32)
    assert(meta("b").dtype == ZarrType.ZBool)
    assert(meta("ts").dtype == ZarrType.ZDatetime64("us", 1L))
    val s = meta("s") // |O dtype resolved through the vlen-utf8 filter
    assert(s.dtype == ZarrType.ZString)
    assert(s.codecs == Seq(ZarrCodec.VlenUtf8Codec, ZarrCodec.ZstdCodec(0, false)))
    val raw = new String(Files.readAllBytes(Paths.get(dir, "meta", "s", ".zarray")), "UTF-8")
    assert(raw.contains("\"|O\"") && raw.contains("vlen-utf8")
      && raw.contains("\"zarr_format\":2") && raw.contains("\"dimension_separator\":\".\""))
  }

  test("v2 roundtrip: every dtype reads back equal through the v2 scan path") {
    for (compression <- Seq("zstd", "blosc")) {
      val dir = tempDir("zw2_rt") + "/store.zarr"
      writeV2(dir, compression = compression)
      val back = spark.read.format("zarr").option("group", "/meta").load(dir)
        .orderBy("id").select("id", "n", "s", "d", "f", "b", "ts").collect()
      assert(back.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), compression)
      assert(back.map(_.getInt(1)).toSeq == Seq(10, 20, 30))
      assert(back.map(_.getString(2)).toSeq == Seq("alpha", "béta", ""))
      assert(back.map(_.getDouble(3)).toSeq == Seq(1.5, -0.5, 99.25))
      assert(back.map(_.getFloat(4)).toSeq == Seq(2.5f, 0f, -1f))
      assert(back.map(_.getBoolean(5)).toSeq == Seq(true, false, true))
      assert(back.map(_.getAs[LocalDateTime](6)).toSeq == Seq(
        LocalDateTime.of(2023, 1, 1, 0, 0), LocalDateTime.of(2023, 6, 15, 12, 30),
        LocalDateTime.of(2024, 2, 29, 23, 59)), compression)
    }
  }

  test("v2 binary columns roundtrip (|O + vlen-bytes), null timestamps stay null") {
    val dir = tempDir("zw2_bin") + "/store.zarr"
    val rows = (0L until 10L).map { i =>
      val blob: Array[Byte] =
        if (i == 3) Array.emptyByteArray
        else Array.tabulate[Byte]((i % 4).toInt * 2 + 1)(j => (i * 17 + j).toByte)
      val ts = if (i == 5) null else LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(i)
      (i, blob, ts)
    }
    spark.createDataFrame(rows).toDF("id", "blob", "ts")
      .coalesce(1).write.format("zarr").option("group", "/m")
      .option("zarr_format", "2").option("chunk_rows", "4")
      .option("compression", "blosc").mode("overwrite").save(dir)
    val doc = new String(Files.readAllBytes(Paths.get(dir, "m", "blob", ".zarray")), "UTF-8")
    assert(doc.contains("vlen-bytes") && doc.contains("\"id\":\"blosc\""))
    val back = spark.read.format("zarr").option("group", "/m").load(dir)
      .orderBy("id").collect()
    rows.foreach { case (i, blob, ts) =>
      assert(back(i.toInt).getAs[Array[Byte]]("blob").toSeq == blob.toSeq, s"row $i")
      assert(back(i.toInt).getAs[LocalDateTime]("ts") == ts, s"row $i")
    }
  }

  test("v2 .zmetadata alone plans the scan (object-store planning = 1 read)") {
    val dir = tempDir("zw2_cons") + "/store.zarr"
    writeV2(dir)
    // delete every per-array document: consolidated metadata must carry planning
    for (col <- Seq("id", "n", "s", "d", "f", "b", "ts"))
      Files.delete(Paths.get(dir, "meta", col, ".zarray"))
    val back = spark.read.format("zarr").option("group", "/meta").load(dir)
    assert(back.count() == 3)
    assert(back.select(sum("n")).head().getLong(0) == 60L)
  }

  test("distributed v2 write: row_index routes whole chunks to bare keys") {
    val dir = tempDir("zw2_par") + "/store.zarr"
    val n = 5000
    val chunk = 500
    spark.range(n).select(
      col("id").as("idx"), (col("id") * 7).as("v"))
      .repartition((col("idx") / chunk).cast("int"))
      .sortWithinPartitions("idx")
      .write.format("zarr").option("group", "/g").option("zarr_format", "2")
      .option("chunk_rows", chunk.toString).option("row_index", "idx")
      .mode("overwrite").save(dir)
    assert(Files.exists(Paths.get(dir, "g", "v", "0")))
    assert(Files.exists(Paths.get(dir, "g", "v", "9")))
    val back = spark.read.format("zarr").option("group", "/g").load(dir)
    assert(back.count() == n)
    assert(back.agg(sum(col("v"))).head().getLong(0) == 7L * n * (n - 1) / 2)
  }

  test("reserved column names fail fast, before any chunk is written") {
    // a column named after a metadata object would shadow it with a chunk
    // DIRECTORY and break the commit's atomic rename AFTER all data I/O
    for (bad <- Seq(".zmetadata", ".zgroup", ".zarray", ".zattrs", "zarr.json",
        "_graft_stats.json")) {
      val dir = tempDir("zw2_resv") + "/s.zarr"
      val e = intercept[Exception] {
        spark.range(3).toDF("id").withColumn(bad, col("id"))
          .coalesce(1).write.format("zarr").option("group", "/g")
          .option("zarr_format", "2").mode("overwrite").save(dir)
      }
      assert(e.getMessage != null && e.getMessage.contains("reserved"), bad)
      assert(!Files.exists(Paths.get(dir, "g")), s"no partial store for '$bad'")
    }
  }

  test("group overwrite invalidates a stale store-root consolidated .zmetadata") {
    val dir = tempDir("zw2_rootmeta") + "/store.zarr"
    writeV2(dir)
    // simulate zarr-python's root-level consolidation of the OLD table
    Files.write(Paths.get(dir, ".zmetadata"),
      """{"zarr_consolidated_format":1,"metadata":{}}""".getBytes("UTF-8"))
    writeV2(dir) // overwrite the group
    // the stale root cache must be gone (readers fall back to listing)
    assert(!Files.exists(Paths.get(dir, ".zmetadata")))
    // and the fresh group-level consolidation still plans the scan
    assert(spark.read.format("zarr").option("group", "/meta").load(dir).count() == 3)
  }

  test("v2 write guards: no sharding, no streaming, zarr_format validated") {
    val df = spark.range(4).toDF("id")
    val e1 = intercept[Exception] {
      df.coalesce(1).write.format("zarr").option("group", "/g")
        .option("zarr_format", "2").option("chunk_rows", "4")
        .option("shard_rows", "2").mode("overwrite")
        .save(tempDir("zw2_g1") + "/s.zarr")
    }
    assert(e1.getMessage != null && e1.getMessage.contains("no sharding"))
    val e2 = intercept[Exception] {
      df.coalesce(1).write.format("zarr").option("group", "/g")
        .option("zarr_format", "4").mode("overwrite")
        .save(tempDir("zw2_g2") + "/s.zarr")
    }
    assert(e2.getMessage != null && e2.getMessage.contains("zarr_format"))
    // streaming sink is v3-only: its epoch commits republish v3 metadata
    val sink = tempDir("zw2_g3") + "/s.zarr"
    val chk = tempDir("zw2_g3_chk")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    mem.addData(1L, 2L)
    val err = interceptQuietly[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = mem.toDF().toDF("id").writeStream.format("zarr")
        .option("group", "/g").option("zarr_format", "2")
        .option("checkpointLocation", chk).start(sink)
      try q.processAllAvailable() finally q.stop()
    }
    def hasMsg(t: Throwable): Boolean =
      t != null && ((t.getMessage != null && t.getMessage.contains("v3 stores only"))
        || hasMsg(t.getCause))
    assert(hasMsg(err))
  }
}
