package graft

import org.apache.spark.sql.functions._

import graft.zarr._

/**
 * Reference-parity rejection semantics (reference: src/schema.rs:89-122
 * rejects complex/extension/unknown dtypes; the error model is A9 in
 * SURVEY §2) plus structural edge cases the golden store can't exercise:
 * mixed chunk sizes across columns, nested-group skipping, length
 * mismatches, truncated chunks.
 */
class ZarrMetaSpec extends SparkSpec {

  private def meta(dtype: String): String =
    s"""{"shape":[3],"data_type":$dtype,
       |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[3]}},
       |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
       |"fill_value":0,
       |"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
       |"attributes":{},"zarr_format":3,"node_type":"array","storage_transformers":[]}""".stripMargin

  test("complex, unknown, extension dtypes and bad datetime units are rejected") {
    intercept[ZarrException](ZarrMeta.parseArray("p", "x", meta("\"complex64\"")))
    intercept[ZarrException](ZarrMeta.parseArray("p", "x", meta("\"float128\"")))
    intercept[ZarrException](ZarrMeta.parseArray("p", "x",
      meta("""{"name":"fancy.extension","configuration":{}}""")))
    intercept[ZarrException](ZarrMeta.parseArray("p", "x",
      meta("""{"name":"numpy.datetime64","configuration":{"unit":"D","scale_factor":1}}""")))
    intercept[ZarrException](ZarrMeta.parseArray("p", "x", meta("\"r12\""))) // not byte-aligned
  }

  test("zarr-python 3.x ROOT-consolidated stores plan without per-array docs") {
    // zarr.consolidate_metadata(store) writes the consolidation into the
    // ROOT group document with keys RELATIVE TO ROOT ("meta/id"), group
    // entries included — the layout below is that exact shape. Per-array
    // zarr.json documents are DELIBERATELY omitted: successful inference +
    // scan proves the reader plans from the root consolidation (a listing
    // fallback would find no arrays).
    val dir = java.nio.file.Paths.get(tempDir("v3_root_consolidated"))
    def arrayDoc(n: Long) =
      s"""{"shape":[$n],"data_type":"int64",
         |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[$n]}},
         |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
         |"fill_value":0,
         |"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
         |"attributes":{},"zarr_format":3,"node_type":"array","storage_transformers":[]}"""
        .stripMargin.replace("\n", "")
    val root =
      s"""{"zarr_format":3,"node_type":"group","attributes":{},
         |"consolidated_metadata":{"kind":"inline","must_understand":false,
         |"metadata":{
         |"meta":{"zarr_format":3,"node_type":"group","attributes":{}},
         |"meta/id":${arrayDoc(3)},
         |"meta/val":${arrayDoc(3)}}}}""".stripMargin.replace("\n", "")
    java.nio.file.Files.write(dir.resolve("zarr.json"),
      root.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the group's own doc exists (zarr-python keeps per-node docs) but has
    // no consolidation block of its own
    java.nio.file.Files.createDirectories(dir.resolve("meta"))
    java.nio.file.Files.write(dir.resolve("meta").resolve("zarr.json"),
      """{"zarr_format":3,"node_type":"group","attributes":{}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def chunk(vals: Long*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(vals.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(b.putLong); b.array()
    }
    java.nio.file.Files.createDirectories(dir.resolve("meta/id/c"))
    java.nio.file.Files.write(dir.resolve("meta/id/c/0"), chunk(0, 1, 2))
    java.nio.file.Files.createDirectories(dir.resolve("meta/val/c"))
    java.nio.file.Files.write(dir.resolve("meta/val/c/0"), chunk(10, 20, 30))
    val df = spark.read.format("zarr").option("group", "/meta").load(dir.toString)
    assert(df.schema.fieldNames.toSeq == Seq("id", "val"))
    assert(df.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 10L), (1L, 20L), (2L, 30L)))
  }

  test("zero/negative chunk shape and negative array shape are typed rejections") {
    // chunks:[0] would otherwise reach numChunks as divide-by-zero; a
    // negative chunk length turns every decode bound negative (misleading
    // "decodes past its bound" per-chunk failures instead of one clear error)
    val zeroChunk = meta("\"int64\"").replace("\"chunk_shape\":[3]", "\"chunk_shape\":[0]")
    intercept[ZarrException](ZarrMeta.parseArray("p", "x", zeroChunk))
    val negChunk = meta("\"int64\"").replace("\"chunk_shape\":[3]", "\"chunk_shape\":[-3]")
    intercept[ZarrException](ZarrMeta.parseArray("p", "x", negChunk))
    val negShape = meta("\"int64\"").replace("\"shape\":[3]", "\"shape\":[-1]")
    intercept[ZarrException](ZarrMeta.parseArray("p", "x", negShape))
    def v2(shape: String, chunks: String) =
      s"""{"zarr_format":2,"shape":[$shape],"chunks":[$chunks],"dtype":"<i8",
         |"order":"C","filters":null,"compressor":null,"fill_value":0}""".stripMargin
    intercept[ZarrException](ZarrMeta.parseArrayV2("p", "x", v2("3", "0")))
    intercept[ZarrException](ZarrMeta.parseArrayV2("p", "x", v2("3", "-3")))
    intercept[ZarrException](ZarrMeta.parseArrayV2("p", "x", v2("-1", "3")))
  }

  test("2-D arrays parse (trailing dims); non-regular chunk grids are rejected") {
    // round 9: k-D arrays are table columns now — 2-D parses with trailing
    // dims instead of rejecting (the rank mismatch case still rejects)
    val twoD = meta("\"int64\"")
      .replace("\"shape\":[3]", "\"shape\":[3,4]")
      .replace("\"chunk_shape\":[3]", "\"chunk_shape\":[3,2]")
    val m = ZarrMeta.parseArray("p", "x", twoD)
    assert(m.trailingShape == Seq(4L) && m.trailingChunk == Seq(2L) && m.rank == 2)
    val rankMismatch = meta("\"int64\"").replace("\"shape\":[3]", "\"shape\":[3,3]")
    intercept[ZarrException](ZarrMeta.parseArray("p", "x", rankMismatch))
    val weirdGrid = meta("\"int64\"").replace("\"name\":\"regular\"", "\"name\":\"rectilinear\"")
    intercept[ZarrException](ZarrMeta.parseArray("p", "x", weirdGrid))
  }

  test("v2 chunk_key_encoding: bare index keys resolve; unknown encodings still reject") {
    // migrated zarr-v2 store: chunk 1 lives at x/1, not x/c/1
    val dir = tempDir("zarr_v2keys")
    ZarrWriter.writeGroup(dir, "/g")
    ZarrWriter.writeLongArray(dir, "/g", "x", Seq(1L, 2L, 3L, 4L, 5L), 2)
    val xDir = java.nio.file.Paths.get(dir, "g", "x")
    (0 to 2).foreach { i =>
      java.nio.file.Files.move(xDir.resolve(s"c/$i"), xDir.resolve(s"$i"))
    }
    java.nio.file.Files.delete(xDir.resolve("c"))
    val metaPath = xDir.resolve("zarr.json")
    val patched = new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
      .replace("\"name\":\"default\"", "\"name\":\"v2\"")
      .replace("{\"separator\":\"/\"}", "{\"separator\":\".\"}")
    java.nio.file.Files.write(metaPath, patched.getBytes("UTF-8"))
    val out = spark.read.format("zarr").option("group", "/g").load(dir)
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L, 2L, 3L, 4L, 5L))
    // anything else remains a typed rejection
    val bad = meta("\"int64\"").replace("\"name\":\"default\"", "\"name\":\"fancy\"")
    intercept[ZarrException](ZarrMeta.parseArray("p", "x", bad))
  }

  test("non-string bbox column is rejected at schema time (schema.rs:68-73 parity)") {
    val m = ZarrMeta.parseArray("g/bbox", "bbox", meta("\"int64\""))
    intercept[ZarrException](ZarrSchema.toField(m))
  }

  test("mismatched child-array lengths are rejected at inference") {
    val dir = tempDir("zarr_lens")
    ZarrWriter.writeGroup(dir, "/g")
    ZarrWriter.writeLongArray(dir, "/g", "a", Seq(1L, 2L, 3L), 3)
    ZarrWriter.writeLongArray(dir, "/g", "b", Seq(1L, 2L), 2)
    val store = new ZarrStore(dir, spark.sessionState.newHadoopConf())
    val e = intercept[ZarrException](ZarrSchema.infer(store, "/g"))
    assert(e.getMessage.contains("share one length"))
  }

  test("nested groups are skipped as columns; non-zarr dirs ignored") {
    val dir = tempDir("zarr_nested")
    ZarrWriter.writeGroup(dir, "/g")
    ZarrWriter.writeLongArray(dir, "/g", "x", Seq(1L, 2L), 2)
    ZarrWriter.writeGroup(s"$dir/g", "sub") // nested group, not a column
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "g", "junk"))
    val df = spark.read.format("zarr").option("group", "/g").load(dir)
    assert(df.schema.fieldNames.toSeq == Seq("x"))
    assert(df.count() == 2)
  }

  test("columns with different chunk sizes read correctly across boundaries") {
    val dir = tempDir("zarr_mixed")
    ZarrWriter.writeGroup(dir, "/g")
    val n = 30
    ZarrWriter.writeLongArray(dir, "/g", "a", (0L until n).map(_ * 2), chunkLen = 3)
    ZarrWriter.writeLongArray(dir, "/g", "b", (0L until n).map(_ * 5), chunkLen = 7)
    ZarrWriter.writeStringArray(dir, "/g", "s", (0 until n).map(i => s"v$i"), chunkLen = 4)
    // small target → several partitions with ranges aligned to max chunk (7)
    val df = spark.read.format("zarr").option("group", "/g")
      .option("target_partition_rows", "8").load(dir)
    assert(df.rdd.getNumPartitions > 1)
    val rows = df.orderBy("a").collect()
    assert(rows.length == n)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i * 2 && r.getLong(1) == i * 5 && r.getString(2) == s"v$i")
    }
  }

  test("truncated vlen-utf8 chunk fails with a ZarrException, not garbage") {
    val dir = tempDir("zarr_trunc")
    ZarrWriter.writeGroup(dir, "/g")
    ZarrWriter.writeStringArray(dir, "/g", "s", Seq("abc", "defgh", "ij"), 3)
    val chunk = java.nio.file.Paths.get(dir, "g", "s", "c", "0")
    val full = java.nio.file.Files.readAllBytes(chunk)
    // truncate the COMPRESSED stream → zstd or vlen parse must fail loudly
    java.nio.file.Files.write(chunk, full.take(full.length - 3))
    val e = interceptQuietly[Throwable] {
      spark.read.format("zarr").option("group", "/g").load(dir).collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("") + " " + t.getClass.getName).mkString(" | ")
    assert(msgs.contains("vlen-utf8") || msgs.toLowerCase.contains("zstd") ||
      msgs.toLowerCase.contains("corrupt"), msgs)
  }
}
