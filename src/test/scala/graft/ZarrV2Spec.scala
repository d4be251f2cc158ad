package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.zarr.{ZarrException, ZarrMeta, ZarrWriter}

/**
 * Zarr V2 read path (`.zgroup`/`.zarray`, bare-index chunk keys, numcodecs
 * encodings) over the hand-crafted byte-level fixture
 * ([[ZarrWriter.writeV2Fixture]]): schema inference from numpy typestrs,
 * zlib (RFC-1950) and blosc compressors, the numcodecs vlen-utf8 count-
 * header framing, big-endian decode, missing-chunk fill values, and the
 * padded final chunk. The reference is v3-only — this is extension surface
 * for the majority format of public stores.
 */
class ZarrV2Spec extends SparkSpec {

  private lazy val fixture: String = {
    val dir = Files.createTempDirectory("graft_v2fix").resolve("store.zarr")
    ZarrWriter.writeV2Fixture(dir.toString)
    dir.toString
  }

  private def table() =
    spark.read.format("zarr").option("group", "/meta").load(fixture)

  test("v2 store scans: schema from typestrs, all six arrays decode") {
    val df = table()
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq == Seq(
      ("flag", BooleanType), ("id", LongType), ("name", StringType),
      ("score", DoubleType), ("temp", FloatType), ("ts", TimestampNTZType)))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 7) // padded final chunk trimmed by shape
    assert(rows.map(_.getAs[Long]("id")).toSeq == (0L to 6L))
    assert(rows.map(_.getAs[String]("name")).toSeq == (0 to 6).map("n" + _))
    // big-endian float32 survives
    assert(rows.map(_.getAs[Float]("temp")).toSeq ==
      Seq(1.5f, -2.25f, 3.0f, 0.5f, 10.0f, -0.75f, 99.5f))
    // blosc-compressed bools
    assert(rows.map(_.getAs[Boolean]("flag")).toSeq ==
      Seq(true, false, true, false, false, true, true))
    // missing chunk 1 → fill_value 1.5 for rows 3-5
    assert(rows.map(_.getAs[Double]("score")).toSeq ==
      Seq(0.25, 0.5, 0.75, 1.5, 1.5, 1.5, 6.25))
    // datetime64[ms]
    assert(rows.head.getAs[java.time.LocalDateTime]("ts") ==
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0))
    assert(rows.last.getAs[java.time.LocalDateTime]("ts") ==
      java.time.LocalDateTime.of(2024, 1, 7, 0, 0))
  }

  test("v2 scans prune columns and partition per chunk like v3") {
    val df = table().select("id", "name").filter(col("id") >= 3)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 5L, 6L))
    val scan = table().select("id")
    assert(scan.queryExecution.executedPlan.toString.contains("id"))
    // 7 rows / chunk 3 with tiny target partition rows → one partition per chunk
    val parts = spark.read.format("zarr").option("group", "/meta")
      .option("target_partition_rows", "3").load(fixture)
      .queryExecution.toRdd.getNumPartitions
    assert(parts == 3)
  }

  test(".zmetadata consolidated reads: .zarray files are never needed") {
    // same fixture, but with every per-array .zarray DELETED: schema and
    // values must come entirely from the one consolidated .zmetadata read
    // (what planning on an object store should do — 1 RPC, not O(columns))
    val dir = Files.createTempDirectory("graft_v2cons").resolve("store.zarr")
    ZarrWriter.writeV2Fixture(dir.toString)
    Files.list(dir.resolve("meta")).forEach { child =>
      val za = child.resolve(".zarray")
      if (Files.exists(za)) Files.delete(za)
    }
    val df = spark.read.format("zarr").option("group", "/meta").load(dir.toString)
    assert(df.schema.fieldNames.toSeq ==
      Seq("flag", "id", "name", "score", "temp", "ts"))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 7)
    assert(rows.map(_.getAs[Double]("score")).toSeq ==
      Seq(0.25, 0.5, 0.75, 1.5, 1.5, 1.5, 6.25))
  }

  test("malformed .zmetadata degrades to per-array listing, not failure") {
    val dir = Files.createTempDirectory("graft_v2badcons").resolve("store.zarr")
    ZarrWriter.writeV2Fixture(dir.toString)
    Files.write(dir.resolve("meta").resolve(".zmetadata"),
      "{not json at all".getBytes("UTF-8"))
    val df = spark.read.format("zarr").option("group", "/meta").load(dir.toString)
    assert(df.orderBy("id").collect().length == 7)
  }

  test("v2 corner dtypes: uint64 widens to decimal, |S is fixed binary, gzip decodes") {
    val dir = Files.createTempDirectory("graft_v2dtypes").resolve("s.zarr")
    Files.createDirectories(dir.resolve("g"))
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    put(".zgroup", """{"zarr_format":2}""".getBytes("UTF-8"))
    put("g/.zgroup", """{"zarr_format":2}""".getBytes("UTF-8"))
    // u: uint64 with the high bit set (only Decimal(20,0) can hold it), gzip
    val uRaw = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putLong(java.lang.Long.parseUnsignedLong("18446744073709551615")) // 2^64-1
      .putLong(7L).array()
    val gz = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(uRaw); g.close(); bos.toByteArray
    }
    put("g/u/.zarray",
      """{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"<u8",
        |"compressor":{"id":"gzip","level":5},"fill_value":0,"order":"C","filters":null}"""
        .stripMargin.replace("\n", "").getBytes("UTF-8"))
    put("g/u/0", gz)
    // b: |S3 fixed-width bytes, raw
    put("g/b/.zarray",
      """{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"|S3",
        |"compressor":null,"fill_value":null,"order":"C","filters":null}"""
        .stripMargin.replace("\n", "").getBytes("UTF-8"))
    put("g/b/0", "abcxyz".getBytes("UTF-8"))
    val df = spark.read.format("zarr").option("group", "/g").load(dir.toString)
    import org.apache.spark.sql.types._
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("b", BinaryType), ("u", DecimalType(20, 0))))
    val rows = df.orderBy("u").collect()
    assert(rows.map(_.getAs[java.math.BigDecimal]("u").toString).toSeq ==
      Seq("7", "18446744073709551615"))
    assert(rows.map(r => new String(r.getAs[Array[Byte]]("b"), "UTF-8")).toSeq ==
      Seq("xyz", "abc"))
  }

  test("v2 metadata rejections are typed and name the array") {
    def arr(json: String): ZarrException =
      intercept[ZarrException](ZarrMeta.parseArrayV2("g/x", "x", json))
    // round 9: 2-D parses (k-D support) — but a chunks/shape RANK mismatch
    // is still a typed rejection
    assert(arr("""{"zarr_format":2,"shape":[2,2],"chunks":[1],"dtype":"<i8",
        "compressor":null,"fill_value":0,"order":"C","filters":null}""")
      .getMessage.contains("rank"))
    assert(arr("""{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"<c16",
        "compressor":null,"fill_value":0,"order":"C","filters":null}""")
      .getMessage.contains("dtype"))
    assert(arr("""{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"<i8",
        "compressor":{"id":"zfpy"},"fill_value":0,"order":"C","filters":null}""")
      .getMessage.contains("compressor"))
    assert(arr("""{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"|O",
        "compressor":null,"fill_value":null,"order":"C","filters":null}""")
      .getMessage.contains("vlen"))
  }

  test("a non-store directory still reports 'not a Zarr group'") {
    val empty = Files.createTempDirectory("graft_v2empty")
    Files.createDirectories(empty.resolve("meta"))
    val e = intercept[Exception] {
      spark.read.format("zarr").option("group", "/meta")
        .load(empty.toString).collect()
    }
    assert(e.getMessage.contains("not a Zarr group") ||
      Option(e.getCause).exists(_.getMessage.contains("not a Zarr group")))
  }

  test("streaming sink refuses to append onto a v2-keyed table") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    mem.addData((7L, "x"))
    val e = interceptQuietly[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = mem.toDF().toDF("id", "name").writeStream.format("zarr")
        .option("group", "/meta").option("chunk_rows", "3")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_v2sink_ckpt").toString)
        .start(fixture)
      try q.processAllAvailable() finally q.stop()
    }
    def hasMsg(t: Throwable): Boolean =
      t != null && (t.getMessage != null && t.getMessage.contains("v2 chunk keys") ||
        hasMsg(t.getCause))
    assert(hasMsg(e))
  }

  test("root-level .zmetadata (zarr-python layout) resolves nested groups in one read") {
    // zarr-python consolidates at the STORE ROOT with group-prefixed keys;
    // move the fixture's group-level .zmetadata there, prefix its keys, and
    // delete every .zarray — resolution must come from the root document
    val dir = Files.createTempDirectory("graft_v2rootcons").resolve("store.zarr")
    ZarrWriter.writeV2Fixture(dir.toString)
    val groupMeta = new String(
      Files.readAllBytes(dir.resolve("meta").resolve(".zmetadata")), "UTF-8")
    val rootMeta = groupMeta
      .replace("\".zgroup\"", "\"meta/.zgroup\"")
      .replaceAll("\"([a-z]+)/\\.zarray\"", "\"meta/$1/.zarray\"")
    Files.write(dir.resolve(".zmetadata"), rootMeta.getBytes("UTF-8"))
    Files.delete(dir.resolve("meta").resolve(".zmetadata"))
    Files.list(dir.resolve("meta")).forEach { child =>
      val za = child.resolve(".zarray")
      if (Files.exists(za)) Files.delete(za)
    }
    val df = spark.read.format("zarr").option("group", "/meta").load(dir.toString)
    assert(df.schema.fieldNames.toSeq ==
      Seq("flag", "id", "name", "score", "temp", "ts"))
    assert(df.count() == 7)
  }

  test("user attributes surface as column metadata (v2 .zattrs, v3 attributes)") {
    // v2: our own writer emits .zattrs with _ARRAY_DIMENSIONS — reading the
    // store back must carry them on the column (xarray users key off this)
    val dir = Files.createTempDirectory("graft_attrs").resolve("v2.zarr")
    spark.range(5).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.format("zarr").option("group", "/meta")
      .option("zarr_format", "2").mode("overwrite").save(dir.toString)
    val df = spark.read.format("zarr").option("group", "/meta").load(dir.toString)
    for (f <- df.schema.fields) {
      assert(f.metadata.contains("zarr.attributes"), f.name)
      assert(f.metadata.getString("zarr.attributes").contains("_ARRAY_DIMENSIONS"))
    }
    // consolidated-only resolution carries them too (no .zattrs reads)
    val children = Files.list(dir.resolve("meta"))
    try children.forEach { child =>
      for (doc <- Seq(".zarray", ".zattrs")) {
        val p = child.resolve(doc)
        if (Files.exists(p)) Files.delete(p)
      }
    } finally children.close()
    val cons = spark.read.format("zarr").option("group", "/meta").load(dir.toString)
    assert(cons.schema.fields.forall(_.metadata.contains("zarr.attributes")))
    // v3: `attributes` in the array document itself
    val v3 = Files.createTempDirectory("graft_attrs3").resolve("v3.zarr")
    spark.range(5).selectExpr("id")
      .coalesce(1).write.format("zarr").option("group", "/t")
      .mode("overwrite").save(v3.toString)
    val metaPath = v3.resolve("t").resolve("id").resolve("zarr.json")
    Files.writeString(metaPath, Files.readString(metaPath).replace(
      "\"attributes\":{}", """"attributes":{"units":"meters"}"""))
    // the group doc embeds consolidated metadata that still has empty
    // attrs — drop it so the per-array document is authoritative
    val groupPath = v3.resolve("t").resolve("zarr.json")
    val groupDoc = Files.readString(groupPath)
    Files.writeString(groupPath,
      """{"attributes":{},"zarr_format":3,"node_type":"group"}""")
    // direct edits invalidate Hadoop's local .crc sidecars — drop them
    for (p <- Seq(metaPath, groupPath))
      Files.deleteIfExists(p.resolveSibling("." + p.getFileName + ".crc"))
    val v3df = spark.read.format("zarr").option("group", "/t").load(v3.toString)
    val idField = v3df.schema.fields.find(_.name == "id").get
    assert(idField.metadata.contains("zarr.attributes"), groupDoc)
    assert(idField.metadata.getString("zarr.attributes") ==
      """{"units":"meters"}""")
    // read → write carries the attributes to the NEW store (both formats):
    // v3 embeds them in the array document, v2 merges them into .zattrs
    // next to our _ARRAY_DIMENSIONS
    val copy3 = Files.createTempDirectory("graft_attrs_rt").resolve("copy3.zarr")
    v3df.coalesce(1).write.format("zarr").option("group", "/t")
      .mode("overwrite").save(copy3.toString)
    val back3 = spark.read.format("zarr").option("group", "/t").load(copy3.toString)
    assert(back3.schema.fields.find(_.name == "id").get
      .metadata.getString("zarr.attributes") == """{"units":"meters"}""")
    val copy2 = Files.createTempDirectory("graft_attrs_rt2").resolve("copy2.zarr")
    v3df.coalesce(1).write.format("zarr").option("group", "/t")
      .option("zarr_format", "2").mode("overwrite").save(copy2.toString)
    val attrs2 = spark.read.format("zarr").option("group", "/t").load(copy2.toString)
      .schema.fields.find(_.name == "id").get.metadata.getString("zarr.attributes")
    assert(attrs2.contains("\"units\":\"meters\"") &&
      attrs2.contains("_ARRAY_DIMENSIONS"), attrs2)
  }

  // ---------------------------------------------- numcodecs filter surface

  private lazy val filtersFixture: String = {
    val dir = Files.createTempDirectory("graft_v2filt").resolve("store.zarr")
    ZarrWriter.writeV2FiltersFixture(dir.toString)
    dir.toString
  }

  test("v2 filters: lz4 compressor, delta, shuffle, chained order, fixed unicode") {
    val df = spark.read.format("zarr").option("group", "/meta").load(filtersFixture)
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq == Seq(
      ("cnt", IntegerType), ("flag", BooleanType), ("id", LongType),
      ("label", StringType), ("tag", StringType), ("temp", FloatType),
      ("wt", DoubleType)))
    val rows = df.orderBy("id").collect()
    // packbits under bz2: leftover-bit header + MSB-first bit unpack
    assert(rows.map(_.getAs[Boolean]("flag")).toSeq ==
      Seq(true, false, true, false, false, true, true))
    // lzma FORMAT_XZ stream
    assert(rows.map(_.getAs[Double]("wt")).toSeq ==
      Seq(0.125, 0.25, 0.5, 1.0, 2.0, 4.0, 8.0))
    // delta + lz4: per-chunk prefix sums restore the cumulative sequence
    assert(rows.map(_.getAs[Long]("id")).toSeq ==
      Seq(0L, 10L, 30L, 60L, 100L, 150L, 210L))
    // delta then shuffle (declared order) then lz4 — undone in reverse
    assert(rows.map(_.getAs[Int]("cnt")).toSeq == Seq(5, 4, 6, 3, 7, 2, 8))
    // shuffle alone under zlib
    assert(rows.map(_.getAs[Float]("temp")).toSeq ==
      Seq(1.5f, -2.25f, 3.0f, 0.5f, 10.0f, -0.75f, 99.5f))
    // <U4: non-ASCII and empty elements, NUL padding trimmed
    assert(rows.map(_.getAs[String]("label")).toSeq ==
      Seq("aa", "béta", "", "日本", "x", "yy", "zzz"))
    // >U3: big-endian code units
    assert(rows.map(_.getAs[String]("tag")).toSeq == (0 to 6).map("t" + _))
  }

  test("v2 filter rejections: delta/shuffle configs that cannot round-trip") {
    def arr(json: String): ZarrException =
      intercept[ZarrException](ZarrMeta.parseArrayV2("g/x", "x", json))
    // astype different from dtype would need numpy cast semantics
    assert(arr("""{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"<i8",
        "compressor":null,"fill_value":0,"order":"C",
        "filters":[{"id":"delta","dtype":"<i8","astype":"<i4"}]}""")
      .getMessage.contains("astype"))
    // filter dtype narrower than the array dtype
    assert(arr("""{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"<i8",
        "compressor":null,"fill_value":0,"order":"C",
        "filters":[{"id":"delta","dtype":"<i4"}]}""")
      .getMessage.contains("does not match array dtype"))
    // byte-order mismatch between filter and array
    assert(arr("""{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"<i8",
        "compressor":null,"fill_value":0,"order":"C",
        "filters":[{"id":"delta","dtype":">i8"}]}""")
      .getMessage.contains("does not match array dtype"))
    assert(arr("""{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"<i8",
        "compressor":null,"fill_value":0,"order":"C",
        "filters":[{"id":"delta"}]}""")
      .getMessage.contains("missing dtype"))
    assert(arr("""{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"<i8",
        "compressor":null,"fill_value":0,"order":"C",
        "filters":[{"id":"shuffle","elementsize":0}]}""")
      .getMessage.contains("elementsize"))
    // packbits is bool-only — on any other dtype the bit count is ambiguous
    assert(arr("""{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"<i8",
        "compressor":null,"fill_value":0,"order":"C",
        "filters":[{"id":"packbits"}]}""")
      .getMessage.contains("bool-only"))
    // lzma formats other than XZ need python's filter-chain model
    assert(arr("""{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"<i8",
        "compressor":{"id":"lzma","format":3},"fill_value":0,"order":"C",
        "filters":null}""")
      .getMessage.contains("lzma"))
    // a forged elementsize in the billions would spin the unshuffle plane
    // loop ~elementsize times per chunk — bounded by the chunk byte size
    assert(arr("""{"zarr_format":2,"shape":[4],"chunks":[2],"dtype":"<i8",
        "compressor":null,"fill_value":0,"order":"C",
        "filters":[{"id":"shuffle","elementsize":2147483647}]}""")
      .getMessage.contains("elementsize"))
    // absurd fixed-unicode/bytes widths fail typed, not NumberFormatException
    assert(arr("""{"zarr_format":2,"shape":[4],"chunks":[2],
        "dtype":"<U9999999999","compressor":null,"fill_value":"",
        "order":"C","filters":null}""")
      .getMessage.contains("width out of range"))
    assert(arr("""{"zarr_format":2,"shape":[4],"chunks":[2],
        "dtype":"|S99999999","compressor":null,"fill_value":null,
        "order":"C","filters":null}""")
      .getMessage.contains("width out of range"))
  }

  test("decompression bombs stop at the metadata-derived size bound") {
    import graft.zarr.{ZarrArrayMeta, ZarrCodec, ZarrCodecs, ZarrType}
    // an 8 MiB zero bomb deflates to ~8 KiB; the chunk's metadata says it
    // may hold 4 longs — decode must stop at the bound, not materialize it
    val bomb = {
      val d = new java.util.zip.Deflater(9)
      d.setInput(new Array[Byte](8 << 20)); d.finish()
      val out = new Array[Byte](1 << 20)
      val n = d.deflate(out)
      d.end()
      java.util.Arrays.copyOfRange(out, 0, n)
    }
    val meta = ZarrArrayMeta("x", "g/x", 4, 4, ZarrType.ZInt64,
      Seq(ZarrCodec.BytesCodec(littleEndian = true), ZarrCodec.ZlibCodec),
      "/", "0", v2Keys = true)
    assert(intercept[ZarrException](ZarrCodecs.decodeChunk(bomb, meta))
      .getMessage.contains("bound"))
    // same bomb through bz2 (the stream-reader path)
    val bz2Bomb = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorOutputStream(bos)
      out.write(new Array[Byte](8 << 20)); out.close()
      bos.toByteArray
    }
    val bz2Meta = meta.copy(codecs =
      Seq(ZarrCodec.BytesCodec(littleEndian = true), ZarrCodec.Bz2Codec))
    assert(intercept[ZarrException](ZarrCodecs.decodeChunk(bz2Bomb, bz2Meta))
      .getMessage.contains("bound"))
    // a 20-byte blosc frame claiming a ~2 GiB decode (nblocks=1, huge
    // blocksize) passes the structural checks — the metadata bound must
    // reject it BEFORE the nbytes allocation
    val bloscBomb = {
      val b = java.nio.ByteBuffer.allocate(20)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte).put(1.toByte).put(0.toByte).put(8.toByte) // ver, verlz, flags, typesize
      b.putInt(0x7FFF0000)  // nbytes claim
      b.putInt(0x7FFF0000)  // blocksize → nblocks = 1
      b.putInt(20)          // cbytes == frame length
      b.putInt(20)          // bstarts[0]
      b.array()
    }
    val bloscMeta = meta.copy(codecs = Seq(
      ZarrCodec.BytesCodec(littleEndian = true),
      ZarrCodec.BloscCodec("blosclz", 5, "noshuffle", 8, 0)))
    assert(intercept[ZarrException](ZarrCodecs.decodeChunk(bloscBomb, bloscMeta))
      .getMessage.contains("bound"))
    // lz4's size claim is bounded by the metadata cap too, not only by
    // the 255x expansion limit: 1 MiB claimed from a 64 KiB frame is well
    // inside 255x (~16.7 MB) but far past this chunk's ~96-byte cap — only
    // the metadata-cap term can reject it
    val lz4Bomb = java.nio.ByteBuffer.allocate(1 << 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(1 << 20).array()
    val lz4Meta = meta.copy(codecs =
      Seq(ZarrCodec.BytesCodec(littleEndian = true), ZarrCodec.Lz4Codec))
    assert(intercept[ZarrException](ZarrCodecs.decodeChunk(lz4Bomb, lz4Meta))
      .getMessage.contains("claims"))
  }

  test("hostile packbits/bz2/xz chunks fail typed") {
    import graft.zarr.{ZarrArrayMeta, ZarrCodec, ZarrCodecs, ZarrType}
    val pbMeta = ZarrArrayMeta("x", "g/x", 3, 3, ZarrType.ZBool,
      Seq(ZarrCodec.BytesCodec(littleEndian = true), ZarrCodec.PackBitsCodec),
      "/", "false", v2Keys = true)
    assert(intercept[ZarrException](
      ZarrCodecs.decodeChunk(Array.empty[Byte], pbMeta))
      .getMessage.contains("header"))
    // a header byte claiming >7 leftover bits is not a np.packbits output
    assert(intercept[ZarrException](
      ZarrCodecs.decodeChunk(Array[Byte](9, 0x55), pbMeta))
      .getMessage.contains("leftover"))
    // leftover bits declared but zero packed bytes follow
    assert(intercept[ZarrException](
      ZarrCodecs.decodeChunk(Array[Byte](3), pbMeta))
      .getMessage.contains("leftover"))
    val bz2Meta = ZarrArrayMeta("x", "g/x", 4, 4, ZarrType.ZInt64,
      Seq(ZarrCodec.BytesCodec(littleEndian = true), ZarrCodec.Bz2Codec),
      "/", "0", v2Keys = true)
    assert(intercept[ZarrException](
      ZarrCodecs.decodeChunk("not bzip2".getBytes, bz2Meta))
      .getMessage.contains("bz2"))
    val xzMeta = ZarrArrayMeta("x", "g/x", 4, 4, ZarrType.ZInt64,
      Seq(ZarrCodec.BytesCodec(littleEndian = true), ZarrCodec.XzCodec),
      "/", "0", v2Keys = true)
    assert(intercept[ZarrException](
      ZarrCodecs.decodeChunk("not an xz stream".getBytes, xzMeta))
      .getMessage.contains("xz"))
  }

  test("hostile lz4 and fixed-unicode chunks fail typed, never trusted") {
    import graft.zarr.{ZarrArrayMeta, ZarrCodec, ZarrCodecs, ZarrType}
    val lz4Meta = ZarrArrayMeta("x", "g/x", 4, 4, ZarrType.ZInt64,
      Seq(ZarrCodec.BytesCodec(littleEndian = true), ZarrCodec.Lz4Codec),
      "/", "0", v2Keys = true)
    // shorter than the 4-byte size header
    assert(intercept[ZarrException](
      ZarrCodecs.decodeChunk(Array[Byte](1, 2), lz4Meta))
      .getMessage.contains("size header"))
    // a size claim far beyond LZ4's possible expansion must be rejected
    // BEFORE allocation (a forged header would otherwise allocate GBs)
    val forged = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(Int.MaxValue).array()
    assert(intercept[ZarrException](ZarrCodecs.decodeChunk(forged, lz4Meta))
      .getMessage.contains("claims"))
    // truncated block: decodes fewer bytes than the header promises
    val c = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    val good = new Array[Byte](32)
    val comp = new Array[Byte](4 + c.maxCompressedLength(32))
    java.nio.ByteBuffer.wrap(comp, 0, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(32)
    val n = c.compress(good, 0, 32, comp, 4, comp.length - 4)
    val truncated = java.util.Arrays.copyOfRange(comp, 0, 4 + n - 1)
    assert(intercept[ZarrException](ZarrCodecs.decodeChunk(truncated, lz4Meta))
      .getMessage.toLowerCase.contains("lz4"))
    // fixed-unicode: a surrogate code point is not valid UTF-32
    val uMeta = ZarrArrayMeta("x", "g/x", 2, 2, ZarrType.ZString,
      Seq(ZarrCodec.FixedUnicodeCodec(2, littleEndian = true)),
      "/", "\"\"", v2Keys = true)
    val surrogate = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt('a').putInt(0xD800).putInt('b').putInt(0).array()
    assert(intercept[ZarrException](ZarrCodecs.decodeChunk(surrogate, uMeta))
      .getMessage.contains("code point"))
    // short buffer
    assert(intercept[ZarrException](
      ZarrCodecs.decodeChunk(new Array[Byte](8), uMeta))
      .getMessage.contains("needs"))
    // delta buffer not a multiple of the element width
    val dMeta = ZarrArrayMeta("x", "g/x", 4, 4, ZarrType.ZInt32,
      Seq(ZarrCodec.BytesCodec(littleEndian = true),
        ZarrCodec.DeltaCodec(4, littleEndian = true, float = false)),
      "/", "0", v2Keys = true)
    assert(intercept[ZarrException](
      ZarrCodecs.decodeChunk(new Array[Byte](15), dMeta))
      .getMessage.contains("multiple"))
  }

  test("v2 filters store mounts as a catalog table too") {
    spark.conf.set("spark.sql.catalog.zv2f", "graft.sources.ZarrCatalog")
    spark.conf.set("spark.sql.catalog.zv2f.root", filtersFixture)
    try {
      val rows = spark.sql(
        "SELECT id, label FROM zv2f.meta WHERE id >= 100 ORDER BY id").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((100L, "x"), (150L, "yy"), (210L, "zzz")))
    } finally {
      spark.conf.unset("spark.sql.catalog.zv2f")
      spark.conf.unset("spark.sql.catalog.zv2f.root")
    }
  }
}
