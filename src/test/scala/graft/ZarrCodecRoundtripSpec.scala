package graft

import java.nio.ByteBuffer
import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.zarr.ZarrWriter

/**
 * Writer→source roundtrips across the dtype × codec matrix the decode path
 * claims (ZarrCodecs): ints/uints/floats/float16/bool/raw bits, zstd/gzip/
 * none/crc32c/big-endian, multi-chunk with partial tails, absent chunks
 * (fill values), datetime64 units + scale_factor + NaT→null.
 * Dtype matrix mirrors the reference's mapping (reference: src/schema.rs:56-125).
 */
class ZarrCodecRoundtripSpec extends SparkSpec {

  /** Write a single-array group, read it back through the DSv2 source. */
  private def roundtrip(dtypeJson: String, width: Int,
      put: (ByteBuffer, Any) => Unit, values: Seq[Any], pad: Any,
      chunkLen: Int, fillJson: String, compression: String = "zstd",
      crc32c: Boolean = false, bigEndian: Boolean = false,
      omitChunks: Set[Int] = Set.empty): Seq[Any] = {
    val dir = tempDir("zarr_rt")
    ZarrWriter.writeGroup(dir, "/g")
    ZarrWriter.writeFixedArray(dir, "/g", "x", dtypeJson, width, put, values, pad,
      chunkLen, fillJson, compression, crc32c, bigEndian, omitChunks)
    spark.read.format("zarr").option("group", "/g").load(dir)
      .collect().toSeq.map(_.get(0))
  }

  test("int8/int16/int32/int64 roundtrip incl. negative and extreme values") {
    val i8 = Seq[Any](0.toByte, 127.toByte, (-128).toByte, (-1).toByte)
    assert(roundtrip("\"int8\"", 1, (b, v) => b.put(v.asInstanceOf[Byte]),
      i8, 0.toByte, 4, "0") == i8)
    val i16 = Seq[Any](0.toShort, Short.MaxValue, Short.MinValue)
    assert(roundtrip("\"int16\"", 2, (b, v) => b.putShort(v.asInstanceOf[Short]),
      i16, 0.toShort, 3, "0") == i16)
    val i32 = Seq[Any](42, Int.MaxValue, Int.MinValue, -7)
    assert(roundtrip("\"int32\"", 4, (b, v) => b.putInt(v.asInstanceOf[Int]),
      i32, 0, 4, "0") == i32)
    val i64 = Seq[Any](1L, Long.MaxValue, Long.MinValue, -99L)
    assert(roundtrip("\"int64\"", 8, (b, v) => b.putLong(v.asInstanceOf[Long]),
      i64, 0L, 4, "0") == i64)
  }

  test("unsigned widenings: uint8→short, uint16→int, uint32→long, uint64→decimal") {
    assert(roundtrip("\"uint8\"", 1, (b, v) => b.put(v.asInstanceOf[Int].toByte),
      Seq[Any](0, 255, 128), 0, 3, "0") == Seq(0.toShort, 255.toShort, 128.toShort))
    assert(roundtrip("\"uint16\"", 2, (b, v) => b.putShort(v.asInstanceOf[Int].toShort),
      Seq[Any](0, 65535, 40000), 0, 3, "0") == Seq(0, 65535, 40000))
    assert(roundtrip("\"uint32\"", 4, (b, v) => b.putInt(v.asInstanceOf[Long].toInt),
      Seq[Any](0L, 4294967295L, 3000000000L), 0L, 3, "0") ==
      Seq(0L, 4294967295L, 3000000000L))
    // uint64 max = 2^64-1 doesn't fit a long → Decimal(20,0)
    val u64 = roundtrip("\"uint64\"", 8,
      (b, v) => b.putLong(java.lang.Long.parseUnsignedLong(v.asInstanceOf[String])),
      Seq[Any]("0", "18446744073709551615", "42"), "0", 3, "0")
    assert(u64.map(_.toString) == Seq("0", "18446744073709551615", "42"))
  }

  test("bool, float16 (widened to float), float32, float64") {
    assert(roundtrip("\"bool\"", 1, (b, v) => b.put(if (v.asInstanceOf[Boolean]) 1.toByte else 0.toByte),
      Seq[Any](true, false, true), false, 3, "false") == Seq(true, false, true))
    val halves = Seq[Any](1.5f, -2.25f, 0.0f, 65504.0f) // 65504 = f16 max
    assert(roundtrip("\"float16\"", 2,
      (b, v) => b.putShort(ZarrWriter.floatToHalf(v.asInstanceOf[Float])),
      halves, 0.0f, 4, "0.0") == halves)
    val f32 = Seq[Any](3.14f, Float.MinPositiveValue, -1e30f)
    assert(roundtrip("\"float32\"", 4, (b, v) => b.putFloat(v.asInstanceOf[Float]),
      f32, 0.0f, 3, "0.0") == f32)
    val f64 = Seq[Any](math.Pi, -1e300, 0.0)
    assert(roundtrip("\"float64\"", 8, (b, v) => b.putDouble(v.asInstanceOf[Double]),
      f64, 0.0, 3, "0.0") == f64)
  }

  test("float16 half<->float conversion roundtrips all 65536 bit patterns") {
    var bits = 0
    while (bits < 0x10000) {
      val h = bits.toShort
      val f = graft.zarr.ZarrCodecs.halfToFloat(h)
      if (!f.isNaN && !f.isInfinite) {
        // every finite half is exactly representable as float → encode back
        assert(ZarrWriter.floatToHalf(f) == h,
          f"bits=0x$bits%04x float=$f re=${ZarrWriter.floatToHalf(f)}%04x")
      }
      bits += 1
    }
  }

  test("raw bits r16 → binary") {
    val vals = Seq[Any](Array[Byte](1, 2), Array[Byte](-1, 0), Array[Byte](9, 9))
    val out = roundtrip("\"r16\"", 2, (b, v) => b.put(v.asInstanceOf[Array[Byte]]),
      vals, Array[Byte](0, 0), 3, "0")
    assert(out.map(_.asInstanceOf[Array[Byte]].toSeq) == vals.map(_.asInstanceOf[Array[Byte]].toSeq))
  }

  test("gzip, uncompressed, crc32c, and big-endian chunks decode identically") {
    val vals = Seq[Any](10L, -20L, 30L, 40L, 50L)
    for ((comp, crc, be) <- Seq(("gzip", false, false), ("none", false, false),
        ("zstd", true, false), ("none", true, false), ("zstd", false, true))) {
      assert(roundtrip("\"int64\"", 8, (b, v) => b.putLong(v.asInstanceOf[Long]),
        vals, 0L, 2, "0", compression = comp, crc32c = crc, bigEndian = be) == vals,
        s"comp=$comp crc=$crc be=$be")
    }
  }

  test("corrupted crc32c chunk fails loudly") {
    val dir = tempDir("zarr_crc")
    ZarrWriter.writeGroup(dir, "/g")
    ZarrWriter.writeFixedArray(dir, "/g", "x", "\"int64\"", 8,
      (b, v) => b.putLong(v.asInstanceOf[Long]), Seq[Any](1L, 2L), 0L, 2, "0",
      compression = "none", crc32c = true)
    val chunk = java.nio.file.Paths.get(dir, "g", "x", "c", "0")
    val bytes = java.nio.file.Files.readAllBytes(chunk)
    bytes(0) = (bytes(0) ^ 0xff).toByte
    java.nio.file.Files.write(chunk, bytes)
    val e = interceptQuietly[Throwable] {
      spark.read.format("zarr").option("group", "/g").load(dir).collect()
    }
    val messages = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("crc32c"), s"no crc32c error in: $messages")
  }

  test("multi-chunk with partial tail + absent chunk reads fill values") {
    // 7 values, chunkLen 3 → chunks 0,1,2 (tail partial); omit chunk 1
    val vals = Seq[Any](1L, 2L, 3L, 4L, 5L, 6L, 7L)
    val out = roundtrip("\"int64\"", 8, (b, v) => b.putLong(v.asInstanceOf[Long]),
      vals, 0L, 3, "-5", omitChunks = Set(1))
    assert(out == Seq(1L, 2L, 3L, -5L, -5L, -5L, 7L))
  }

  test("spec string fill_values: NaN / Infinity / -Infinity / bit-exact hex") {
    // zarr-python writes non-finite float fills as JSON strings (v3 spec);
    // 4 values, chunkLen 2, chunk 1 omitted → rows 2-3 read the fill
    def f64(fill: String): Seq[Any] =
      roundtrip("\"float64\"", 8, (b, v) => b.putDouble(v.asInstanceOf[Double]),
        Seq[Any](1.5, 2.5, 3.5, 4.5), 0.0, 2, fill, omitChunks = Set(1))
    assert(f64("\"NaN\"").drop(2).forall(_.asInstanceOf[Double].isNaN))
    assert(f64("\"Infinity\"").drop(2) == Seq(Double.PositiveInfinity, Double.PositiveInfinity))
    assert(f64("\"-Infinity\"").drop(2) == Seq(Double.NegativeInfinity, Double.NegativeInfinity))
    // 0x3ff8000000000000 = 1.5 exactly
    assert(f64("\"0x3ff8000000000000\"").drop(2) == Seq(1.5, 1.5))
    def f32(fill: String): Seq[Any] =
      roundtrip("\"float32\"", 4, (b, v) => b.putFloat(v.asInstanceOf[Float]),
        Seq[Any](1.5f, 2.5f, 3.5f, 4.5f), 0.0f, 2, fill, omitChunks = Set(1))
    assert(f32("\"NaN\"").drop(2).forall(_.asInstanceOf[Float].isNaN))
    assert(f32("\"0x3fc00000\"").drop(2) == Seq(1.5f, 1.5f)) // 0x3fc00000 = 1.5f
    // unknown string fill is a typed error, not a silent 0.0
    val e = interceptQuietly[Exception](f64("\"zero\""))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("fill_value"), msgs)
  }

  test("datetime64 units s/ms/us/ns + scale_factor normalize to micros") {
    val base = 1672531200L // 2023-01-01T00:00:00 in seconds
    val cases = Seq(
      ("s", 1L, base),
      ("ms", 1L, base * 1000L),
      ("us", 1L, base * 1000000L),
      ("ns", 1L, base * 1000000000L),
      ("ms", 2L, base * 500L)) // scale_factor 2: stored value is half
    for ((unit, scale, stored) <- cases) {
      val dt = s"""{"name":"numpy.datetime64","configuration":{"unit":"$unit","scale_factor":$scale}}"""
      val out = roundtrip(dt, 8, (b, v) => b.putLong(v.asInstanceOf[Long]),
        Seq[Any](stored), 0L, "0")
      assert(out == Seq(LocalDateTime.of(2023, 1, 1, 0, 0)), s"unit=$unit scale=$scale")
    }
  }

  test("numpy NaT (i64.MIN) decodes to null for every unit, not a garbage timestamp") {
    for (unit <- Seq("s", "ms", "us", "ns")) {
      val dt = s"""{"name":"numpy.datetime64","configuration":{"unit":"$unit","scale_factor":1}}"""
      val out = roundtrip(dt, 8, (b, v) => b.putLong(v.asInstanceOf[Long]),
        Seq[Any](Long.MinValue, 0L), 0L, 2, "0")
      assert(out.head == null, s"NaT not null for unit=$unit: ${out.head}")
      assert(out(1) == LocalDateTime.of(1970, 1, 1, 0, 0))
    }
  }

  test("string arrays: multi-chunk vlen-utf8 with unicode and empties") {
    val dir = tempDir("zarr_str")
    ZarrWriter.writeGroup(dir, "/g")
    val vals = Seq("", "héllo wörld", "日本語テキスト", "plain", "🚀")
    ZarrWriter.writeStringArray(dir, "/g", "s", vals, chunkLen = 2)
    val out = spark.read.format("zarr").option("group", "/g").load(dir)
      .collect().toSeq.map(_.getString(0))
    assert(out == vals)
  }

  private def roundtrip(dtypeJson: String, width: Int,
      put: (ByteBuffer, Any) => Unit, values: Seq[Any], pad: Any, fillJson: String): Seq[Any] =
    roundtrip(dtypeJson, width, put, values, pad, values.length, fillJson)

  test("short fixed-width chunk fails typed, never reads past the buffer") {
    // a truncated chunk object would otherwise feed the columnar reader's
    // unchecked Unsafe bulk copy → adjacent-heap garbage as column values
    val meta = graft.zarr.ZarrArrayMeta("x", "g/x", 4, 4,
      graft.zarr.ZarrType.ZInt64,
      Seq(graft.zarr.ZarrCodec.BytesCodec(littleEndian = true)), "/", "0")
    val short = new Array[Byte](16) // 2 longs where 4 are declared
    val e = intercept[graft.zarr.ZarrException](
      graft.zarr.ZarrCodecs.decodeChunk(short, meta))
    assert(e.getMessage.contains("too short"), e.getMessage)
  }

  test("blosc compression short forms: cname optional before the mode") {
    val vals = (0 until 100).map(_.toLong * 3)
    assert(roundtrip("\"int64\"", 8,
      (b, v) => b.putLong(v.asInstanceOf[Long]), vals, 0L, 32, "0",
      compression = "blosc-noshuffle") == vals)
    assert(roundtrip("\"int64\"", 8,
      (b, v) => b.putLong(v.asInstanceOf[Long]), vals, 0L, 32, "0",
      compression = "blosc-bitshuffle") == vals)
  }
}
