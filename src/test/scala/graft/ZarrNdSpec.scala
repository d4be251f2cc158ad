package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types._

import graft.zarr.{ZarrCodecs, ZarrException, ZarrMeta, ZarrSchema, ZarrStore, ZarrWriter}

/**
 * k-D (≥2-D) Zarr arrays as nested-ArrayType columns — golden-value scans
 * against [[ZarrWriter.writeNdFixture]] / [[ZarrWriter.writeNdV2Fixture]]
 * (independent byte-builders: chunk objects are packed by hand in C order
 * with edge padding, sharing no code with the scan), plus the typed
 * rejections for layouts the row-block math cannot honor.
 */
class ZarrNdSpec extends SparkSpec {

  private lazy val v3Path = { val d = tempDir("nd_v3"); ZarrWriter.writeNdFixture(d); d }
  private lazy val v2Path = { val d = tempDir("nd_v2"); ZarrWriter.writeNdV2Fixture(d); d }

  private def ndTable(path: String) =
    spark.read.format("zarr").option("group", "/nd").load(path)

  test("v3 n-D schema: trailing dims become nested ArrayType columns") {
    val schema = ndTable(v3Path).schema
    assert(schema("id").dataType == LongType)
    assert(schema("emb").dataType == ArrayType(FloatType, containsNull = false))
    assert(schema("grid").dataType == ArrayType(IntegerType, containsNull = false))
    assert(schema("cube").dataType ==
      ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false))
    assert(!schema("emb").nullable)
    // the _ARRAY_DIMENSIONS attrs ride along as zarr.attributes metadata
    assert(schema("emb").metadata.getString("zarr.attributes").contains("dim_1"))
  }

  test("v3 2-D fast path (trailing unchunked): values match the formula") {
    val rows = ndTable(v3Path).select("id", "emb").collect().sortBy(_.getLong(0))
    assert(rows.length == 5)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getSeq[Float](1) == (0 until 4).map(j => (id * 10 + j).toFloat))
    }
  }

  test("v3 2-D general path (trailing chunked, missing cell → fill)") {
    val rows = ndTable(v3Path).select("id", "grid").collect().sortBy(_.getLong(0))
    rows.foreach { r =>
      val id = r.getLong(0)
      val expected = (0 until 6).map { j =>
        // grid cell (1,1) omitted: dim-0 chunk 1 = rows 2-3, trailing
        // chunk 1 = cols 3-5 → fill value -1
        if ((id == 2 || id == 3) && j >= 3) -1 else (id * 100 + j).toInt
      }
      assert(r.getSeq[Int](1) == expected, s"row $id")
    }
  }

  test("v3 3-D nested fast path") {
    val rows = ndTable(v3Path).select("id", "cube").collect().sortBy(_.getLong(0))
    rows.foreach { r =>
      val id = r.getLong(0)
      val cube = r.getSeq[Seq[Double]](1)
      assert(cube == (0 until 2).map(i =>
        (0 until 3).map(j => (id * 100 + i * 10 + j).toDouble)))
    }
  }

  test("v3 3-D general path with edge cells on both trailing dims") {
    val rows = ndTable(v3Path).select("id", "tail").collect().sortBy(_.getLong(0))
    rows.foreach { r =>
      val id = r.getLong(0)
      val t = r.getSeq[Seq[Int]](1)
      assert(t == (0 until 3).map(i => (0 until 3).map(j => (id * 9 + i * 3 + j).toInt)),
        s"row $id")
    }
  }

  test("v2 n-D store: dot-joined keys, zlib + big-endian raw, missing cell") {
    val rows = ndTable(v2Path).collect().sortBy(_.getLong(2)) // columns sorted: emb, grid, id
    assert(rows.length == 5)
    rows.foreach { r =>
      val id = r.getLong(2)
      assert(r.getSeq[Float](0) == (0 until 4).map(j => (id * 10 + j).toFloat))
      val expected = (0 until 6).map { j =>
        // cell (0,1) omitted: rows 0-1, cols 3-5 → fill 7
        if (id <= 1 && j >= 3) 7 else (id * 100 + j).toInt
      }
      assert(r.getSeq[Int](1) == expected, s"row $id")
    }
  }

  test("n-D scans match rows assembled chunk by chunk (fast + general paths)") {
    // the vectorized path writes nested ArrayType vectors (contiguous rows
    // bulk-copied at the leaf level; gathered rows unfolded per element);
    // the oracle rebuilds each row from `ColumnChunk.get` alone, so both
    // fixtures' full tables must match it, and the default scan must
    // actually BE columnar
    for (path <- Seq(v3Path, v2Path)) {
      val store = new ZarrStore(path, new org.apache.hadoop.conf.Configuration())
      val arrays = ZarrSchema.listArrays(store, "/nd")
      val byName = arrays.map(a => a.name -> a).toMap
      val schema = ZarrSchema.schemaOf(arrays, "/nd")
      val n = arrays.head.length.toInt
      val expected = (0 until n).map { r =>
        schema.fields.toSeq.map { f =>
          val meta = byName(f.name)
          val chunk = ZarrCodecs.fetchChunk(store, meta, r / meta.chunkLength)
          try CatalystTypeConverters.convertToScala(
            chunk.get((r % meta.chunkLength).toInt), f.dataType)
          finally chunk.close()
        }
      }
      val actual = ndTable(path).collect().map(_.toSeq).toSeq
      val id = schema.fieldIndex("id")
      assert(actual.sortBy(_(id).asInstanceOf[Long]) == expected,
        s"scan diverges from the chunk oracle at $path")
    }
    val plan = ndTable(v3Path).queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"n-D scan fell off the columnar path:\n$plan")
  }

  test("projection pushdown still prunes: reading only id opens no n-D chunks") {
    // every scan is columnar since round 9; a 1-D-only projection over a
    // table that also has k-D columns keeps the plain scalar-vector path
    val df = ndTable(v3Path).select("id")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ZarrScan"))
  }

  test("COUNT(*) pushdown answers from dim-0 shape for n-D tables") {
    assert(ndTable(v3Path).count() == 5)
  }

  test("typed rejections: n-D sharding, v2 F-order, non-identity transpose, rank mismatch") {
    def v3(extra: String) =
      s"""{"shape":[4,3],"data_type":"int32",
         |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,3]}},
         |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
         |"fill_value":0,$extra
         |"zarr_format":3,"node_type":"array","storage_transformers":[]}""".stripMargin
    intercept[ZarrException](ZarrMeta.parseArray("p", "x", v3(
      """"codecs":[{"name":"sharding_indexed","configuration":{"chunk_shape":[1,3],
        |"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
        |"index_codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
        |"index_location":"end"}}],""".stripMargin)))
    intercept[ZarrException](ZarrMeta.parseArray("p", "x", v3(
      """"codecs":[{"name":"transpose","configuration":{"order":[1,0]}},
        |{"name":"bytes","configuration":{"endian":"little"}}],""".stripMargin)))
    // identity transpose on a 2-D array is accepted
    val ok = ZarrMeta.parseArray("p", "x", v3(
      """"codecs":[{"name":"transpose","configuration":{"order":[0,1]}},
        |{"name":"bytes","configuration":{"endian":"little"}}],""".stripMargin))
    assert(ok.trailingShape == Seq(3L) && ok.trailingChunk == Seq(3L))
    intercept[ZarrException](ZarrMeta.parseArrayV2("p", "x",
      """{"zarr_format":2,"shape":[4,3],"chunks":[2,3],"dtype":"<i4",
        |"order":"F","filters":null,"compressor":null,"fill_value":0}""".stripMargin))
    intercept[ZarrException](ZarrMeta.parseArray("p", "x", v3("")
      .replace("\"chunk_shape\":[2,3]", "\"chunk_shape\":[2]")
      .replace(""""fill_value":0,""",
        """"fill_value":0,"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],""")))
  }

  test("write roundtrip: 2-D float + 3-D double + scalar columns, v3") {
    import spark.implicits._
    val df = (0 until 7).map { r =>
      (r.toLong,
        (0 until 3).map(j => (r * 10 + j).toFloat),
        (0 until 2).map(i => (0 until 2).map(j => (r * 100 + i * 10 + j).toDouble)))
    }.toDF("id", "vec", "mat")
    val out = tempDir("nd_rt_v3")
    df.coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", 3).mode("overwrite").save(out)
    val back = spark.read.format("zarr").option("group", "/t").load(out)
    assert(back.schema("vec").dataType == ArrayType(FloatType, containsNull = false))
    assert(back.schema("mat").dataType ==
      ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false))
    val rows = back.collect().sortBy(_.getLong(0))
    assert(rows.length == 7)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getSeq[Float](r.fieldIndex("vec")) ==
        (0 until 3).map(j => (id * 10 + j).toFloat))
      assert(r.getSeq[Seq[Double]](r.fieldIndex("mat")) ==
        (0 until 2).map(i => (0 until 2).map(j => (id * 100 + i * 10 + j).toDouble)))
    }
    // zarr.json carries the k-D shape/chunk grid
    val metaText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "t", "mat", "zarr.json")))
    assert(metaText.contains("\"shape\":[7,2,2]"))
    assert(metaText.contains("\"chunk_shape\":[3,2,2]"))
  }

  test("write roundtrip v2: array column readable back through .zarray metadata") {
    import spark.implicits._
    val df = (0 until 5).map(r => (r.toLong, (0 until 4).map(j => r * 10 + j)))
      .toDF("id", "vec")
    val out = tempDir("nd_rt_v2")
    df.coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", 2).option("zarr_format", 2).mode("overwrite").save(out)
    val back = spark.read.format("zarr").option("group", "/t").load(out)
      .collect().sortBy(_.getLong(0))
    back.foreach { r =>
      assert(r.getSeq[Int](r.fieldIndex("vec")) ==
        (0 until 4).map(j => (r.getLong(0) * 10 + j).toInt))
    }
    val zarray = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "t", "vec", ".zarray")))
    assert(zarray.contains("\"shape\":[5,4]") && zarray.contains("\"chunks\":[2,4]"))
    val zattrs = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "t", "vec", ".zattrs")))
    assert(zattrs.contains("\"_ARRAY_DIMENSIONS\":[\"row\",\"dim_1\"]"))
  }

  test("null rows encode as fill; null elements in timestamp arrays -> NaT -> null") {
    import spark.implicits._
    val df = Seq(
      (0L, Some(Seq(1.0, 2.0))),
      (1L, None), // whole-row null → fill values on read
      (2L, Some(Seq(5.0, 6.0)))
    ).toDF("id", "v")
    val out = tempDir("nd_nulls")
    df.coalesce(1).write.format("zarr").option("group", "/t")
      .mode("overwrite").save(out)
    val back = spark.read.format("zarr").option("group", "/t").load(out).collect()
    val byId = back.map(r => r.getLong(r.fieldIndex("id")) ->
      r.getSeq[Double](r.fieldIndex("v"))).toMap
    assert(byId(0L) == Seq(1.0, 2.0))
    assert(byId(1L) == Seq(0.0, 0.0)) // fill
    assert(byId(2L) == Seq(5.0, 6.0))
  }

  test("typed write rejections: ragged rows, vlen elements, sharded arrays, streaming") {
    import spark.implicits._
    val ragged = Seq((0L, Seq(1, 2)), (1L, Seq(1, 2, 3))).toDF("id", "v")
    val e1 = interceptQuietly[org.apache.spark.SparkException] {
      ragged.coalesce(1).write.format("zarr").option("group", "/t")
        .mode("overwrite").save(tempDir("nd_ragged"))
    }
    assert(e1.getMessage.contains("ragged") ||
      e1.getCause != null && e1.getCause.getMessage.contains("ragged"))
    val strings = Seq((0L, Seq("a", "b"))).toDF("id", "v")
    intercept[ZarrException] {
      strings.coalesce(1).write.format("zarr").option("group", "/t")
        .mode("overwrite").save(tempDir("nd_vlen"))
    }
    val ok = Seq((0L, Seq(1, 2))).toDF("id", "v")
    intercept[ZarrException] {
      ok.coalesce(1).write.format("zarr").option("group", "/t")
        .option("chunk_rows", 4).option("shard_rows", 2)
        .mode("overwrite").save(tempDir("nd_shard"))
    }
  }

  test("hostile n-D grids are rejected: oversized chunk elements, zero trailing chunk") {
    def doc(shape: String, chunk: String) =
      s"""{"shape":[$shape],"data_type":"int64",
         |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[$chunk]}},
         |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
         |"fill_value":0,
         |"codecs":[{"name":"bytes","configuration":{"endian":"little"}}],
         |"zarr_format":3,"node_type":"array","storage_transformers":[]}""".stripMargin
    intercept[ZarrException](ZarrMeta.parseArray("p", "x",
      doc("10,1000000000", "10,1000000000"))) // 10B elements per chunk object
    intercept[ZarrException](ZarrMeta.parseArray("p", "x", doc("4,3", "2,0")))
    intercept[ZarrException](ZarrMeta.parseArray("p", "x", doc("4,-3", "2,3")))
    // the row-SLAB bound: every individual dim passes (chunkElems 1e5,
    // rowElems 1e6) but reading ONE dim-0 chunk would need 1e10 elements
    // (every trailing cell at once) — rejected at parse, not executor OOM
    intercept[ZarrException](ZarrMeta.parseArray("p", "x",
      doc("1000000000,1000000", "10000,10")))
  }

  test("a k-D array named 'bbox' is a plain nested column, not a WKT error") {
    // numeric [n,4] box tables are the standard geo/ML layout; the WKT
    // special case is a 1-D convention and must not make the store unreadable
    val dir = java.nio.file.Paths.get(tempDir("nd_bbox"))
    graft.zarr.ZarrWriter.writeGroup(dir.toString, "/g")
    graft.zarr.ZarrWriter.writeLongArray(dir.toString, "/g", "id", Seq(0L, 1L), 2)
    graft.zarr.ZarrWriter.writeNdArray(dir.toString, "/g", "bbox", v2 = false,
      "\"float64\"", 8, (b, v) => b.putDouble(v.asInstanceOf[Double]),
      c => (c(0) * 10 + c(1)).toDouble, 0.0,
      shape = Seq(2, 4), chunks = Seq(2, 4), fillJson = "0.0")
    val df = spark.read.format("zarr").option("group", "/g").load(dir.toString)
    assert(df.schema("bbox").dataType ==
      ArrayType(DoubleType, containsNull = false))
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getSeq[Double](0)).toSeq ==
      Seq(Seq(0.0, 1.0, 2.0, 3.0), Seq(10.0, 11.0, 12.0, 13.0)))
  }
}
