package graft

import java.time.LocalDateTime

import org.apache.spark.sql.functions._

/**
 * DSv2 write path: df.write.format("zarr") → read back through the source.
 * Covers the metadata-scale single-partition path, the distributed
 * row_index-routed path (whole chunks per task), overwrite, and the
 * misuse errors (multi-partition without row_index, split chunks).
 */
class ZarrWriteSpec extends SparkSpec {

  test("binary columns roundtrip as bytes/vlen-bytes: zstd, blosc, sharded, null→empty") {
    val rows = (0L until 20L).map { i =>
      // varied lengths incl. empty and a null (reads back as empty bytes)
      val payload: Array[Byte] =
        if (i == 7) null
        else if (i == 3) Array.emptyByteArray
        else Array.tabulate[Byte]((i % 5).toInt * 3 + 1)(j => (i * 31 + j).toByte)
      (i, payload)
    }
    val df = spark.createDataFrame(rows).toDF("id", "blob")
    for (opts <- Seq(Map("compression" -> "zstd"), Map("compression" -> "blosc"),
        Map("compression" -> "zstd", "shard_rows" -> "4"))) {
      val dir = tempDir("zw_bin") + "/store.zarr"
      var w = df.coalesce(1).write.format("zarr").option("group", "/t")
        .option("chunk_rows", "8").mode("overwrite")
      opts.foreach { case (k, v) => w = w.option(k, v) }
      w.save(dir)
      val metaText = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "t", "blob", "zarr.json")), "UTF-8")
      assert(metaText.contains("\"bytes\"") && metaText.contains("vlen-bytes"), opts.toString)
      val back = spark.read.format("zarr").option("group", "/t").load(dir)
        .orderBy("id").collect()
      rows.foreach { case (i, payload) =>
        val got = back(i.toInt).getAs[Array[Byte]]("blob")
        val expect = if (payload == null) Array.emptyByteArray else payload
        assert(got.toSeq == expect.toSeq, s"row $i opts=$opts")
      }
    }
  }

  test("single-partition roundtrip across all supported dtypes") {
    import spark.implicits._
    val dir = tempDir("zw_single") + "/store.zarr"
    val df = spark.createDataFrame(Seq(
      (1L, 10, "alpha", 1.5, 2.5f, true, LocalDateTime.of(2023, 1, 1, 0, 0)),
      (2L, 20, "béta", -0.5, 0f, false, LocalDateTime.of(2023, 6, 15, 12, 30)),
      (3L, 30, "", 99.25, -1f, true, LocalDateTime.of(2024, 2, 29, 23, 59))))
      .toDF("id", "n", "s", "d", "f", "b", "ts")
    df.coalesce(1).write.format("zarr").option("group", "/meta")
      .option("chunk_rows", "2").mode("overwrite").save(dir)
    val back = spark.read.format("zarr").option("group", "/meta").load(dir)
      .orderBy("id")
    assert(back.schema.fieldNames.sorted.toSeq == Seq("b", "d", "f", "id", "n", "s", "ts"))
    val rows = back.select("id", "n", "s", "d", "f", "b", "ts").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getInt(1)).toSeq == Seq(10, 20, 30))
    assert(rows.map(_.getString(2)).toSeq == Seq("alpha", "béta", ""))
    assert(rows.map(_.getDouble(3)).toSeq == Seq(1.5, -0.5, 99.25))
    assert(rows.map(_.getFloat(4)).toSeq == Seq(2.5f, 0f, -1f))
    assert(rows.map(_.getBoolean(5)).toSeq == Seq(true, false, true))
    assert(rows.map(_.getAs[LocalDateTime](6)).toSeq == Seq(
      LocalDateTime.of(2023, 1, 1, 0, 0), LocalDateTime.of(2023, 6, 15, 12, 30),
      LocalDateTime.of(2024, 2, 29, 23, 59)))
  }

  test("distributed write: row_index routing, whole chunks per task, 10k rows") {
    val dir = tempDir("zw_par") + "/store.zarr"
    val n = 10000
    val chunk = 1000
    val df = spark.range(n).select(
      col("id").as("idx"),
      (col("id") * 3).as("v"),
      concat(lit("doc"), col("id")).as("name"))
      .repartition((col("idx") / chunk).cast("int"))
      .sortWithinPartitions("idx")
    df.write.format("zarr").option("group", "/g")
      .option("chunk_rows", chunk.toString).option("row_index", "idx")
      .mode("overwrite").save(dir)
    val back = spark.read.format("zarr").option("group", "/g").load(dir)
    // row_index column is excluded from the written table
    assert(back.schema.fieldNames.sorted.toSeq == Seq("name", "v"))
    assert(back.count() == n)
    val agg = back.agg(sum("v"), count_distinct(col("name"))).collect().head
    assert(agg.getLong(0) == 3L * n * (n - 1) / 2)
    assert(agg.getLong(1) == n)
    // chunked layout on disk: 10 chunk objects per column (ignore Hadoop
    // LocalFileSystem .crc sidecars)
    val chunks = new java.io.File(s"$dir/g/v/c").listFiles().filterNot(_.getName.startsWith("."))
    assert(chunks.length == 10, chunks.map(_.getName).mkString(","))
  }

  test("partial trailing chunk + null timestamps → NaT → null on read") {
    import spark.implicits._
    val dir = tempDir("zw_nat") + "/store.zarr"
    val df = Seq(
      (0L, Some(LocalDateTime.of(2023, 1, 1, 0, 0))),
      (1L, None),
      (2L, Some(LocalDateTime.of(2023, 1, 3, 0, 0)))).toDF("idx", "ts")
    df.coalesce(1).write.format("zarr").option("group", "/g")
      .option("chunk_rows", "2").mode("overwrite").save(dir)
    val back = spark.read.format("zarr").option("group", "/g").load(dir)
      .orderBy("idx").collect()
    assert(back(1).isNullAt(back(1).fieldIndex("ts")))
    assert(back(0).getAs[LocalDateTime]("ts") == LocalDateTime.of(2023, 1, 1, 0, 0))
  }

  test("overwrite replaces the previous table") {
    val dir = tempDir("zw_over") + "/store.zarr"
    spark.range(5).select(col("id")).coalesce(1)
      .write.format("zarr").option("group", "/g").mode("overwrite").save(dir)
    spark.range(2).select(col("id"), (col("id") * 2).as("v")).coalesce(1)
      .write.format("zarr").option("group", "/g").mode("overwrite").save(dir)
    val back = spark.read.format("zarr").option("group", "/g").load(dir)
    assert(back.count() == 2)
    assert(back.schema.fieldNames.sorted.toSeq == Seq("id", "v"))
  }

  test("CTAS and multi-partition input without row_index auto-coalesce to one writer") {
    val dir = tempDir("zw_ctas") + "/store.zarr"
    // 4 input partitions, no row_index: RequiresDistributionAndOrdering
    // makes Spark plan the single-partition write itself
    spark.range(100).repartition(4).select(col("id"), (col("id") % 7).as("m"))
      .write.format("zarr").option("group", "/g").mode("overwrite").save(dir)
    assert(spark.read.format("zarr").option("group", "/g").load(dir).count() == 100)
    // SQL CTAS through the session catalog lands on the same path
    spark.sql("DROP TABLE IF EXISTS zctas")
    val dir2 = tempDir("zw_ctas2") + "/store.zarr"
    spark.sql(s"""CREATE TABLE zctas USING zarr OPTIONS (path '$dir2', group '/g')
                  AS SELECT id, id * 2 AS v FROM range(5)""")
    try {
      assert(spark.sql("SELECT sum(v) FROM zctas").collect().head.getLong(0) == 20L)
    } finally spark.sql("DROP TABLE IF EXISTS zctas")
  }

  test("distributed write: unsorted partitions are auto-sorted by row_index") {
    val dir = tempDir("zw_autosort") + "/store.zarr"
    val n = 1000
    // correct chunk routing but NO sortWithinPartitions — requiredOrdering
    // must insert the sort
    spark.range(n).select(col("id").as("idx"), (col("id") * 7).as("v"))
      .repartition((col("idx") / 100).cast("int"))
      .write.format("zarr").option("group", "/g")
      .option("chunk_rows", "100").option("row_index", "idx")
      .mode("overwrite").save(dir)
    val back = spark.read.format("zarr").option("group", "/g").load(dir)
    assert(back.agg(sum("v")).collect().head.getLong(0) == 7L * n * (n - 1) / 2)
  }

  test("sharded write (sharding_indexed): roundtrip, metadata, pruning still applies") {
    val dir = tempDir("zw_shard") + "/store.zarr"
    val df = spark.range(100).select(
      col("id"),
      (col("id").cast("double") / 4.0).as("score"),
      concat(lit("n_"), format_string("%03d", col("id"))).as("name"))
    df.coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "40").option("shard_rows", "10")
      .mode("overwrite").save(dir)
    // the array metadata really declares the sharding extension
    val metaJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "t", "id", "zarr.json")), "UTF-8")
    assert(metaJson.contains("sharding_indexed") && metaJson.contains("\"chunk_shape\":[10]"),
      metaJson)
    // full roundtrip through the lazy shard decoder — all dtypes intact
    val back = spark.read.format("zarr").option("group", "/t").load(dir)
      .select("id", "score", "name").orderBy("id")
    val rows = back.collect()
    assert(rows.length == 100)
    assert(rows.map(_.getLong(0)).toSeq == (0L until 100L))
    assert(rows.map(_.getString(2)).toSeq == (0 until 100).map(i => f"n_$i%03d"))
    assert(rows.map(_.getDouble(1)).toSeq == (0 until 100).map(_ / 4.0))
    // stats sidecar is per stored chunk (= per shard): pruning still works
    val pruned = spark.read.format("zarr").option("group", "/t")
      .option("target_partition_rows", "40").load(dir)
      .filter(col("id") >= 95)
    assert(pruned.queryExecution.toRdd.getNumPartitions == 1)
    assert(pruned.count() == 5)
    // equivalent unsharded write produces identical rows
    val dir2 = tempDir("zw_shard_ref") + "/store.zarr"
    df.coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "40").mode("overwrite").save(dir2)
    val ref = spark.read.format("zarr").option("group", "/t").load(dir2)
      .select("id", "score", "name").orderBy("id").collect().map(_.toSeq).toSeq
    assert(rows.map(_.toSeq).toSeq == ref)
  }

  test("streamed shard write is byte-identical to the buffered encodeShard") {
    // the writer streams inner chunks + index incrementally (memory bounded
    // by shard_rows); the bytes on disk must be EXACTLY what the buffered
    // encoder produces — same parts, same index, same crc — or readers of
    // either vintage would disagree
    val dir = tempDir("zw_shard_bytes") + "/store.zarr"
    // 95 = 2 full chunks of 40 + a final chunk of 15: one full inner chunk
    // of 10 plus a RESIDUAL inner chunk of 5 plus two all-fill pads — the
    // residual path (writeInner(n < shardRows)) must be exercised here
    val n = 95
    spark.range(n).select(col("id"), concat(lit("s"), col("id")).as("s"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "40").option("shard_rows", "10")
      .mode("overwrite").save(dir)
    import org.apache.spark.sql.types.{LongType, StringType}
    for ((name, dt, mk) <- Seq(
        ("id", LongType, (i: Int) => java.lang.Long.valueOf(i.toLong): Any),
        ("s", StringType, (i: Int) => s"s$i": Any))) {
      for (chunk <- 0 until 3) {
        val from = chunk * 40
        val cnt = math.min(40, n - from)
        val vals = new Array[Any](40)
        (0 until cnt).foreach(i => vals(i) = mk(from + i))
        val expected = graft.sources.ZarrWriteSupport.encodeShard(
          dt, vals, cnt, 40, 10)
        val actual = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, "t", name, "c", chunk.toString))
        assert(java.util.Arrays.equals(actual, expected),
          s"$name chunk $chunk: streamed bytes differ from buffered encodeShard")
      }
    }
  }

  test("ranged shard reads: identical rows to whole-object reads") {
    // force every shard object over the ranged threshold: the scan must go
    // through stat + index range read + per-inner-chunk range reads with
    // the single-slot memo, and produce byte-identical results
    val dir = tempDir("zw_shard_ranged") + "/store.zarr"
    val df = spark.range(100).select(
      col("id"),
      (col("id").cast("double") / 4.0).as("score"),
      concat(lit("n_"), format_string("%03d", col("id"))).as("name"))
    df.coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "40").option("shard_rows", "10")
      .mode("overwrite").save(dir)
    val whole = spark.read.format("zarr").option("group", "/t").load(dir)
      .select("id", "score", "name").orderBy("id").collect().map(_.toSeq).toSeq
    val prev = graft.zarr.ZarrCodecs.rangedShardThresholdBytes
    graft.zarr.ZarrCodecs.rangedShardThresholdBytes = 0L
    try {
      val ranged = spark.read.format("zarr").option("group", "/t").load(dir)
        .select("id", "score", "name").orderBy("id").collect().map(_.toSeq).toSeq
      assert(ranged == whole)
      // filters crossing inner-chunk boundaries exercise slot re-decode
      val f = spark.read.format("zarr").option("group", "/t").load(dir)
        .filter(col("id") % 10 === 9).select("id")
      assert(f.collect().map(_.getLong(0)).sorted.toSeq == (9L until 100L by 10L))
    } finally graft.zarr.ZarrCodecs.rangedShardThresholdBytes = prev
  }

  test("ranged shard reads transfer only the inner chunks a LIMIT touches") {
    val dir = tempDir("zw_shard_rpc")
    spark.range(400).select(col("id"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "400").option("shard_rows", "10")
      .mode("overwrite").save(dir)
    spark.sparkContext.hadoopConfiguration.set("fs.mockfs.impl",
      classOf[MockObjectStoreFileSystem].getName)
    val m = MockObjectStoreFileSystem
    val prev = graft.zarr.ZarrCodecs.rangedShardThresholdBytes
    graft.zarr.ZarrCodecs.rangedShardThresholdBytes = 0L
    try {
      m.reset()
      // pushed-down LIMIT 5 over a 400-row / 40-inner-chunk shard (no sort
      // above it — a sort would force the full scan): the ranged path must
      // open the one shard object only for its index plus the FIRST inner
      // chunk — not transfer the whole object
      val rows = spark.read.format("zarr").option("group", "/t")
        .load(s"mockfs://$dir").limit(5)
        .collect().map(_.getLong(0)).toSeq
      assert(rows == (0L until 5L))
      val chunkOpens = m.chunkOpens.get
      assert(chunkOpens <= 3L, // index read + inner chunk 0 (+1 slack)
        s"ranged LIMIT read opened the shard $chunkOpens times")
    } finally {
      graft.zarr.ZarrCodecs.rangedShardThresholdBytes = prev
      m.reset()
    }
  }

  test("oversized shard object under small-estimate metadata never reads unbounded") {
    // hostile stores control the OBJECT, metadata controls the ESTIMATE: a
    // multi-GiB object under small-chunk metadata must not reach an
    // unbounded readAllBytes. The bounded opportunistic read detects the
    // mismatch and falls back to stat + ranged reads, which transfer only
    // the index region — here garbage, so the failure is the index crc,
    // typed, after kilobytes not gigabytes
    val dir = tempDir("zw_shard_oversize") + "/store.zarr"
    spark.range(40).select(col("id"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "40").option("shard_rows", "10")
      .mode("overwrite").save(dir)
    val chunk = java.nio.file.Paths.get(dir, "t", "id", "c", "0")
    val pad = new Array[Byte](6000) // past the plausible bound for 40 longs
    java.nio.file.Files.write(chunk, pad,
      java.nio.file.StandardOpenOption.APPEND)
    // drop Hadoop's local checksum sidecar: the append invalidated it, and
    // this test is about OUR bound, not LocalFileSystem's crc
    java.nio.file.Files.deleteIfExists(chunk.resolveSibling(".0.crc"))
    val metaJson = graft.zarr.ZarrMeta.parseArray("t/id", "id",
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "t", "id", "zarr.json")), "UTF-8"))
    val store = new graft.zarr.ZarrStore(dir,
      spark.sparkContext.hadoopConfiguration)
    val prev = graft.zarr.ZarrCodecs.rangedShardThresholdBytes
    graft.zarr.ZarrCodecs.rangedShardThresholdBytes = 1000L
    try {
      val e = intercept[graft.zarr.ZarrException] {
        graft.zarr.ZarrCodecs.fetchChunk(store, metaJson, 0L).get(0)
      }
      assert(e.getMessage.contains("crc32c") || e.getMessage.contains("index"),
        e.getMessage)
    } finally graft.zarr.ZarrCodecs.rangedShardThresholdBytes = prev
  }

  test("corrupted shard index fails loudly (crc32c on the index)") {
    val dir = tempDir("zw_shard_crc") + "/store.zarr"
    spark.range(40).select(col("id"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "40").option("shard_rows", "10")
      .mode("overwrite").save(dir)
    val chunk = java.nio.file.Paths.get(dir, "t", "id", "c", "0")
    val bytes = java.nio.file.Files.readAllBytes(chunk)
    // flip a byte inside the (offset, nbytes) index region (last 4*16+4
    // bytes); keep the trailing stored crc so only the index body changes
    bytes(bytes.length - 20) = (bytes(bytes.length - 20) ^ 0xff).toByte
    java.nio.file.Files.write(chunk, bytes)
    // drop Hadoop LocalFS's .crc sidecar so OUR index checksum is what fires
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "t", "id", "c", ".0.crc"))
    val e = interceptQuietly[Throwable] {
      spark.read.format("zarr").option("group", "/t").load(dir).collect()
    }
    val messages = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.toLowerCase.contains("crc32c"), messages)
  }

  test("sharded write misuse: non-dividing shard_rows fails fast") {
    val dir = tempDir("zw_shard_bad") + "/store.zarr"
    val e = intercept[Exception] {
      spark.range(10).coalesce(1).write.format("zarr").option("group", "/t")
        .option("chunk_rows", "40").option("shard_rows", "9")
        .mode("overwrite").save(dir)
    }
    assert(e.getMessage.contains("must divide") ||
      Option(e.getCause).exists(_.getMessage.contains("must divide")))
  }

  test("a rejected overwrite leaves the existing table in place") {
    // every option check runs before the overwrite deletes the old group
    val dir = tempDir("zw_bad_overwrite") + "/store.zarr"
    spark.range(10).coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "4").mode("overwrite").save(dir)
    for ((opts, why) <- Seq(
        Map("chunk_rows" -> "40", "shard_rows" -> "9") -> "must divide",
        Map("compression" -> "lz5") -> "unsupported compression",
        Map("zarr_format" -> "2", "shard_rows" -> "2") -> "no sharding")) {
      val e = intercept[Exception] {
        spark.range(3).coalesce(1).write.format("zarr").option("group", "/t")
          .options(opts).mode("overwrite").save(dir)
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains(why), s"$opts: $msgs")
      assert(spark.read.format("zarr").option("group", "/t").load(dir).count() == 10, opts)
    }
  }

  test("append onto an existing table is rejected (not a silent overwrite)") {
    val dir = tempDir("zw_app") + "/store.zarr"
    spark.range(5).coalesce(1).write.format("zarr")
      .option("group", "/g").mode("overwrite").save(dir)
    val e = intercept[Throwable] {
      spark.range(3).coalesce(1).write.format("zarr")
        .option("group", "/g").mode("append").save(dir)
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("overwrite"), msgs)
    // the existing table is untouched
    assert(spark.read.format("zarr").option("group", "/g").load(dir).count() == 5)
    // but writing a fresh group in the same store is fine without overwrite
    spark.range(2).coalesce(1).write.format("zarr")
      .option("group", "/h").mode("append").save(dir)
    assert(spark.read.format("zarr").option("group", "/h").load(dir).count() == 2)
  }

  // (the old "multi-partition without row_index fails" behavior is gone on
  // purpose: RequiresDistributionAndOrdering has Spark coalesce to one
  // writer instead — covered by the CTAS test; the factory guard remains
  // as a backstop only)

  test("randomized write->read roundtrips (seeded; nulls, unicode, odd chunk sizes)") {
    import scala.util.Random
    val rnd = new Random(4242)
    for (iter <- 1 to 12) {
      import spark.implicits._
      val n = 1 + rnd.nextInt(40)
      val chunk = 1 + rnd.nextInt(7)
      val rows = (0 until n).map { i =>
        val s = rnd.nextInt(4) match {
          case 0 => ""
          case 1 => rnd.alphanumeric.take(rnd.nextInt(20)).mkString
          case 2 => "日本語🚀" + rnd.nextInt(100)
          case _ => "plain " + rnd.nextLong()
        }
        val ts = if (rnd.nextBoolean())
          Some(LocalDateTime.of(1970 + rnd.nextInt(100), 1 + rnd.nextInt(12),
            1 + rnd.nextInt(28), rnd.nextInt(24), rnd.nextInt(60)))
        else None
        (i.toLong, rnd.nextLong(), rnd.nextDouble(), s, ts)
      }
      val df = rows.toDF("idx", "v", "d", "s", "ts")
        .repartition((col("idx") / chunk).cast("int")) // route whole chunks
      val dir = tempDir(s"zw_rand$iter") + "/s.zarr"
      df.write.format("zarr").option("group", "/g")
        .option("chunk_rows", chunk.toString).option("row_index", "idx")
        .mode("overwrite").save(dir)
      val back = spark.read.format("zarr").option("group", "/g").load(dir)
        .select("v", "d", "s", "ts").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
          Option(r.getAs[LocalDateTime](3)))).toSet
      val want = rows.map(t => (t._2, t._3, t._4, t._5)).toSet
      assert(back == want, s"iter=$iter n=$n chunk=$chunk")
    }
  }

  test("real events table roundtrips through a distributed zarr write") {
    val events = graft.queries.Tables.t(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val withIdx = events.withColumn("idx",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy("event_id")) - 1)
    val dir = tempDir("zw_events") + "/s.zarr"
    withIdx.repartition((col("idx") / 500).cast("int"))
      .write.format("zarr").option("group", "/g")
      .option("chunk_rows", "500").option("row_index", "idx")
      .mode("overwrite").save(dir)
    val back = spark.read.format("zarr").option("group", "/g").load(dir)
    assert(back.count() == events.count())
    val a = back.select("event_id", "user_id", "event_type", "value").orderBy("event_id")
      .collect().map(_.toSeq).toSeq
    val b = events.orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("failed write leaves no readable table (zarr.json only lands at commit)") {
    val dir = tempDir("zw_crash") + "/store.zarr"
    // chunk split across tasks → commit-time validation rejects the job
    interceptQuietly[Throwable] {
      spark.range(1000).select(col("id").as("idx"), col("id").as("v"))
        .repartition(8, col("idx"))
        .write.format("zarr").option("group", "/g")
        .option("chunk_rows", "100").option("row_index", "idx")
        .mode("overwrite").save(dir)
    }
    // chunk objects may exist, but there is no zarr.json → not a table
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "zarr.json")))
    intercept[Throwable] {
      spark.read.format("zarr").option("group", "/g").load(dir).collect()
    }
  }

  test("chunks split across tasks are rejected at commit") {
    val dir = tempDir("zw_split") + "/store.zarr"
    // hash-repartition on idx scatters chunk rows across tasks → must fail
    val e = interceptQuietly[Throwable] {
      spark.range(1000).select(col("id").as("idx"), col("id").as("v"))
        .repartition(8, col("idx"))
        .sortWithinPartitions("idx")
        .write.format("zarr").option("group", "/g")
        .option("chunk_rows", "100").option("row_index", "idx")
        .mode("overwrite").save(dir)
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("sortWithinPartitions") || msgs.contains("split across tasks") ||
      msgs.contains("out of order"), msgs)
  }
}
