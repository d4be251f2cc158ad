package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.sources.ZarrStreamCommit
import graft.zarr.{ZarrStats, ZarrStore}

/**
 * Streaming APPEND into a Zarr store: epochs grow the arrays, partial tail
 * chunks are merged (never shrink), the stats sidecar tracks the growing
 * grid, replayed epochs are no-ops, and the zarr streaming SOURCE can tail
 * what the sink writes (store → store relay).
 */
class ZarrStreamSinkSpec extends SparkSpec {

  case class Doc(id: Long, word: String)

  test("epochs append across chunk boundaries; tail chunk merges, stats grow") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink") + "/store.zarr"
    val mem = MemoryStream[Doc]
    val q = mem.toDF().writeStream.format("zarr")
      .option("group", "/meta").option("chunk_rows", "4")
      .option("checkpointLocation", tempDir("zsink_ckpt"))
      .start(dir)
    try {
      mem.addData(Doc(0, "a"), Doc(1, "b"), Doc(2, "c")) // partial chunk 0
      q.processAllAvailable()
      val store = new ZarrStore(dir, spark.sessionState.newHadoopConf())
      def readBack() = spark.read.format("zarr").option("group", "/meta").load(dir)
      assert(readBack().count() == 3)
      // epoch 2 crosses the chunk boundary: tail chunk 0 is rewritten with
      // its old rows + the new one, chunk 1 appears
      mem.addData(Doc(3, "d"), Doc(4, "e"), Doc(5, "f"))
      q.processAllAvailable()
      val rows = readBack().orderBy("id").collect()
      assert(rows.map(_.getLong(rows.head.fieldIndex("id"))).toSeq == (0L to 5L))
      assert(rows.map(_.getString(rows.head.fieldIndex("word"))).toSeq ==
        Seq("a", "b", "c", "d", "e", "f"))
      // stats sidecar covers the grown grid and stays pruning-usable
      val stats = ZarrStats.read(store, "/meta").get
      assert(stats.totalRows == 6 && stats.nChunks == 2 && stats.chunkRows == 4)
      assert(stats.columns("id").min.toSeq == Seq("0", "4"))
      assert(stats.columns("id").max.toSeq == Seq("3", "5"))
      val pruned = spark.read.format("zarr").option("group", "/meta")
        .option("target_partition_rows", "4").load(dir)
        .filter(col("id") >= 4)
      assert(pruned.queryExecution.toRdd.getNumPartitions == 1)
      assert(pruned.count() == 2)
    } finally q.stop()
  }

  case class GeoDoc(id: Long, bbox: String)

  test("streamed bbox columns carry envelope stats across epochs; tail rewrite stays fresh") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink_geo") + "/store.zarr"
    def poly(r: Int): String = s"POLYGON (($r -$r, $r $r, -$r $r, -$r -$r, $r -$r))"
    val mem = MemoryStream[GeoDoc]
    val q = mem.toDF().writeStream.format("zarr")
      .option("group", "/meta").option("chunk_rows", "2")
      .option("checkpointLocation", tempDir("zsink_geo_ckpt"))
      .start(dir)
    try {
      mem.addData(GeoDoc(0, poly(10)), GeoDoc(1, poly(11)), GeoDoc(2, poly(20)))
      q.processAllAvailable()
      val store = new ZarrStore(dir, spark.sessionState.newHadoopConf())
      val s1 = ZarrStats.read(store, "/meta").get
      assert(s1.envelopes("bbox")(0).toSeq == Seq(-11.0, -11.0, 11.0, 11.0))
      // next epoch rewrites the tail chunk (adds id=3) and appends chunk 2:
      // merged envelopes must reflect the REWRITTEN tail, not the stale one
      mem.addData(GeoDoc(3, poly(25)), GeoDoc(4, poly(30)))
      q.processAllAvailable()
      val s2 = ZarrStats.read(store, "/meta").get
      assert(s2.envelopes("bbox").length == 3)
      assert(s2.envelopes("bbox")(0).toSeq == Seq(-11.0, -11.0, 11.0, 11.0)) // carried
      assert(s2.envelopes("bbox")(1).toSeq == Seq(-25.0, -25.0, 25.0, 25.0)) // rewritten tail
      assert(s2.envelopes("bbox")(2).toSeq == Seq(-30.0, -30.0, 30.0, 30.0)) // appended
      // and the pruning actually engages on the streamed store
      graft.functions.GeoFunctions.register(spark)
      val pruned = spark.read.format("zarr").option("group", "/meta")
        .option("target_partition_rows", "2").load(dir)
        .filter(graft.functions.GeoFunctions.bbox_intersects(col("bbox"), 28, 28, 40, 40))
      assert(pruned.queryExecution.toRdd.getNumPartitions == 1)
      assert(pruned.select("id").collect().map(_.getLong(0)).toSeq == Seq(4L))
    } finally q.stop()
  }

  test("replayed epochs are no-ops (restart from checkpoint re-delivers last batch)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink_replay") + "/store.zarr"
    val ckpt = tempDir("zsink_replay_ckpt")
    val mem = MemoryStream[Doc]
    mem.addData(Doc(0, "a"), Doc(1, "b"))
    val q1 = mem.toDF().writeStream.format("zarr")
      .option("group", "/meta").option("chunk_rows", "4")
      .option("checkpointLocation", ckpt).start(dir)
    try q1.processAllAvailable() finally q1.stop()
    // restart against the SAME checkpoint: Structured Streaming replays the
    // last batch; the commit marker makes the rewrite a no-op
    val q2 = mem.toDF().writeStream.format("zarr")
      .option("group", "/meta").option("chunk_rows", "4")
      .option("checkpointLocation", ckpt).start(dir)
    try {
      mem.addData(Doc(2, "c"))
      q2.processAllAvailable()
    } finally q2.stop()
    val back = spark.read.format("zarr").option("group", "/meta").load(dir)
      .orderBy("id").collect()
    assert(back.map(_.getLong(back.head.fieldIndex("id"))).toSeq == Seq(0L, 1L, 2L))
  }

  test("replayed epoch heals a crash between marker write and shape publish") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink_heal") + "/store.zarr"
    val mem = MemoryStream[Doc]
    val q = mem.toDF().writeStream.format("zarr")
      .option("group", "/t").option("chunk_rows", "4")
      .option("checkpointLocation", tempDir("zsink_heal_ckpt"))
      .start(dir)
    try {
      mem.addData((0L until 9L).map(i => Doc(i, s"w$i")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val hconf = spark.sessionState.newHadoopConf()
    val store = new ZarrStore(dir, hconf)
    assert(ZarrStreamCommit.read(store, "t") == (0L, 9L))
    // simulate the crash window: marker already says 9 rows, but the shape
    // publish never happened — roll the metadata back to 4 rows
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("word", org.apache.spark.sql.types.StringType)))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    graft.sources.ZarrWriteSupport.writeTableMetadata(fs, dir, "t", schema, 4L, 4)
    assert(spark.read.format("zarr").option("group", "/t").load(dir).count() == 4)
    // a REPLAYED epoch (what Spark delivers after the crash) must republish
    // the marker's shape — invoke the sink commit as the restarted driver would
    val write = new graft.sources.ZarrStreamingWrite(dir, "t", schema, schema, 4,
      graft.zarr.HadoopConfBroadcast(spark))
    write.commit(0L, Array(
      graft.sources.ZarrTaskCommit(Seq.empty, Seq.empty, 9L, replayed = true)))
    val healed = spark.read.format("zarr").option("group", "/t").load(dir)
      .orderBy("id").collect()
    assert(healed.map(_.getLong(healed.head.fieldIndex("id"))).toSeq == (0L until 9L))
  }

  test("replay heals the marker-before-FIRST-metadata crash window; k-D dims " +
      "recover from the marker") {
    // fresh stream-created 2-D table, then simulate the crash window where
    // the marker was written but NO metadata document ever was: every
    // zarr.json vanishes, only chunks + marker + sidecars remain. The
    // replayed epoch must republish the table — the trailing dims exist
    // nowhere but the marker (round 9: it records them for exactly this).
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink_nd_heal") + "/store.zarr"
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("id", "vec").writeStream.format("zarr")
      .option("group", "/t").option("chunk_rows", "4")
      .option("checkpointLocation", tempDir("zsink_nd_heal_ckpt"))
      .start(dir)
    try {
      mem.addData((0L, Seq(1f, 2f)), (1L, Seq(3f, 4f)), (2L, Seq(5f, 6f)))
      q.processAllAvailable()
    } finally q.stop()
    for (doc <- Seq("zarr.json", "t/zarr.json", "t/id/zarr.json", "t/vec/zarr.json"))
      java.nio.file.Files.delete(java.nio.file.Paths.get(dir, doc))
    intercept[Exception] { // table really is unreadable in the window
      spark.read.format("zarr").option("group", "/t").load(dir).collect()
    }
    val hconf = spark.sessionState.newHadoopConf()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("vec", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false))))
    val write = new graft.sources.ZarrStreamingWrite(dir, "t", schema, schema, 4,
      graft.zarr.HadoopConfBroadcast(spark))
    write.commit(0L, Array(
      graft.sources.ZarrTaskCommit(Seq.empty, Seq.empty, 3L, replayed = true)))
    val healed = spark.read.format("zarr").option("group", "/t").load(dir)
      .collect().sortBy(_.getLong(0))
    assert(healed.length == 3)
    assert(healed.map(_.getSeq[Float](healed.head.fieldIndex("vec")).toSeq).toSeq ==
      Seq(Seq(1f, 2f), Seq(3f, 4f), Seq(5f, 6f)))
  }

  test("store-to-store relay: zarr source tails what the zarr sink appends") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val src = tempDir("zrelay_src") + "/in.zarr"
    val dst = tempDir("zrelay_dst") + "/out.zarr"
    // seed the source store, then RELAY: readStream(zarr) → writeStream(zarr)
    spark.range(6).select(col("id"), (col("id") * 10).as("v"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "4").mode("overwrite").save(src)
    val q = spark.readStream.format("zarr").option("group", "/t").load(src)
      .writeStream.format("zarr").option("group", "/t")
      .option("chunk_rows", "4")
      .option("checkpointLocation", tempDir("zrelay_ckpt"))
      .start(dst)
    try q.processAllAvailable() finally q.stop()
    val in = spark.read.format("zarr").option("group", "/t").load(src)
      .orderBy("id").collect().toSeq
    val out = spark.read.format("zarr").option("group", "/t").load(dst)
      .orderBy("id").collect().toSeq
    assert(out == in && out.size == 6)
  }

  test("appending to a BATCH-written table (no commit marker) extends it") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink_batch") + "/store.zarr"
    // batch writer publishes zarr.json but no _graft_stream_commit.json —
    // the sink must start at the published length, not overwrite from row 0
    spark.range(6).select(col("id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("w"), col("id")).as("word"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "4").mode("overwrite").save(dir)
    val mem = MemoryStream[Doc]
    val q = mem.toDF().writeStream.format("zarr")
      .option("group", "/t").option("chunk_rows", "4")
      .option("checkpointLocation", tempDir("zsink_batch_ckpt"))
      .start(dir)
    try {
      // crosses the partial tail chunk (6 % 4 = 2 rows already in chunk 1)
      mem.addData(Doc(6, "w6"), Doc(7, "w7"), Doc(8, "w8"))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format("zarr").option("group", "/t").load(dir)
      .orderBy("id").collect()
    assert(back.length == 9)
    assert(back.map(_.getLong(back.head.fieldIndex("id"))).toSeq == (0L to 8L))
    assert(back.map(_.getString(back.head.fieldIndex("word"))).toSeq ==
      (0 to 8).map("w" + _))
    // the marker now records the merged total, so the NEXT epoch appends too
    val store = new ZarrStore(dir, spark.sessionState.newHadoopConf())
    assert(ZarrStreamCommit.read(store, "t")._2 == 9L)
  }

  test("appending preserves foreign user attributes on the arrays") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink_attrs") + "/store.zarr"
    spark.range(4).select(col("id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("w"), col("id")).as("word"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "4").mode("overwrite").save(dir)
    // a foreign writer (xarray-style) adds attributes to an array document;
    // drop the group's consolidated copy so the per-array doc is
    // authoritative, and Hadoop's local .crc sidecars after direct edits
    val idMeta = java.nio.file.Paths.get(dir, "t", "id", "zarr.json")
    java.nio.file.Files.writeString(idMeta,
      java.nio.file.Files.readString(idMeta).replace(
        "\"attributes\":{}", """"attributes":{"units":"meters"}"""))
    val groupMeta = java.nio.file.Paths.get(dir, "t", "zarr.json")
    java.nio.file.Files.writeString(groupMeta,
      """{"attributes":{"title":"my dataset"},"zarr_format":3,"node_type":"group"}""")
    for (p <- Seq(idMeta, groupMeta))
      java.nio.file.Files.deleteIfExists(
        p.resolveSibling("." + p.getFileName + ".crc"))
    val mem = MemoryStream[Doc]
    val q = mem.toDF().writeStream.format("zarr")
      .option("group", "/t").option("chunk_rows", "4")
      .option("checkpointLocation", tempDir("zsink_attrs_ckpt"))
      .start(dir)
    try {
      mem.addData(Doc(4, "w4"), Doc(5, "w5"))
      q.processAllAvailable()
    } finally q.stop()
    // the epoch republished zarr.json — the attributes must have survived
    val back = spark.read.format("zarr").option("group", "/t").load(dir)
    assert(back.count() == 6)
    val idField = back.schema.fields.find(_.name == "id").get
    assert(idField.metadata.contains("zarr.attributes"),
      "epoch republish wiped the array's user attributes")
    assert(idField.metadata.getString("zarr.attributes") ==
      """{"units":"meters"}""")
    // GROUP-level (dataset) attributes survive the republish too
    val groupAfter = java.nio.file.Files.readString(groupMeta)
    assert(groupAfter.contains("\"title\":\"my dataset\""),
      s"epoch republish wiped the group's attributes: $groupAfter")
    assert(groupAfter.contains("consolidated_metadata"))
  }

  test("a fresh stream-created table is seeded with schema-carried attributes") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink_seed") + "/store.zarr"
    val mem = MemoryStream[Doc]
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("zarr.attributes", """{"units":"count"}""").build()
    val q = mem.toDF().select(col("id").as("id", meta), col("word"))
      .writeStream.format("zarr")
      .option("group", "/t").option("chunk_rows", "4")
      .option("checkpointLocation", tempDir("zsink_seed_ckpt"))
      .start(dir)
    try {
      mem.addData(Doc(0, "w0"), Doc(1, "w1"))
      q.processAllAvailable()
    } finally q.stop()
    val idField = spark.read.format("zarr").option("group", "/t").load(dir)
      .schema.fields.find(_.name == "id").get
    assert(idField.metadata.contains("zarr.attributes"),
      "fresh table was not seeded from schema-carried attributes")
    assert(idField.metadata.getString("zarr.attributes") == """{"units":"count"}""")
  }

  test("streaming append to a SHARDED table writes shards of the same inner grid") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink_shard") + "/store.zarr"
    // batch-write a sharded table: chunk=8 rows, inner=4
    spark.range(6).select(col("id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("w"), col("id")).as("word"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "8").option("shard_rows", "4")
      .mode("overwrite").save(dir)
    val mem = MemoryStream[Doc]
    val q = mem.toDF().writeStream.format("zarr")
      .option("group", "/t").option("chunk_rows", "8")
      .option("checkpointLocation", tempDir("zsink_shard_ckpt"))
      .start(dir)
    try {
      // crosses the tail shard (6 % 8 = 6 rows in chunk 0) into chunk 1
      mem.addData(Doc(6, "w6"), Doc(7, "w7"), Doc(8, "w8"), Doc(9, "w9"))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format("zarr").option("group", "/t").load(dir)
      .orderBy("id").collect()
    assert(back.map(_.getLong(back.head.fieldIndex("id"))).toSeq == (0L to 9L))
    assert(back.map(_.getString(back.head.fieldIndex("word"))).toSeq ==
      (0 to 9).map("w" + _))
    // the appended table still declares the sharding extension
    val metaJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "t", "id", "zarr.json")), "UTF-8")
    assert(metaJson.contains("sharding_indexed") &&
      metaJson.contains("\"chunk_shape\":[4]"), metaJson)
    // a FRESH store can be stream-created sharded via the option
    val dir2 = tempDir("zsink_shard_fresh") + "/store.zarr"
    val mem2 = MemoryStream[Doc]
    val q2 = mem2.toDF().writeStream.format("zarr")
      .option("group", "/t").option("chunk_rows", "8").option("shard_rows", "4")
      .option("checkpointLocation", tempDir("zsink_shard_fresh_ckpt"))
      .start(dir2)
    try {
      mem2.addData(Doc(0, "a"), Doc(1, "b"), Doc(2, "c"))
      q2.processAllAvailable()
    } finally q2.stop()
    val fresh = spark.read.format("zarr").option("group", "/t").load(dir2)
    assert(fresh.count() == 3)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir2, "t", "word", "zarr.json")), "UTF-8")
      .contains("sharding_indexed"))
    // mismatched shard grid is rejected
    val mem3 = MemoryStream[Doc]
    mem3.addData(Doc(10, "x"))
    val q3 = mem3.toDF().writeStream.format("zarr")
      .option("group", "/t").option("chunk_rows", "8").option("shard_rows", "2")
      .option("checkpointLocation", tempDir("zsink_shard_bad_ckpt"))
      .start(dir)
    val e = interceptQuietly[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q3.processAllAvailable() finally q3.stop()
    }
    assert(e.getMessage.contains("must match") ||
      Option(e.getCause).exists(_.getMessage.contains("must match")))
  }

  test("sharded streaming append STREAMS: bytes identical to the buffered " +
      "encodeShard, tmp objects cleaned up") {
    // round 9: the sink's sharded path buffers ONE INNER CHUNK of values
    // and appends inner chunks to an open .tmp stream (task memory
    // O(ncols × shard_rows), no whole-shard byte array), publishing by
    // atomic rename. The on-disk bytes must be EXACTLY what the buffered
    // encodeShard produces for the merged chunk contents — including the
    // tail-shard rewrite that merges batch-written rows — or readers of
    // either vintage would disagree.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink_shard_bytes") + "/store.zarr"
    spark.range(6).select(col("id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("w"), col("id")).as("word"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "8").option("shard_rows", "4")
      .mode("overwrite").save(dir)
    val mem = MemoryStream[Doc]
    val q = mem.toDF().writeStream.format("zarr")
      .option("group", "/t").option("chunk_rows", "8")
      .option("checkpointLocation", tempDir("zsink_shard_bytes_ckpt"))
      .start(dir)
    try {
      // tail rewrite (rows 6-7 into chunk 0's shard) + a partial chunk 1
      mem.addData(Doc(6, "w6"), Doc(7, "w7"), Doc(8, "w8"), Doc(9, "w9"))
      q.processAllAvailable()
    } finally q.stop()
    import org.apache.spark.sql.types.{LongType, StringType}
    for ((name, dt, mk) <- Seq(
        ("id", LongType, (i: Int) => java.lang.Long.valueOf(i.toLong): Any),
        ("word", StringType, (i: Int) => s"w$i": Any))) {
      for ((chunk, cnt) <- Seq((0, 8), (1, 2))) {
        val vals = new Array[Any](8)
        (0 until cnt).foreach(i => vals(i) = mk(chunk * 8 + i))
        val expected = graft.sources.ZarrWriteSupport.encodeShard(dt, vals, cnt, 8, 4)
        val actual = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, "t", name, "c", chunk.toString))
        assert(java.util.Arrays.equals(actual, expected),
          s"$name chunk $chunk: streamed sink bytes differ from buffered encodeShard")
      }
      // no temp-file residue (AtomicPublish's ".tmp-" names) under the
      // chunk dir after a clean commit
      val leftovers = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, "t", name, "c")).toArray
        .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(_.startsWith(".tmp-"))
      assert(leftovers.isEmpty, s"$name: leftover tmp objects ${leftovers.toSeq}")
    }
  }

  test("streaming append of ARRAY columns: fresh 2-D table grows across epochs, " +
      "tail merge keeps old vectors, batch-written tables extend") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // fresh stream-created 2-D table, chunk=4: epoch 1 leaves a partial
    // tail, epoch 2 crosses the chunk boundary through a tail rewrite
    val dir = tempDir("zsink_nd") + "/store.zarr"
    def vec(i: Long): Seq[Float] = (0 until 3).map(j => (i * 10 + j).toFloat)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("id", "vec").writeStream.format("zarr")
      .option("group", "/t").option("chunk_rows", "4")
      .option("checkpointLocation", tempDir("zsink_nd_ckpt"))
      .start(dir)
    try {
      mem.addData((0L, vec(0)), (1L, vec(1)))
      q.processAllAvailable()
      mem.addData((2L, vec(2)), (3L, vec(3)), (4L, vec(4)))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format("zarr").option("group", "/t").load(dir)
      .collect().sortBy(_.getLong(0))
    assert(back.length == 5)
    back.foreach(r => assert(r.getSeq[Float](r.fieldIndex("vec")) == vec(r.getLong(0))))
    val metaJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "t", "vec", "zarr.json")), "UTF-8")
    assert(metaJson.contains("\"shape\":[5,3]") &&
      metaJson.contains("\"chunk_shape\":[4,3]"), metaJson)

    // appending onto a BATCH-written 2-D table extends it
    val dir2 = tempDir("zsink_nd_batch") + "/store.zarr"
    Seq((0L, vec(0)), (1L, vec(1))).toDF("id", "vec")
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "4").mode("overwrite").save(dir2)
    val mem2 = MemoryStream[(Long, Seq[Float])]
    val q2 = mem2.toDF().toDF("id", "vec").writeStream.format("zarr")
      .option("group", "/t").option("chunk_rows", "4")
      .option("checkpointLocation", tempDir("zsink_nd_batch_ckpt"))
      .start(dir2)
    try {
      mem2.addData((2L, vec(2)), (3L, vec(3)), (4L, vec(4)))
      q2.processAllAvailable()
    } finally q2.stop()
    val back2 = spark.read.format("zarr").option("group", "/t").load(dir2)
      .collect().sortBy(_.getLong(0))
    assert(back2.length == 5)
    back2.foreach(r => assert(r.getSeq[Float](r.fieldIndex("vec")) == vec(r.getLong(0))))

    // a stream whose vectors disagree with the table's trailing shape
    // fails typed (the tail merge establishes the table's dims first).
    // NOTE the fresh checkpoint restarts at epoch 0, which the table's
    // commit marker already records — that first batch is a replay no-op
    // by design, so the bad row is fed in epoch 1
    val mem3 = MemoryStream[(Long, Seq[Float])]
    mem3.addData((5L, vec(5)))
    val q3 = mem3.toDF().toDF("id", "vec").writeStream.format("zarr")
      .option("group", "/t").option("chunk_rows", "4")
      .option("checkpointLocation", tempDir("zsink_nd_bad_ckpt"))
      .start(dir2)
    q3.processAllAvailable() // epoch 0: replayed no-op
    mem3.addData((5L, (0 until 4).map(_.toFloat)))
    val e = interceptQuietly[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q3.processAllAvailable() finally q3.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("ragged") || m.contains("trailing")),
      messages(e).mkString(" | "))
  }

  case class IdxDoc(idx: Long, id: Long, word: String)

  test("distributed epochs: row_index routes whole chunks across >=4 tasks") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink_dist") + "/store.zarr"
    val mem = MemoryStream[IdxDoc]
    // the caller routes whole chunks, exactly like the distributed batch
    // write; 5 shuffle partitions force a genuinely multi-task epoch
    val q = mem.toDF()
      .repartition(5, org.apache.spark.sql.functions.expr("idx div 4"))
      .writeStream.format("zarr")
      .option("group", "/meta").option("chunk_rows", "4")
      .option("row_index", "idx")
      .option("checkpointLocation", tempDir("zsink_dist_ckpt"))
      .start(dir)
    try {
      // epoch 1: chunks 0,1 full + chunk 2 partial, spread over tasks
      mem.addData((0L until 10L).map(i => IdxDoc(i, i, s"w$i")): _*)
      q.processAllAvailable()
      def readBack() = spark.read.format("zarr").option("group", "/meta").load(dir)
      assert(readBack().count() == 10)
      // epoch 2: the task owning tail chunk 2 merges rows 8-9 and extends;
      // chunks 3,4 append from other tasks
      mem.addData((10L until 18L).map(i => IdxDoc(i, i, s"w$i")): _*)
      q.processAllAvailable()
      val rows = readBack().orderBy("id").collect()
      assert(rows.length == 18)
      assert(rows.map(_.getLong(rows.head.fieldIndex("id"))).toSeq == (0L until 18L))
      assert(rows.map(_.getString(rows.head.fieldIndex("word"))).toSeq ==
        (0 until 18).map("w" + _))
      // the row_index column is NOT written as an array
      assert(readBack().schema.fieldNames.sorted.toSeq == Seq("id", "word"))
      // stats sidecar covers the full grown grid (5 chunks), pruning-usable
      val store = new ZarrStore(dir, spark.sessionState.newHadoopConf())
      val stats = ZarrStats.read(store, "/meta").get
      assert(stats.totalRows == 18 && stats.nChunks == 5 && stats.chunkRows == 4)
      assert(stats.columns("id").min.toSeq == Seq("0", "4", "8", "12", "16"))
      assert(ZarrStreamCommit.read(store, "meta")._2 == 18L)
      val pruned = spark.read.format("zarr").option("group", "/meta")
        .option("target_partition_rows", "4").load(dir)
        .filter(col("id") >= 16)
      assert(pruned.queryExecution.toRdd.getNumPartitions == 1)
      assert(pruned.count() == 2)
    } finally q.stop()
  }

  test("distributed epochs append to a SHARDED table (whole shards per task)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink_dist_shard") + "/store.zarr"
    // batch-seed a sharded table: chunk(=shard)=4 rows, inner=2; 6 rows →
    // shard 1 is a partial tail (2 rows)
    spark.range(6).select(col("id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("w"), col("id")).as("word"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "4").option("shard_rows", "2")
      .mode("overwrite").save(dir)
    val mem = MemoryStream[IdxDoc]
    val q = mem.toDF().selectExpr("idx", "id", "concat('w', id) AS word")
      .repartition(4, org.apache.spark.sql.functions.expr("idx div 4"))
      .writeStream.format("zarr")
      .option("group", "/t").option("chunk_rows", "4")
      .option("row_index", "idx")
      .option("checkpointLocation", tempDir("zsink_dist_shard_ckpt"))
      .start(dir)
    try {
      // global positions 6..13: the task owning shard 1 merges its 2 rows
      // and rewrites it; shards 2,3 append from other tasks
      mem.addData((6L until 14L).map(i => IdxDoc(i, i, "")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format("zarr").option("group", "/t").load(dir)
      .orderBy("id").collect()
    assert(back.map(_.getLong(back.head.fieldIndex("id"))).toSeq == (0L until 14L))
    assert(back.map(_.getString(back.head.fieldIndex("word"))).toSeq ==
      (0 until 14).map("w" + _))
    // still declares sharding with the inherited inner grid
    val metaJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "t", "id", "zarr.json")), "UTF-8")
    assert(metaJson.contains("sharding_indexed") &&
      metaJson.contains("\"chunk_shape\":[2]"), metaJson)
  }

  test("distributed epochs: splitting a chunk across tasks fails loud, no partial table") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink_dist_split") + "/store.zarr"
    val mem = MemoryStream[IdxDoc]
    // WRONG routing: hash on idx itself scatters a chunk's rows over tasks
    val q = mem.toDF()
      .repartition(4, col("idx"))
      .writeStream.format("zarr")
      .option("group", "/meta").option("chunk_rows", "4")
      .option("row_index", "idx")
      .option("checkpointLocation", tempDir("zsink_dist_split_ckpt"))
      .start(dir)
    try {
      mem.addData((0L until 8L).map(i => IdxDoc(i, i, s"w$i")): _*)
      val e = interceptQuietly[org.apache.spark.sql.streaming.StreamingQueryException] {
        try q.processAllAvailable() finally q.stop()
      }
      def hasMsg(t: Throwable): Boolean =
        t != null && (t.getMessage != null &&
          (t.getMessage.contains("out of order") ||
            t.getMessage.contains("split across tasks") ||
            t.getMessage.contains("coverage gap")) || hasMsg(t.getCause))
      assert(hasMsg(e), e.toString)
    } finally q.stop()
    // nothing published: a failed epoch must not leave a readable table
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "meta", "zarr.json")))
  }

  test("distributed epochs: a per-epoch (non-global) row_index is rejected") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink_dist_bad") + "/store.zarr"
    val mem = MemoryStream[IdxDoc]
    val q = mem.toDF()
      .repartition(4, org.apache.spark.sql.functions.expr("idx div 4"))
      .writeStream.format("zarr")
      .option("group", "/meta").option("chunk_rows", "4")
      .option("row_index", "idx")
      .option("checkpointLocation", tempDir("zsink_dist_bad_ckpt"))
      .start(dir)
    try {
      mem.addData((0L until 6L).map(i => IdxDoc(i, i, s"w$i")): _*)
      q.processAllAvailable()
      // epoch 2 restarts its index at 0 — behind the committed row count
      mem.addData(IdxDoc(0, 6, "w6"))
      val e = interceptQuietly[org.apache.spark.sql.streaming.StreamingQueryException] {
        try q.processAllAvailable() finally q.stop()
      }
      def hasMsg(t: Throwable): Boolean =
        t != null && (t.getMessage != null && t.getMessage.contains("behind the committed") ||
          hasMsg(t.getCause))
      assert(hasMsg(e))
    } finally q.stop()
  }

  test("appending a mismatched DTYPE is rejected (commit would re-declare chunks)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink_dtype") + "/store.zarr"
    // batch table: value is DOUBLE (float64 chunks)
    spark.range(4).select(col("id"), (col("id") * 1.5).as("value"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "4").mode("overwrite").save(dir)
    // stream writes value as LONG: same names, same grid — must still fail,
    // or the epoch commit republishes value's zarr.json as int64 and every
    // committed float64 chunk reads back as garbage bit patterns
    val mem = MemoryStream[(Long, Long)]
    mem.addData((4L, 9L))
    val q = mem.toDF().toDF("id", "value").writeStream.format("zarr")
      .option("group", "/t").option("chunk_rows", "4")
      .option("checkpointLocation", tempDir("zsink_dtype_ckpt"))
      .start(dir)
    val e = interceptQuietly[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    def hasMsg(t: Throwable): Boolean =
      t != null && (t.getMessage != null && t.getMessage.contains("re-declare") ||
        hasMsg(t.getCause))
    assert(hasMsg(e), e.toString)
    // the table is untouched and still reads as doubles
    val back = spark.read.format("zarr").option("group", "/t").load(dir)
    assert(back.select("value").collect().map(_.getDouble(0)).sorted.toSeq ==
      Seq(0.0, 1.5, 3.0, 4.5))
  }

  test("misuse: complete mode and mismatched grids are rejected") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("zsink_bad") + "/store.zarr"
    spark.range(3).select(col("id")).coalesce(1)
      .write.format("zarr").option("group", "/t").option("chunk_rows", "4")
      .mode("overwrite").save(dir)
    val mem = MemoryStream[Doc]
    mem.addData(Doc(9, "x"))
    // chunk grid mismatch (existing 4, streaming 8) must fail fast
    val q = mem.toDF().select(col("id")).writeStream.format("zarr")
      .option("group", "/t").option("chunk_rows", "8")
      .option("checkpointLocation", tempDir("zsink_bad_ckpt"))
      .start(dir)
    val e = interceptQuietly[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("must match") ||
      Option(e.getCause).exists(_.getMessage.contains("must match")))
  }

  test("an epoch stages and renames only the partial tail chunk; fresh chunks " +
      "are created in place") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import AtomicPublishSpec.RecordingFs
    implicit val ctx = spark.sqlContext
    spark.sparkContext.hadoopConfiguration.set(s"fs.${RecordingFs.Scheme}.impl",
      classOf[RecordingFs].getName)
    for (shardRows <- Seq(0, 2)) {
      val dir = tempDir("zsink_create") + "/store.zarr"
      val uri = s"${RecordingFs.Scheme}://$dir"
      // 6 rows at chunk_rows=4: chunk 1 is a partial tail holding rows 4-5
      spark.range(6).select(col("id"),
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("w"), col("id")).as("word"))
        .coalesce(1).write.format("zarr").option("group", "/t")
        .option("chunk_rows", "4").option("shard_rows", shardRows.toString)
        .mode("overwrite").save(uri)
      val mem = MemoryStream[Doc]
      val q = mem.toDF().writeStream.format("zarr")
        .option("group", "/t").option("chunk_rows", "4")
        .option("checkpointLocation", tempDir("zsink_create_ckpt"))
        .start(uri)
      RecordingFs.events.clear()
      try {
        // rows 6-15: the tail chunk 1, then fresh chunks 2 and 3
        mem.addData((6L until 16L).map(i => Doc(i, s"w$i")): _*)
        q.processAllAvailable()
      } finally q.stop()
      val events = RecordingFs.events.asScala.toSeq
      def chunkEvents(op: String, name: String => Boolean): Seq[String] =
        events.filter(_.startsWith(s"$op ")).map(_.stripPrefix(s"$op ")).filter(name)
      val isChunk = (n: String) => n.nonEmpty && n.forall(_.isDigit)
      // one staged object and one rename per column, all for chunk 1
      assert(chunkEvents("rename", n => isChunk(n.split(" -> ").last))
        .map(_.split(" -> ").last) == Seq("1", "1"), s"shard=$shardRows: $events")
      assert(chunkEvents("create", _.startsWith(".tmp-")).map(_.split("-")(1))
        .filter(isChunk) == Seq("1", "1"), s"shard=$shardRows: $events")
      // fresh chunks: created in place, one object per column
      assert(chunkEvents("create", isChunk).sorted == Seq("2", "2", "3", "3"),
        s"shard=$shardRows: $events")
      for (name <- Seq("id", "word")) {
        val leftovers = new java.io.File(s"$dir/t/$name/c").list().filter(_.startsWith(".tmp-"))
        assert(leftovers.isEmpty, s"shard=$shardRows $name: ${leftovers.toSeq}")
      }
      val back = spark.read.format("zarr").option("group", "/t").load(uri)
        .orderBy("id").collect()
      assert(back.map(r => (r.getAs[Long]("id"), r.getAs[String]("word"))).toSeq ==
        (0L until 16L).map(i => (i, s"w$i")), s"shard=$shardRows")
    }
  }

  test("batch write ≡ streamed epochs: byte-identical chunk objects and stats sidecar") {
    // the same seeded rows written once by df.write and once as four
    // epochs whose boundaries (5, 12, 21) all cut through a chunk of 8 rows,
    // so every later epoch merges and rewrites a partial tail chunk
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    implicit val ctx = spark.sqlContext
    val n = 27
    val epochs = Seq(0 until 5, 5 until 12, 12 until 21, 21 until n)
    val rnd = new scala.util.Random(20261020L)
    def box(): String = {
      val (x, y) = (rnd.nextInt(360) - 180.0, rnd.nextInt(180) - 90.0)
      val (x1, y1) = (x + rnd.nextDouble() * 5, y + rnd.nextDouble() * 5)
      s"POLYGON (($x $y, $x1 $y, $x1 $y1, $x $y1, $x $y))"
    }
    val scalar = (0 until n).map { i =>
      (i.toLong,
        if (rnd.nextInt(6) == 0) null else s"name${rnd.nextInt(1000)}",
        rnd.nextGaussian(),
        rnd.nextInt(8) match { case 0 => null; case 1 => "POLYGON ((oops"; case _ => box() })
    }
    val scalarCols = Seq("id", "name", "score", "bbox")
    val vectors = (0 until n).map(i => (i.toLong, Seq.fill(3)(rnd.nextFloat())))
    val vectorCols = Seq("id", "vec")

    def batch(df: org.apache.spark.sql.DataFrame, opts: Map[String, String]): String = {
      val dir = tempDir("zparity_batch") + "/store.zarr"
      df.withColumn("idx", col("id")).coalesce(1).write.format("zarr")
        .option("group", "/t").option("chunk_rows", "8").option("row_index", "idx")
        .options(opts).mode("overwrite").save(dir)
      dir
    }
    def stream[T: org.apache.spark.sql.Encoder](rows: Seq[T], cols: Seq[String],
        opts: Map[String, String]): String = {
      val dir = tempDir("zparity_stream") + "/store.zarr"
      val mem = MemoryStream[T]
      val q = mem.toDF().toDF(cols: _*).writeStream.format("zarr")
        .option("group", "/t").option("chunk_rows", "8").options(opts)
        .option("checkpointLocation", tempDir("zparity_ckpt"))
        .start(dir)
      try epochs.foreach { r =>
        mem.addData(rows.slice(r.start, r.end): _*)
        q.processAllAvailable()
      } finally q.stop()
      dir
    }
    /** Every chunk object of the table, by path under the group. */
    def chunkObjects(dir: String): Map[String, Array[Byte]] = {
      val root = Paths.get(dir, "t")
      Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .map(p => root.relativize(p).toString)
        .filter(_.split(java.io.File.separator).contains("c"))
        .map(rel => rel -> Files.readAllBytes(root.resolve(rel))).toMap
    }
    def stats(dir: String): String =
      new String(Files.readAllBytes(Paths.get(dir, "t", ZarrStats.FileName)), "UTF-8")

    for ((layout, ncols, b, s) <- Seq(
        ("scalar + bbox", 4, batch(scalar.toDF(scalarCols: _*), Map.empty),
          stream(scalar, scalarCols, Map.empty)),
        ("sharded", 4, batch(scalar.toDF(scalarCols: _*), Map("shard_rows" -> "4")),
          stream(scalar, scalarCols, Map("shard_rows" -> "4"))),
        ("2-D array", 2, batch(vectors.toDF(vectorCols: _*), Map.empty),
          stream(vectors, vectorCols, Map.empty)))) {
      val (bc, sc) = (chunkObjects(b), chunkObjects(s))
      assert(bc.size == 4 * ncols, s"$layout: ${bc.keys}") // 27 rows = 4 chunks
      assert(bc.keySet == sc.keySet, s"$layout: ${bc.keySet} vs ${sc.keySet}")
      bc.foreach { case (k, bytes) =>
        assert(java.util.Arrays.equals(bytes, sc(k)), s"$layout: $k differs")
      }
      assert(stats(b) == stats(s), s"$layout")
      if (ncols == 4) assert(stats(b).contains("envelopes"), layout)
    }
  }
}
