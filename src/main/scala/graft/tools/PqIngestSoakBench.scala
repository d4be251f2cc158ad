package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{AtRest, Similarity}

/**
 * Long-running ENCODED-VECTOR ingest soak — [[IngestSoakBench]]'s IVF-PQ
 * twin: `runMain graft.tools.PqIngestSoakBench [nBatches] [vecsPerBatch]
 * [compactAt] [nShards] [codesOnly]` (defaults 60 / 40 / 20 / 2 / false).
 *
 * Seeds a LEDGERED IVF-PQ table (codes beside vectors, model in the
 * sidecar) — or, `codesOnly = true`, the 100 TB DEPLOYMENT shape: a
 * codes-only table beside an external id-addressable vector store that
 * every arrival lands in FIRST (the store is upstream of ingest); the
 * admission cross-probe then ADC-prefilters the pruned lists' codes and
 * exact-verifies candidates against the store, appends encode-and-drop,
 * and every maintenance pass (compact, frontier-driven recheck, sampled
 * retrain) runs against the codes table + store pair — the previously
 * untested lifecycle. Drives [[Similarity.ivfIngestStreamSharded]] (or
 * the single-writer stream) through `nBatches` MemoryStream micro-batches of
 * deterministic drift-y embeddings (~20% cross-batch near-copies at
 * cosine ~1.0, ~10% in-batch copies), measuring what a production
 * vector-ingest fleet would care about:
 *
 *  - per-batch wall clock: flat once the table holds thousands of rows —
 *    the nProbe-pruned cross probe and batch-proportional publishes keep
 *    each micro-batch's cost independent of table size;
 *  - ENCODING NEVER DRIFTS: every admitted row carries its pq_code
 *    (asserted mid-run and at exit) — the withPqCodes path under real
 *    stream replays/restarts;
 *  - mid-stream maintenance on the live table (streams quiesced, same
 *    checkpoints on restart): [[Similarity.ivfCompactAtRest]] +
 *    [[AtRest.compactMarkers]] watermark, TWO
 *    [[Similarity.ivfRecheckIncremental]] passes (frontier persisted in
 *    the table, zero caller bookkeeping; removals subtract from the
 *    ledger), and an [[Similarity.ivfRetrain]] (sampled training) whose
 *    NEW codebook the restarted fleet must adopt — a stale-codebook
 *    restart fails loudly by design;
 *  - the exactly-once VECTOR LEDGER staying exact across all of it:
 *    exit asserts ledger n_vecs == distinct ids at rest == stream
 *    accounting (admitted − recheck-removed).
 *
 * Emits one JSON line per batch plus a summary line for SCALE.md.
 */
object PqIngestSoakBench {
  def main(args: Array[String]): Unit = {
    val nBatches = if (args.length > 0) args(0).toInt else 60
    val vecsPer = if (args.length > 1) args(1).toInt else 40
    val compactAt = if (args.length > 2) args(2).toInt else 20
    val nShards = if (args.length > 3) args(3).toInt else 2
    val codesOnly = args.length > 4 && args(4).toBoolean
    val retrainAt = nBatches * 2 / 3
    val recheckAt = Seq(nBatches / 2, nBatches - 4).distinct
    val dim = 16
    val nLists = 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = java.nio.file.Files.createTempDirectory("pq_ingest_soak").toString
    val path = s"$root/vectors.parquet"
    // codes-only: the external id-addressable raw-vector store — arrivals
    // land here BEFORE they reach the ingest stream (upstream contract)
    val storePath = s"$root/store.parquet"
    def storeDf = spark.read.parquet(storePath)

    // deterministic drift-y generator: base directions rotate with the
    // batch number; near-copies scale an earlier vector by 1.001
    val history = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    def genBatch(b: Int): Seq[(Long, Array[Float], String)] = {
      val rng = new scala.util.Random(1042L + b)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
      (0 until vecsPer).foreach { i =>
        val id = b.toLong * 100000L + i
        val r = rng.nextDouble()
        val v: Array[Float] =
          if (r < 0.2 && history.nonEmpty)
            history(rng.nextInt(history.length))._2.map(_ * 1.001f)
          else if (r < 0.3 && out.nonEmpty)
            out(rng.nextInt(out.length))._2.map(_ * 1.001f)
          else
            Array.fill(dim)((rng.nextDouble() - 0.5 + 0.005 * b).toFloat)
        out += ((id, v))
      }
      history ++= out
      out.toSeq.map { case (id, v) => (id, v, s"s${id % 3}") }
    }

    // seed: a first batch of vectors, IVF-PQ layout, ledgered by source
    val seed = genBatch(0).toDF("vec_id", "embedding", "source")
    var cb = Similarity.ivfTrainKmeans(seed, nLists = nLists, iters = 3)
    val pq = Similarity.pqTrain(seed, m = 4, ksub = 16, iters = 3)
    if (codesOnly) seed.select("vec_id", "embedding").write.parquet(storePath)
    Similarity.ivfWriteAtRest(seed, cb, path, ledgerBy = "source", pqModel = pq,
      codesOnly = codesOnly)
    var cum = seed.count()

    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def admittedOf(markerId: Long): Long = {
      val p = new org.apache.hadoop.fs.Path(path, s"_committed/batch-$markerId")
      val in = fs.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in)).trim.toLong
      finally in.close()
    }
    def countMarkers(): Int = {
      val d = new org.apache.hadoop.fs.Path(path, "_committed")
      if (!fs.exists(d)) 0
      else fs.listStatus(d).count(_.getPath.getName.startsWith("batch-"))
    }
    def countFiles(): Int = {
      val p = new org.apache.hadoop.fs.Path(AtRest.resolve(spark, path))
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }

    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float], String)]
    val vecsDf = mem.toDF().toDF("vec_id", "embedding", "source")
    def owner(s: Int) = s"ckpt:$root/ckpt$s"
    val rerankPath = if (codesOnly) storePath else null
    def startStreams(): Seq[org.apache.spark.sql.streaming.StreamingQuery] =
      if (nShards == 1)
        Seq(Similarity.ivfIngestStream(vecsDf, cb, path, s"$root/ckpt0",
          threshold = 0.98, nProbe = 4, rerankFromPath = rerankPath))
      else (0 until nShards).map(s => Similarity.ivfIngestStreamSharded(
        vecsDf, cb, path, s"$root/ckpt$s", s, nShards,
        threshold = 0.98, nProbe = 4, rerankFromPath = rerankPath))
    def releaseAll(): Unit = (0 until nShards).foreach { s =>
      if (nShards == 1) AtRest.releaseLease(spark, path, owner(s))
      else AtRest.releaseShardLease(spark, path, owner(s), s, nShards)
    }

    var queries = startStreams()
    var streamRound = 0
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val recheckRemoved = scala.collection.mutable.ArrayBuffer.empty[Long]
    var filesPreCompact = 0
    (1 until nBatches).foreach { b =>
      val batch = genBatch(b)
      // upstream contract: the store receives the raw vectors before the
      // ingest stream sees the batch (UNTIMED — store writes are the
      // producer's cost, not the ingest fleet's)
      if (codesOnly)
        batch.map { case (id, v, _) => (id, v) }.toDF("vec_id", "embedding")
          .write.mode("append").parquet(storePath)
      val t0 = System.nanoTime()
      mem.addData(batch: _*)
      queries.foreach(_.processAllAvailable())
      val wall = (System.nanoTime() - t0) / 1e9
      walls += wall
      val adm = (0 until nShards)
        .map(s => admittedOf(streamRound.toLong * nShards + s)).sum
      streamRound += 1
      cum += adm
      println(f"""{"batch":$b,"wall":$wall%.3f,"admitted":$adm,"cum_admitted":$cum}""")
      if (b == compactAt) {
        queries.foreach(_.stop()); releaseAll()
        filesPreCompact = countFiles()
        val markersBefore = countMarkers()
        val t1 = System.nanoTime()
        Similarity.ivfCompactAtRest(spark, path)
        AtRest.compactMarkers(spark, path,
          oldestReplayable = (streamRound - 1).toLong * nShards)
        println(f"""{"compact_at":$b,"wall":${(System.nanoTime() - t1) / 1e9}%.3f,"files":[$filesPreCompact,${countFiles()}],"markers":[$markersBefore,${countMarkers()}]}""")
        // compaction must not strip codes
        assert(Similarity.ivfRead(spark, path)
          .filter(col("pq_code").isNull).count() == 0, "compact dropped codes")
        queries = startStreams()
      }
      if (recheckAt.contains(b)) {
        queries.foreach(_.stop()); releaseAll()
        val t1 = System.nanoTime()
        val removed = Similarity.ivfRecheckIncremental(spark, path,
          threshold = 0.98,
          rerankFrom = if (codesOnly) storeDf else null)
        recheckRemoved += removed
        cum -= removed
        println(f"""{"recheck_at":$b,"wall":${(System.nanoTime() - t1) / 1e9}%.3f,"removed":$removed}""")
        queries = startStreams()
      }
      if (b == retrainAt) {
        // retrain mid-stream (sampled training path): the fleet restarts
        // under the NEW codebook — restarting with the stale one would
        // fail loudly against the persisted sidecar
        queries.foreach(_.stop()); releaseAll()
        val t1 = System.nanoTime()
        cb = Similarity.ivfRetrain(spark, path, nLists = nLists, iters = 3,
          maxTrainRows = 1024,
          rerankFrom = if (codesOnly) storeDf else null)
        println(f"""{"retrain_at":$b,"wall":${(System.nanoTime() - t1) / 1e9}%.3f}""")
        queries = startStreams()
      }
    }
    queries.foreach(_.stop())

    val atRest = Similarity.ivfRead(spark, path)
    val rows = atRest.dropDuplicates("vec_id").count()
    val unencoded = atRest.filter(col("pq_code").isNull).count()
    // a codes-only table must never grow an embedding column back — one
    // vector-carrying batch dir would drift the schema
    assert(!codesOnly || !atRest.columns.contains("embedding"),
      "codes-only table grew an embedding column")
    val ledgerVecs = Similarity.ivfLedgerCard(spark, path)
      .agg(sum(col("n_vecs"))).head.getLong(0)
    val head = walls.take(10).sum / math.min(10, walls.length)
    val tail = walls.takeRight(10).sum / math.min(10, walls.length)
    println(f"""{"summary":{"batches":$nBatches,"shards":$nShards,"codes_only":$codesOnly,"vecs":${history.length},"stream_admitted":$cum,"table_rows":$rows,"ledger_vecs":$ledgerVecs,"recheck_removed":${recheckRemoved.sum},"unencoded":$unencoded,"wall_first10_avg":$head%.3f,"wall_last10_avg":$tail%.3f,"files_precompact":$filesPreCompact,"files_final":${countFiles()},"markers_final":${countMarkers()}}}""")
    assert(unencoded == 0, s"$unencoded rows lost their pq_code")
    assert(ledgerVecs == rows, s"ledger n_vecs $ledgerVecs != table rows $rows")
    assert(cum == rows,
      s"stream accounting (admitted - recheck-removed) $cum != table rows $rows")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    spark.stop()
  }
}
