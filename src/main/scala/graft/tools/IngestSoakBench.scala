package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{AtRest, Dedup, DedupIndex}

/**
 * Long-running ingest soak: `runMain graft.tools.IngestSoakBench
 * [nBatches] [docsPerBatch] [compactAt] [nShards]` (defaults 100 / 50 /
 * 66 / 1).
 *
 * Drives [[DedupIndex.ingestStream]] (or, with `nShards > 1`, a fleet of
 * [[DedupIndex.ingestStreamSharded]] writers sharing the same two at-rest
 * roots) through `nBatches` MemoryStream micro-batches of deterministic
 * drift-y documents (a sliding vocabulary window, ~20% cross-batch
 * duplicates of earlier docs, ~10% in-batch duplicates), measuring what a
 * production stream would care about:
 *
 *  - per-batch wall clock: flat once the index holds thousands of docs —
 *    the id-addressable corpus + partition-pruned index probe keep each
 *    micro-batch's cost batch-proportional, not corpus-proportional;
 *  - the INCREMENTAL STATS LEDGER in the loop: [[DedupIndex.enableLedger]]
 *    migrates the young corpus at batch 2 (stream quiesced — the lease
 *    makes forgetting that loud), every later batch maintains it, and the
 *    run ends by checking `ledgerCard` n_docs == corpus rows — the
 *    batch-proportional card staying exact over a long stream;
 *  - file/marker accretion: one file-set + one `_committed` marker per
 *    batch per path until the mid-run maintenance pass (stream stopped,
 *    [[DedupIndex.compact]]/[[DedupIndex.compactCorpus]] +
 *    [[AtRest.compactMarkers]] watermark, RESTARTED on the same
 *    checkpoint — exercising batchId continuity across a restart and the
 *    marker-retention knob end to end);
 *  - the INCREMENTAL RECHECK in the loop: [[DedupIndex.recheckIncremental]]
 *    runs twice mid-stream (quiesced, like any maintenance pass) on the
 *    live corpus — frontier persisted in the corpus itself, so the second
 *    pass adjudicates only the batches committed since the first, with
 *    zero caller bookkeeping; removals tombstone the corpus and write
 *    negative ledger adjustments, and the exit check proves the card
 *    still equals the corpus AFTER recheck+compact have both run;
 *  - admit/drop accounting vs an OFFLINE batch dedup of the identical
 *    document stream (`Dedup.nearDuplicates` over the union) — the
 *    sequential-greedy stream admits a superset of the offline
 *    transitive-canonical survivors by design; the bench reports both.
 *
 * Emits one JSON line per batch plus a summary line for SCALE.md.
 */
object IngestSoakBench {
  def main(args: Array[String]): Unit = {
    val nBatches = if (args.length > 0) args(0).toInt else 100
    val docsPer = if (args.length > 1) args(1).toInt else 50
    val compactAt = if (args.length > 2) args(2).toInt else 66
    val nShards = if (args.length > 3) args(3).toInt else 1
    val ledgerAt = 2
    val recheckAt = Seq((ledgerAt + nBatches) / 3, nBatches - 5).distinct
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

    val root = java.nio.file.Files.createTempDirectory("ingest_soak").toString
    val idxPath = s"$root/index.parquet"
    val corpPath = s"$root/corpus.parquet"

    // deterministic drift-y generator: vocabulary window slides with the
    // batch number; duplicates copy an earlier doc's text verbatim; the
    // source column exercises the per-source ledger grouping
    val texts = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def genBatch(b: Int): Seq[(Long, String, String)] = {
      val rng = new scala.util.Random(42L + b)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      (0 until docsPer).foreach { i =>
        val id = b.toLong * 100000L + i
        val r = rng.nextDouble()
        val text =
          if (r < 0.2 && texts.nonEmpty) // cross-batch duplicate
            texts(rng.nextInt(texts.length))._2
          else if (r < 0.3 && out.nonEmpty) // in-batch duplicate
            out(rng.nextInt(out.length))._2
          else
            (0 until 40).map(_ => s"w${b * 3 + rng.nextInt(500)}").mkString(" ")
        out += ((id, text))
      }
      texts ++= out
      out.toSeq.map { case (id, t) => (id, t, s"s${id % 3}") }
    }

    def countFiles(root: String): Int = {
      // count the LIVE version only — a maintenance swap retains the
      // replaced version for one generation of reader grace, which would
      // otherwise double-count
      val p = AtRest.resolve(spark, root)
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(p))) 0
      else {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
        var n = 0
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }
    }
    val corpFs = new org.apache.hadoop.fs.Path(corpPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def countMarkers(): Int = {
      val d = new org.apache.hadoop.fs.Path(corpPath, "_committed")
      if (!corpFs.exists(d)) 0
      else corpFs.listStatus(d).count(_.getPath.getName.startsWith("batch-"))
    }
    def admittedOf(markerId: Long): Long = {
      val p = new org.apache.hadoop.fs.Path(corpPath, s"_committed/batch-$markerId")
      val in = corpFs.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in)).trim.toLong
      finally in.close()
    }

    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val docsDf = mem.toDF().toDF("doc_id", "text", "source")
    def owner(s: Int) = s"ckpt:$root/ckpt$s"
    def startStreams(): Seq[org.apache.spark.sql.streaming.StreamingQuery] =
      if (nShards == 1)
        Seq(DedupIndex.ingestStream(docsDf, idxPath, corpPath, s"$root/ckpt0"))
      else (0 until nShards).map(s => DedupIndex.ingestStreamSharded(
        docsDf, idxPath, corpPath, s"$root/ckpt$s", s, nShards))
    // the stream's lifetime lease releases on a LISTENER event, which is
    // asynchronous — release explicitly (idempotent) so an immediate
    // maintenance pass can't race a not-yet-fired listener
    def releaseAll(): Unit = (0 until nShards).foreach { s =>
      if (nShards == 1) {
        AtRest.releaseLease(spark, idxPath, owner(s))
        AtRest.releaseLease(spark, corpPath, owner(s))
      } else {
        AtRest.releaseShardLease(spark, idxPath, owner(s), s, nShards)
        AtRest.releaseShardLease(spark, corpPath, owner(s), s, nShards)
      }
    }

    var queries = startStreams()
    var streamRound = 0 // each live stream's NEXT foreachBatch id
    var cum = 0L
    val recheckRemoved = scala.collection.mutable.ArrayBuffer.empty[Long]
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var filesAtCompact = (0, 0)
    var markersAtCompact = 0
    (0 until nBatches).foreach { b =>
      val batch = genBatch(b)
      val t0 = System.nanoTime()
      mem.addData(batch: _*)
      queries.foreach(_.processAllAvailable())
      val wall = (System.nanoTime() - t0) / 1e9
      walls += wall
      // markers are namespaced per shard (round*nShards+shard)
      val adm = (0 until nShards)
        .map(s => admittedOf(streamRound.toLong * nShards + s)).sum
      streamRound += 1
      cum += adm
      println(f"""{"batch":$b,"wall":$wall%.3f,"admitted":$adm,"cum_admitted":$cum}""")
      if (b == ledgerAt) {
        // migrate the young corpus to ledger maintenance (quiesced — the
        // ledger backfill is a whole-root write)
        queries.foreach(_.stop()); releaseAll()
        val t1 = System.nanoTime()
        DedupIndex.enableLedger(spark, corpPath, "source")
        println(f"""{"ledger_enabled_at":$b,"wall":${(System.nanoTime() - t1) / 1e9}%.3f}""")
        queries = startStreams()
      }
      if (recheckAt.contains(b)) {
        // incremental recheck ON THE LIVE CORPUS: quiesce (maintenance
        // holds the whole-root lease), adjudicate exactly the batches
        // committed since the persisted frontier, restart on the same
        // checkpoints. The second pass needs no caller state at all.
        queries.foreach(_.stop()); releaseAll()
        val t1 = System.nanoTime()
        val removed = DedupIndex.recheckIncremental(spark, corpPath, idxPath,
          threshold = 0.7)
        recheckRemoved += removed
        cum -= removed
        println(f"""{"recheck_at":$b,"wall":${(System.nanoTime() - t1) / 1e9}%.3f,"removed":$removed}""")
        queries = startStreams()
      }
      if (b == compactAt) {
        queries.foreach(_.stop()); releaseAll()
        val before = (countFiles(idxPath), countFiles(corpPath))
        markersAtCompact = countMarkers()
        val t1 = System.nanoTime()
        DedupIndex.compact(spark, idxPath)
        DedupIndex.compactCorpus(spark, corpPath)
        // retention: every round <= b is committed and fully processed —
        // watermark at this round's first namespaced id keeps its
        // markers, sweeps the history below
        AtRest.compactMarkers(spark, corpPath,
          oldestReplayable = (streamRound - 1).toLong * nShards)
        val tCompact = (System.nanoTime() - t1) / 1e9
        val after = (countFiles(idxPath), countFiles(corpPath))
        filesAtCompact = before
        println(f"""{"compact_at":$b,"wall":$tCompact%.3f,"idx_files":[${before._1},${after._1}],"corp_files":[${before._2},${after._2}],"markers":[$markersAtCompact,${countMarkers()}]}""")
        queries = startStreams() // same checkpoints: batchIds continue
      }
    }
    queries.foreach(_.stop())

    // offline comparison on the identical stream: transitive canonical
    // survivors (the offline lower bound) vs the stream's greedy admits
    val all = texts.toSeq.toDF("doc_id", "text")
    val offlineSurvivors = all.count() -
      Dedup.nearDupGroups(Dedup.nearDuplicates(all, threshold = 0.7))
        .filter(col("doc_id") =!= col("canonical_id")).count()
    val corpusRows = DedupIndex.readCorpus(spark, corpPath).count()
    // the ledger must agree with the corpus it describes, batch-by-batch
    // maintained since its backfill
    val ledgerDocs = DedupIndex.ledgerCard(spark, corpPath)
      .agg(sum(col("n_docs"))).head.getLong(0)
    val head = walls.take(10).sum / math.min(10, walls.length)
    val tail = walls.takeRight(10).sum / math.min(10, walls.length)
    println(f"""{"summary":{"batches":$nBatches,"shards":$nShards,"docs":${texts.length},"stream_admitted":$cum,"corpus_rows":$corpusRows,"ledger_docs":$ledgerDocs,"recheck_removed":${recheckRemoved.sum},"offline_survivors":$offlineSurvivors,"wall_first10_avg":$head%.3f,"wall_last10_avg":$tail%.3f,"idx_files_final":${countFiles(idxPath)},"corp_files_final":${countFiles(corpPath)},"idx_files_precompact":${filesAtCompact._1},"corp_files_precompact":${filesAtCompact._2},"markers_final":${countMarkers()}}}""")
    // the whole point of the exercise: after ledger enablement, two
    // incremental rechecks, a compaction, and a restartable stream, the
    // batch-proportional card STILL equals the corpus it describes
    assert(ledgerDocs == corpusRows,
      s"ledger n_docs $ledgerDocs != corpus rows $corpusRows")
    assert(cum == corpusRows,
      s"stream accounting (admitted - recheck-removed) $cum != corpus rows $corpusRows")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    spark.stop()
  }
}
