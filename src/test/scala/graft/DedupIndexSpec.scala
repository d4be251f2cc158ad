package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DedupIndex}
import graft.queries.Tables

/** The at-rest LSH dedup index: probe results equal the in-memory operator
 *  restricted to cross (batch x corpus) pairs, probes partition-prune BOTH
 *  the index scan and the candidate-text scan, the bloom sidecar
 *  short-circuits no-hit batches, ingest publishes are exactly-once under
 *  replay, and compaction is invisible to probe results. */
class DedupIndexSpec extends SparkSpec {

  private lazy val docs = Tables.t(spark, "/root/testdata/sf0.01", "documents")
  private lazy val corpus = docs.filter(col("doc_id") % 7 =!= 0)
  private lazy val batch = docs.filter(col("doc_id") % 7 === 0)

  /** FileSourceScans of the probe's own plan whose path matches `marker`,
   *  recursing through InMemoryTableScan cached plans (the probe persists
   *  its intermediates). */
  private def scansOf(p: org.apache.spark.sql.execution.SparkPlan, marker: String)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
    case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains(marker)) =>
      Seq(f)
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      scansOf(m.relation.cachedPlan, marker)
  }.flatten

  test("probe equals nearDuplicates restricted to cross pairs") {
    val dir = tempDir("lsh_rest") + "/index.parquet"
    DedupIndex.writeAtRest(corpus, dir)
    val atRest = DedupIndex.probe(spark, dir, batch, corpus, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the batch operator over the WHOLE corpus, keeping only pairs that
    // straddle the split (either orientation of its id_a < id_b form)
    val whole = Dedup.nearDuplicates(docs, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cross = whole.collect {
      case (a, b, j) if a % 7 == 0 && b % 7 != 0 => (a, b, j)
      case (a, b, j) if b % 7 == 0 && a % 7 != 0 => (b, a, j)
    }.toSet
    assert(atRest == cross, s"at-rest $atRest vs in-memory cross $cross")
    assert(atRest.nonEmpty) // the sf0.01 corpus has 9 true cross pairs
  }

  test("probeAtRest against the id-addressable corpus equals the in-memory probe") {
    val root = tempDir("lsh_atrest_eq")
    val idx = s"$root/index.parquet"
    val corp = s"$root/corpus.parquet"
    DedupIndex.writeAtRest(corpus, idx)
    DedupIndex.writeCorpus(corpus.select("doc_id", "text"), corp)
    val inMem = DedupIndex.probe(spark, idx, batch, corpus, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val atRest = DedupIndex.probeAtRest(spark, idx, batch, corp, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(atRest == inMem && atRest.nonEmpty)
  }

  test("a small batch's probe prunes BOTH the index scan and the corpus-text scan") {
    val root = tempDir("lsh_rest_prune")
    val idx = s"$root/index.parquet"
    val corp = s"$root/corpus.parquet"
    DedupIndex.writeAtRest(corpus, idx, nParts = 16)
    DedupIndex.writeCorpus(corpus.select("doc_id", "text"), corp, nParts = 16)
    val nIdxParts = DedupIndex.readIndex(spark, idx).select("bucket_part").distinct().count()
    val nCorpParts = DedupIndex.readCorpus(spark, corp).select("id_part").distinct().count()
    assert(nIdxParts == 16 && nCorpParts == 16) // sf0.01 populates every partition
    // a batch doc KNOWN to collide (bloom prefilter rightly skips no-hit
    // docs): take the smallest batch_id the full probe reports
    val hitId = DedupIndex.probeAtRest(spark, idx, batch, corp, threshold = 0.7)
      .select(min("batch_id")).head.getLong(0)
    val oneDoc = batch.filter(col("doc_id") === hitId)
    spark.conf.set("spark.sql.adaptive.enabled", false)
    val (idxScan, corpScan) =
      try {
        val q = DedupIndex.probeAtRest(spark, idx, oneDoc, corp, threshold = 0.7)
        assert(q.count() > 0) // the pruned probe finds the known pair(s)
        (scansOf(q.queryExecution.executedPlan, "index.parquet").head,
          scansOf(q.queryExecution.executedPlan, "corpus.parquet").head)
      } finally spark.conf.set("spark.sql.adaptive.enabled", true)
    // one doc explodes to `bands` = 8 bucket keys -> at most 8 of 16 parts
    assert(idxScan.selectedPartitions.partitionCount <= 8,
      s"index scan planned ${idxScan.selectedPartitions.partitionCount} partitions, want <= 8 of 16")
    // its candidates are a handful of ids -> a strict subset of id_parts:
    // the corpus-TEXT fetch must NOT scan the whole corpus
    assert(corpScan.selectedPartitions.partitionCount < 16,
      s"corpus scan planned ${corpScan.selectedPartitions.partitionCount} partitions, want < 16")
  }

  test("streaming ingest: micro-batches self-dedup, dedup against all prior batches, grow the index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("lsh_ingest")
    val idxPath = s"$root/index.parquet"
    val corpPath = s"$root/corpus.parquet"
    def doc(n: Int) = (0 until 12).map(i => s"w${n}t$i").mkString(" ") // 12 unique tokens
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.DedupIndex.ingestStream(
      mem.toDF().toDF("doc_id", "text"), idxPath, corpPath, s"$root/ckpt")
    try {
      // batch 1: two originals + an exact in-batch copy of doc 1
      mem.addData((1L, doc(1)), (2L, doc(2)), (3L, doc(1)))
      q.processAllAvailable()
      val after1 = DedupIndex.readCorpus(spark, corpPath).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(after1 === Set(1L, 2L)) // 3 dropped: larger member of the (1,3) pair
      // batch 2: a copy of an EARLIER batch's doc + a fresh doc
      mem.addData((10L, doc(2)), (11L, doc(4)))
      q.processAllAvailable()
      val after2 = DedupIndex.readCorpus(spark, corpPath).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(after2 === Set(1L, 2L, 11L)) // 10 matched indexed doc 2 across batches
      // batch 3: copies of docs from BOTH prior batches → nothing admits
      mem.addData((20L, doc(1)), (21L, doc(4)))
      q.processAllAvailable()
      val after3 = DedupIndex.readCorpus(spark, corpPath).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(after3 === Set(1L, 2L, 11L))
      // the index holds exactly the admitted docs' keys (bands each)
      val idxIds = DedupIndex.readIndex(spark, idxPath).select("id")
        .collect().map(_.getLong(0)).toSet
      assert(idxIds === Set(1L, 2L, 11L))
    } finally q.stop()
  }

  test("ingestStream restart on the same checkpoint: batchIds continue, no duplicates") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("lsh_restart")
    val idxPath = s"$root/index.parquet"
    val corpPath = s"$root/corpus.parquet"
    def doc(n: Int) = (0 until 12).map(i => s"rs${n}t$i").mkString(" ")
    val mem = MemoryStream[(Long, String)]
    def start() = graft.operators.DedupIndex.ingestStream(
      mem.toDF().toDF("doc_id", "text"), idxPath, corpPath, s"$root/ckpt")
    val q1 = start()
    try {
      mem.addData((1L, doc(1)), (2L, doc(2)))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart mid-stream (the compaction-window / crash-recovery path)
    val q2 = start()
    try {
      mem.addData((10L, doc(1)), (11L, doc(3))) // 10 dups batch-0's doc 1
      q2.processAllAvailable()
      val ids = DedupIndex.readCorpus(spark, corpPath).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 2L, 11L))
      // the restarted query's batch published under a CONTINUED batchId
      // (ingest_batch=1), not a reused 0 — the exactly-once markers and
      // dirs stay per-batch-unique across restarts
      val fs = new org.apache.hadoop.fs.Path(corpPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        graft.operators.AtRest.resolve(spark, corpPath), "ingest_batch=1")))
      assert(fs.exists(new org.apache.hadoop.fs.Path(corpPath, "_committed/batch-1")))
      assert(DedupIndex.readIndex(spark, idxPath).count() === 3L * 8) // no key dup
    } finally q2.stop()
  }

  test("ingestBatch with a batchId is exactly-once under full and partial replay") {
    import spark.implicits._
    val root = tempDir("lsh_replay")
    val idxPath = s"$root/index.parquet"
    val corpPath = s"$root/corpus.parquet"
    def doc(n: Int) = (0 until 12).map(i => s"r${n}t$i").mkString(" ")
    val b0 = Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
    val n0 = DedupIndex.ingestBatch(b0, idxPath, corpPath, batchId = 0L)
    assert(n0 === 2L)
    // FULL replay (foreachBatch redelivery after the commit): marker
    // short-circuits — same count back, no duplicate rows or keys
    assert(DedupIndex.ingestBatch(b0, idxPath, corpPath, batchId = 0L) === 2L)
    assert(DedupIndex.readCorpus(spark, corpPath).count() === 2L)
    assert(DedupIndex.readIndex(spark, idxPath).select("id").distinct().count() === 2L)
    assert(DedupIndex.readIndex(spark, idxPath).count() === 2L * 8) // bands keys per doc, ONCE
    // PARTIAL replay: batch 1 publishes its index dir but "crashes" before
    // the corpus publish + marker (simulated by deleting both)
    val b1 = Seq((10L, doc(3)), (11L, doc(1))).toDF("doc_id", "text") // 11 dups doc 1
    assert(DedupIndex.ingestBatch(b1, idxPath, corpPath, batchId = 1L) === 1L)
    val fs = new org.apache.hadoop.fs.Path(corpPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      graft.operators.AtRest.resolve(spark, corpPath), "ingest_batch=1"), true)
    fs.delete(new org.apache.hadoop.fs.Path(corpPath, "_committed/batch-1"), false)
    assert(DedupIndex.ingestBatch(b1, idxPath, corpPath, batchId = 1L) === 1L)
    val corpIds = DedupIndex.readCorpus(spark, corpPath).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(corpIds === Seq(1L, 2L, 10L)) // each exactly once, 11 dropped
    assert(DedupIndex.readIndex(spark, idxPath).count() === 3L * 8) // no duplicate keys
    // THIRD crash shape: both data dirs published, only the marker lost —
    // the replay un-publishes both, recomputes the identical admit set,
    // and re-publishes; still exactly once
    fs.delete(new org.apache.hadoop.fs.Path(corpPath, "_committed/batch-1"), false)
    assert(DedupIndex.ingestBatch(b1, idxPath, corpPath, batchId = 1L) === 1L)
    assert(DedupIndex.readCorpus(spark, corpPath).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 10L))
    assert(DedupIndex.readIndex(spark, idxPath).count() === 3L * 8)
    assert(fs.exists(new org.apache.hadoop.fs.Path(corpPath, "_committed/batch-1")))
  }

  test("a legacy flat corpus layout fails loudly with the migration path") {
    import spark.implicits._
    val root = tempDir("lsh_legacy_corp")
    val idxPath = s"$root/index.parquet"
    val corpPath = s"$root/corpus.parquet"
    // the pre-round-11 corpus shape: a plain parquet append, no
    // ingest_batch=/id_part= nesting
    Seq((1L, "legacy doc one two three")).toDF("doc_id", "text")
      .write.parquet(corpPath)
    val b = Seq((2L, "some new doc four five six")).toDF("doc_id", "text")
    val e = intercept[graft.operators.AtRest.UnsupportedTableFormat] {
      DedupIndex.ingestBatch(b, idxPath, corpPath, batchId = 0L)
    }
    assert(e.getMessage.contains(corpPath))
  }

  test("compaction merges files, drops accreted buckets at rest, and leaves probe results unchanged") {
    val root = tempDir("lsh_compact")
    val idx = s"$root/index.parquet"
    val corp = s"$root/corpus.parquet"
    // seed half the corpus, append the other half: two file-sets per
    // touched partition, and any bucket straddling the split is capped
    // only per-write
    DedupIndex.writeAtRest(corpus.filter(col("doc_id") % 2 === 0), idx)
    DedupIndex.appendToIndex(corpus.filter(col("doc_id") % 2 =!= 0), idx)
    DedupIndex.writeCorpus(corpus.select("doc_id", "text"), corp)
    val before = DedupIndex.probeAtRest(spark, idx, batch, corp, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def dataFiles(root: String): Seq[String] = {
      // the LIVE version only (the replaced version survives one
      // generation as reader grace and must not be counted)
      val p = graft.operators.AtRest.resolve(spark, root)
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val f = it.next().getPath.toString // file:-schemed URI, longer than p
        val i = f.indexOf(p)
        if (f.endsWith(".parquet") && i >= 0 &&
            !f.substring(i + p.length).contains("/_")) buf += f
      }
      buf.toSeq
    }
    val filesBefore = dataFiles(idx).size
    val rowsBefore = DedupIndex.readIndex(spark, idx).count()
    DedupIndex.compact(spark, idx)
    DedupIndex.compactCorpus(spark, corp)
    val filesAfter = dataFiles(idx).size
    assert(filesAfter < filesBefore, s"$filesAfter files after vs $filesBefore before")
    assert(filesAfter <= 16) // one file per bucket_part directory
    assert(DedupIndex.readIndex(spark, idx).count() === rowsBefore) // nothing over the cap here
    // at rest, every bucket is within the cap: the probe-side re-cap is a no-op
    val maxAtRest = DedupIndex.readIndex(spark, idx).groupBy("band", "bucket")
      .agg(count(lit(1)).as("n")).select(max("n")).head.getLong(0)
    assert(maxAtRest <= 1000)
    // one merged bloom file (in the live version dir) replaces the
    // per-write accretion
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(
      graft.operators.AtRest.resolve(spark, idx), "_bloom")).length === 1)
    val after = DedupIndex.probeAtRest(spark, idx, batch, corp, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(after === before && after.nonEmpty)
  }

  test("compaction drops a bucket accreted past maxBucket across appends") {
    import spark.implicits._
    val root = tempDir("lsh_compact_cap")
    val idx = s"$root/index.parquet"
    val txt = (0 until 12).map(i => s"cap$i").mkString(" ") // one shared bucket set
    def clones(ids: Range) = ids.map(i => (i.toLong, txt)).toDF("doc_id", "text")
    // per-write cap 4 holds (3 each), but the bucket accretes to 6 at rest
    DedupIndex.writeAtRest(clones(0 until 3), idx, maxBucket = 4)
    DedupIndex.appendToIndex(clones(10 until 13), idx, maxBucket = 4)
    assert(DedupIndex.readIndex(spark, idx).groupBy("band", "bucket")
      .agg(count(lit(1)).as("n")).select(max("n")).head.getLong(0) === 6L)
    DedupIndex.compact(spark, idx, maxBucket = 4)
    assert(DedupIndex.readIndex(spark, idx).count() === 0L) // every bucket was degenerate
  }

  test("recheckCorpus drops at-rest stragglers, keeps the longest, rebuilds the index") {
    import spark.implicits._
    val root = tempDir("lsh_recheck")
    val idx = s"$root/index.parquet"
    val corp = s"$root/corpus.parquet"
    def doc(n: Int, extra: Int = 0) =
      ((0 until 12).map(i => s"rk${n}t$i") ++ (0 until extra).map(i => s"x$i")).mkString(" ")
    // docs 1/2 are a near-dup pair BOTH at rest (the greedy-miss shape);
    // 2 is longer and must be the keeper; 3 is a singleton
    val corpus = Seq((1L, doc(1)), (2L, doc(1, 2)), (3L, doc(3))).toDF("doc_id", "text")
    DedupIndex.writeCorpus(corpus, corp)
    DedupIndex.writeAtRest(corpus, idx)
    val dropped = DedupIndex.recheckCorpus(spark, corp, idx, threshold = 0.5)
    assert(dropped === 1L)
    val left = DedupIndex.readCorpus(spark, corp).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(left === Set(2L, 3L)) // 1 dropped: 2 is the longer cluster member
    assert(DedupIndex.readIndex(spark, idx).select("id").distinct()
      .collect().map(_.getLong(0)).toSet === Set(2L, 3L)) // no ghost keys
    // a probe matching the dropped doc's text hits the KEPT doc
    val probeOut = DedupIndex.probeAtRest(spark, idx,
        Seq((90L, doc(1))).toDF("doc_id", "text"), corp, threshold = 0.5)
      .collect().map(_.getLong(1)).toSet
    assert(probeOut === Set(2L))
    // idempotent: a second recheck finds nothing
    assert(DedupIndex.recheckCorpus(spark, corp, idx, threshold = 0.5) === 0L)
  }

  test("at-rest signature sidecars: seed and ingest publish them, recheck and compact carry them, fallback stays correct") {
    import spark.implicits._
    val root = tempDir("lsh_sigs")
    val idx = s"$root/index.parquet"
    val corp = s"$root/corpus.parquet"
    def doc(n: Int, extra: Int = 0) =
      ((0 until 12).map(i => s"sg${n}t$i") ++ (0 until extra).map(i => s"y$i")).mkString(" ")
    val seed = Seq((1L, doc(1)), (2L, doc(1, 2)), (3L, doc(3))).toDF("doc_id", "text")
    DedupIndex.writeCorpus(seed, corp)
    DedupIndex.writeAtRest(seed, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sigDirs(): Seq[org.apache.hadoop.fs.Path] = {
      val cur = new org.apache.hadoop.fs.Path(graft.operators.AtRest.resolve(spark, idx))
      (new org.apache.hadoop.fs.Path(cur, "_sigs") +:
        fs.listStatus(cur).filter(_.getPath.getName.startsWith("ingest_batch="))
          .map(st => new org.apache.hadoop.fs.Path(st.getPath, "_sigs")).toSeq)
        .filter(fs.exists)
    }
    def atRestSigs() = spark.read.parquet(sigDirs().map(_.toString): _*)
    // the seed's sidecar covers every doc and EQUALS a fresh signing pass
    val fresh = seed.select(col("doc_id").as("id"),
        Dedup.signatureFromShingles(
          graft.functions.TextFunctions.wordShingles(col("text"), 3), 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1).toList).toMap
    val stored = atRestSigs()
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1).toList).toMap
    assert(stored === fresh)
    // an exactly-once batch publishes its admitted docs' sigs inside the
    // batch dir (same atomic rename as the keys)
    DedupIndex.ingestBatch(Seq((10L, doc(7))).toDF("doc_id", "text"),
      idx, corp, batchId = 0L)
    assert(atRestSigs().select("id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L, 10L))
    // recheck consumes the sidecars and the rebuilt index carries the
    // survivors' sigs forward (1 drops: 2 is the longer cluster member)
    assert(DedupIndex.recheckCorpus(spark, corp, idx, threshold = 0.5) === 1L)
    assert(atRestSigs().select("id").collect().map(_.getLong(0)).toSet
      === Set(2L, 3L, 10L))
    // compaction rewrites the key layout but carries the signatures
    DedupIndex.compact(spark, idx)
    assert(atRestSigs().select("id").collect().map(_.getLong(0)).toSet
      === Set(2L, 3L, 10L))
    // sidecars gone (legacy index shape): the recheck falls back to a
    // fresh signing pass and stays correct/idempotent
    sigDirs().foreach(p => fs.delete(p, true))
    assert(DedupIndex.recheckCorpus(spark, corp, idx, threshold = 0.5) === 0L)
  }

  test("at-rest sigs: a null-id document always takes the recompute path and recheck stays correct") {
    import spark.implicits._
    val root = tempDir("lsh_sigs_null")
    val idx = s"$root/index.parquet"
    val corp = s"$root/corpus.parquet"
    def doc(n: Int, extra: Int = 0) =
      ((0 until 12).map(i => s"nn${n}t$i") ++ (0 until extra).map(i => s"z$i")).mkString(" ")
    // a null-id doc can never round-trip through the id-keyed sidecar:
    // the null-safe gap fetch must recompute it, keeping bucket
    // membership identical to the sidecar-free formulation
    val seed = Seq[(java.lang.Long, String)]((1L, doc(1)), (2L, doc(1, 2)), (null, doc(5)))
      .toDF("doc_id", "text")
    DedupIndex.writeCorpus(seed, corp)
    DedupIndex.writeAtRest(seed, idx)
    assert(DedupIndex.recheckCorpus(spark, corp, idx, threshold = 0.5) === 1L)
    val left = DedupIndex.readCorpus(spark, corp).select("doc_id").collect()
      .map(r => if (r.isNullAt(0)) "null" else r.getLong(0).toString).toSet
    assert(left === Set("2", "null")) // 1 dropped (2 longer); null survives
    assert(DedupIndex.recheckCorpus(spark, corp, idx, threshold = 0.5) === 0L)
  }

  test("cross-shard in-flight near-dup race: the delta re-probe drops the later committer") {
    import spark.implicits._
    val root = tempDir("lsh_race")
    val idx = s"$root/index.parquet"
    val corp = s"$root/corpus.parquet"
    def doc(extra: Int) =
      ((0 until 12).map(i => s"rc1t$i") ++ (0 until extra).map(i => s"y$i")).mkString(" ")
    // one id per shard under the router pmod(xxhash64(id), 2)
    val byShard = spark.range(1, 50)
      .select(col("id"), pmod(xxhash64(col("id")), lit(2L)).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val id0 = byShard.find(_._2 == 0L).get._1
    val id1 = byShard.find(_._2 == 1L).get._1
    // shard 1's near-dup batch commits INSIDE shard 0's in-flight window
    // (after its probe snapshot, before its commit) — without the delta
    // re-probe both members would be admitted
    var injected = false
    DedupIndex.onBeforeCommit = () => if (!injected) {
      injected = true
      assert(DedupIndex.ingestBatch(Seq((id1, doc(1))).toDF("doc_id", "text"),
        idx, corp, batchId = 1L, shard = 1, nShards = 2) === 1L)
    }
    try {
      val n = DedupIndex.ingestBatch(Seq((id0, doc(0))).toDF("doc_id", "text"),
        idx, corp, batchId = 0L, shard = 0, nShards = 2)
      assert(n === 0L, "the later committer must drop its in-flight near-dup")
    } finally DedupIndex.onBeforeCommit = () => ()
    assert(DedupIndex.readCorpus(spark, corp).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(id1))
    assert(DedupIndex.readIndex(spark, idx).select("id").distinct()
      .collect().map(_.getLong(0)).toSet === Set(id1))
    // shard 0's batch still committed exactly-once (all-dropped, n=0) and
    // both commit locks released
    val fs = new org.apache.hadoop.fs.Path(corp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(corp, "_committed/batch-0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idx, "_commitlock")))
  }

  test("recheckIncremental: persisted frontier, back-to-back passes, crash-safe advance") {
    import spark.implicits._
    val root = tempDir("lsh_frontier")
    val idx = s"$root/index.parquet"
    val corp = s"$root/corpus.parquet"
    def doc(n: Int, extra: Int = 0) =
      ((0 until 12).map(i => s"fr${n}t$i") ++ (0 until extra).map(i => s"y$i")).mkString(" ")
    val fs = new org.apache.hadoop.fs.Path(corp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fp = new org.apache.hadoop.fs.Path(corp, "_committed/recheck-frontier")
    def frontier() = new String(graft.operators.AtRest.readFile(fs, fp),
      java.nio.charset.StandardCharsets.UTF_8).trim
    def ids() = DedupIndex.readCorpus(spark, corp).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    DedupIndex.writeCorpus(Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text"), corp)
    DedupIndex.writeAtRest(Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text"), idx)
    // batch 0 slips a ~0.83-Jaccard near-dup of doc 1 past the loose 0.97 gate
    DedupIndex.ingestBatch(Seq((11L, doc(1, 2))).toDF("doc_id", "text"),
      idx, corp, threshold = 0.97, batchId = 0L)
    // pass 1: NO since/id passed anywhere — catches the straggler, keeps
    // the longer member, records "first unadjudicated batch = 1, next id = 1"
    assert(DedupIndex.recheckIncremental(spark, corp, idx, threshold = 0.5) === 1L)
    assert(ids() === Set(2L, 11L))
    assert(frontier() === "1 1")
    // batch 1 plants a second straggler against doc 2
    DedupIndex.ingestBatch(Seq((12L, doc(2, 2))).toDF("doc_id", "text"),
      idx, corp, threshold = 0.97, batchId = 1L)
    // pass 2 derives since=1 from the frontier: only the new batch is probed
    assert(DedupIndex.recheckIncremental(spark, corp, idx, threshold = 0.5) === 1L)
    assert(ids() === Set(11L, 12L))
    assert(frontier() === "2 2")
    // crash between the recheck-1 commit and the frontier write: restore
    // the pre-pass frontier; the rerun short-circuits on the marker and
    // re-advances to exactly what that marker covered — no skips, no
    // double-removal
    graft.operators.AtRest.writeFile(fs, fp,
      "1 1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(DedupIndex.recheckIncremental(spark, corp, idx, threshold = 0.5) === 1L)
    assert(ids() === Set(11L, 12L))
    assert(frontier() === "2 2")
    // idle pass (nothing new since): removes nothing, id still advances
    assert(DedupIndex.recheckIncremental(spark, corp, idx, threshold = 0.5) === 0L)
    assert(frontier() === "2 3")
  }

  test("recheckIncremental full-sweeps batches folded by compactCorpus " +
      "instead of silently skipping them") {
    import spark.implicits._
    val root = tempDir("lsh_fold")
    val idx = s"$root/index.parquet"
    val corp = s"$root/corpus.parquet"
    def doc(n: Int, extra: Int = 0) =
      ((0 until 12).map(i => s"fo${n}t$i") ++ (0 until extra).map(i => s"y$i")).mkString(" ")
    def ids() = DedupIndex.readCorpus(spark, corp).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    DedupIndex.writeCorpus(Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text"), corp)
    DedupIndex.writeAtRest(Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text"), idx)
    // batch 0 slips a straggler past the loose gate, then compactCorpus
    // FOLDS the batch dir into the seed before any recheck adjudicated it
    DedupIndex.ingestBatch(Seq((11L, doc(1, 2))).toDF("doc_id", "text"),
      idx, corp, threshold = 0.97, batchId = 0L)
    DedupIndex.compactCorpus(spark, corp)
    // the window starts below the fold frontier: the pass must full-sweep
    // (a dir-scoped window would see nothing and the straggler would
    // survive forever — the r15 review's silently-skipped-range bug)
    assert(DedupIndex.recheckIncremental(spark, corp, idx, threshold = 0.5) === 1L)
    assert(ids() === Set(2L, 11L))
    // and the NEXT pass is incremental again (window past the fold)
    DedupIndex.ingestBatch(Seq((12L, doc(2, 2))).toDF("doc_id", "text"),
      idx, corp, threshold = 0.97, batchId = 1L)
    assert(DedupIndex.recheckIncremental(spark, corp, idx, threshold = 0.5) === 1L)
    assert(ids() === Set(11L, 12L))
  }

  test("recheckIncremental bootstrap resumes from the latest marker's " +
      "coverage after a pre-frontier crash — no re-sweep of the seed") {
    import spark.implicits._
    val root = tempDir("lsh_boot")
    val idx = s"$root/index.parquet"
    val corp = s"$root/corpus.parquet"
    def doc(n: Int, extra: Int = 0) =
      ((0 until 12).map(i => s"bo${n}t$i") ++ (0 until extra).map(i => s"y$i")).mkString(" ")
    def ids() = DedupIndex.readCorpus(spark, corp).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // the seed carries an INTERNAL near-dup pair (2, 3) — by convention
    // never adjudicated unless a pass full-sweeps
    val seed = Seq((1L, doc(1)), (2L, doc(2)), (3L, doc(2, 2)))
      .toDF("doc_id", "text")
    DedupIndex.writeCorpus(seed, corp)
    DedupIndex.writeAtRest(seed, idx)
    DedupIndex.ingestBatch(Seq((11L, doc(1, 2))).toDF("doc_id", "text"),
      idx, corp, threshold = 0.97, batchId = 0L)
    // caller-driven pass commits marker recheck-0 (covering batch 0);
    // the CRASH happens before any frontier write
    assert(DedupIndex.recheckSince(spark, corp, idx, 0L, 0L, threshold = 0.5) === 1L)
    assert(ids() === Set(2L, 3L, 11L))
    // compact folds the dirs — a WRONG bootstrap (since=0) would now
    // full-sweep and remove one of the seed pair; the fixed bootstrap
    // resumes since = coveredUpTo+1 = 1, past the fold frontier
    DedupIndex.compactCorpus(spark, corp)
    assert(DedupIndex.recheckIncremental(spark, corp, idx, threshold = 0.5) === 0L,
      "bootstrap must resume from the marker's coverage, not re-sweep")
    assert(ids() === Set(2L, 3L, 11L),
      "the never-adjudicated seed pair must survive an incremental pass")
  }

  test("bootstrap does not resume past a caller-driven partial-window marker") {
    import spark.implicits._
    val root = tempDir("lsh_partial")
    val idx = s"$root/index.parquet"
    val corp = s"$root/corpus.parquet"
    def doc(n: Int, extra: Int = 0) =
      ((0 until 12).map(i => s"pa${n}t$i") ++ (0 until extra).map(i => s"y$i")).mkString(" ")
    DedupIndex.writeCorpus(Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text"), corp)
    DedupIndex.writeAtRest(Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text"), idx)
    DedupIndex.ingestBatch(Seq((11L, doc(1, 2))).toDF("doc_id", "text"),
      idx, corp, threshold = 0.97, batchId = 0L)
    // a caller-driven pass over a window that EXCLUDES batch 0: it
    // commits a marker covering up to batch 0, but proves nothing about
    // the batches below its own window start
    assert(DedupIndex.recheckSince(spark, corp, idx, 5L, 0L, threshold = 0.5) === 0L)
    // the frontier bootstrap must restart from 0 (idempotent), not
    // resume past the partial marker — the batch-0 straggler is caught
    assert(DedupIndex.recheckIncremental(spark, corp, idx, threshold = 0.5) === 1L)
    assert(DedupIndex.readCorpus(spark, corp).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(2L, 11L))
  }

  test("a no-hit batch short-circuits on the bloom sidecar without reading the index") {
    import spark.implicits._
    val dir = tempDir("lsh_bloom") + "/index.parquet"
    DedupIndex.writeAtRest(corpus, dir)
    // novel text shares no (band, bucket) with the index
    val novel = Seq((900001L, (0 until 15).map(i => s"zq${i}xw").mkString(" ")))
      .toDF("doc_id", "text")
    spark.conf.set("spark.sql.adaptive.enabled", false)
    try {
      val out = DedupIndex.probe(spark, dir, novel, corpus, threshold = 0.7)
      assert(out.columns.toSeq === Seq("batch_id", "corpus_id", "jaccard"))
      assert(out.count() === 0L)
      // short-circuited: the result plan never scanned the index
      assert(scansOf(out.queryExecution.executedPlan, "index.parquet").isEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", true)
  }

  test("an empty batch probes to an empty result without reading the index") {
    import spark.implicits._
    val dir = tempDir("lsh_rest_empty") + "/index.parquet"
    DedupIndex.writeAtRest(corpus, dir)
    val out = DedupIndex.probe(spark, dir,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), corpus)
    assert(out.columns.toSeq === Seq("batch_id", "corpus_id", "jaccard"))
    assert(out.count() === 0L)
  }

  test("a probe with mismatched banding parameters fails loudly against _meta.json") {
    val root = tempDir("lsh_meta")
    val idx = s"$root/index.parquet"
    val corp = s"$root/corpus.parquet"
    DedupIndex.writeAtRest(corpus, idx) // numHashes=32, bands=8
    DedupIndex.writeCorpus(corpus.select("doc_id", "text"), corp) // corpusParts=16
    // the old failure mode: different banding hashes to different buckets →
    // SILENT zero collisions → every duplicate admitted. Now: loud.
    val e1 = intercept[IllegalStateException] {
      DedupIndex.probe(spark, idx, batch, corpus, threshold = 0.7, bands = 4)
    }
    assert(e1.getMessage.contains("bands") && e1.getMessage.contains("_meta.json"))
    val e2 = intercept[IllegalStateException] {
      DedupIndex.probeAtRest(spark, idx, batch, corp, threshold = 0.7, corpusParts = 8)
    }
    assert(e2.getMessage.contains("corpusParts"))
    // appends and maintenance validate too
    val e3 = intercept[IllegalStateException] {
      DedupIndex.appendToIndex(batch, idx, numHashes = 64, bands = 8)
    }
    assert(e3.getMessage.contains("numHashes"))
    val e4 = intercept[IllegalStateException] {
      DedupIndex.ingestBatch(batch.select("doc_id", "text"), idx, corp,
        batchId = 7L, shingleWords = 5)
    }
    assert(e4.getMessage.contains("shingleWords"))
    // matching parameters still pass (the default-path probe)
    assert(DedupIndex.probeAtRest(spark, idx, batch, corp, threshold = 0.7)
      .count() > 0)
    // a CORRUPT sidecar must not silently disable validation — the meta
    // lives in the CURRENT VERSION dir (it swaps atomically with the
    // data), so corrupt it where readMeta actually resolves it
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = graft.operators.AtRest.resolve(spark, idx)
    val out = fs.create(new org.apache.hadoop.fs.Path(metaDir, "_meta.json"), true)
    out.write("garbage not json".getBytes); out.close()
    val e5 = intercept[IllegalStateException] {
      DedupIndex.probe(spark, idx, batch, corpus, threshold = 0.7)
    }
    assert(e5.getMessage.contains("_meta.json"))
  }

  test("a crashed compact leaves the live version intact; a re-run converges") {
    val root = tempDir("lsh_crash_compact")
    val idx = s"$root/index.parquet"
    val corp = s"$root/corpus.parquet"
    DedupIndex.writeAtRest(corpus, idx)
    DedupIndex.writeCorpus(corpus.select("doc_id", "text"), corp)
    val before = DedupIndex.probeAtRest(spark, idx, batch, corp, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // simulate a compact killed mid-staging: a partial next-version dir
    // exists, the pointer was never flipped
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partial = new org.apache.hadoop.fs.Path(idx, "_v1/ingest_batch=-1/bucket_part=0")
    fs.mkdirs(partial)
    val junk = fs.create(new org.apache.hadoop.fs.Path(partial, "part-junk.parquet"), true)
    junk.write(Array[Byte](1, 2, 3)); junk.close()
    // readers are untouched: the live version is still _v0
    val during = DedupIndex.probeAtRest(spark, idx, batch, corp, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(during === before)
    // a re-run compact clobbers the partial staging and converges
    DedupIndex.compact(spark, idx)
    val after = DedupIndex.probeAtRest(spark, idx, batch, corp, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(after === before && after.nonEmpty)
  }

  test("a reader that resolved before a maintenance swap still reads a complete table") {
    val root = tempDir("lsh_reader_grace")
    val idx = s"$root/index.parquet"
    DedupIndex.writeAtRest(corpus, idx)
    val oldDir = graft.operators.AtRest.resolve(spark, idx)
    val oldRows = spark.read.parquet(oldDir).count()
    DedupIndex.compact(spark, idx)
    val newDir = graft.operators.AtRest.resolve(spark, idx)
    assert(newDir != oldDir) // the swap happened
    // one-generation reader grace: the replaced version is complete on disk
    assert(spark.read.parquet(oldDir).count() === oldRows)
    assert(spark.read.parquet(newDir).count() === oldRows)
    // the NEXT maintenance pass garbage-collects it
    DedupIndex.compact(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(oldDir)))
  }

  test("writer lease: a live foreign lease fails loudly, a stale one is broken") {
    import spark.implicits._
    val root = tempDir("lsh_lease")
    val idxPath = s"$root/index.parquet"
    val corpPath = s"$root/corpus.parquet"
    val b = Seq((1L, "lease test doc one two three")).toDF("doc_id", "text")
    // someone else's live lease on the index root
    graft.operators.AtRest.acquireLease(spark, idxPath, "other-writer")
    val e = intercept[IllegalStateException] {
      DedupIndex.ingestBatch(b, idxPath, corpPath, batchId = 0L)
    }
    assert(e.getMessage.contains("write-locked") && e.getMessage.contains("other-writer"))
    // age the lease past the TTL: the next writer breaks it and proceeds
    val fs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setTimes(new org.apache.hadoop.fs.Path(idxPath, "_lease"),
      System.currentTimeMillis() - 11 * 60 * 1000L, -1)
    assert(DedupIndex.ingestBatch(b, idxPath, corpPath, batchId = 0L) === 1L)
    // the transient fence released on exit
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idxPath, "_lease")))
  }

  test("a second concurrent ingest stream on the same tables fails at start") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("lsh_two_streams")
    val idxPath = s"$root/index.parquet"
    val corpPath = s"$root/corpus.parquet"
    val memA = MemoryStream[(Long, String)]
    val qA = DedupIndex.ingestStream(
      memA.toDF().toDF("doc_id", "text"), idxPath, corpPath, s"$root/ckptA")
    try {
      memA.addData((1L, "stream a doc one two three"))
      qA.processAllAvailable()
      // a SECOND stream (different checkpoint = different writer identity)
      // on the same at-rest tables must fail loudly at start, not corrupt
      val memB = MemoryStream[(Long, String)]
      val e = intercept[IllegalStateException] {
        DedupIndex.ingestStream(
          memB.toDF().toDF("doc_id", "text"), idxPath, corpPath, s"$root/ckptB")
      }
      assert(e.getMessage.contains("write-locked"))
    } finally qA.stop()
    // termination releases the lease (listener fires asynchronously)
    val fs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deadline = System.currentTimeMillis() + 10000
    while (fs.exists(new org.apache.hadoop.fs.Path(idxPath, "_lease")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idxPath, "_lease")))
  }

  test("meta swaps atomically with the version: a crashed rewrite's staged meta is invisible") {
    val root = tempDir("lsh_meta_atomic")
    val idx = s"$root/index.parquet"
    DedupIndex.writeAtRest(corpus, idx) // nParts=16, maxBucket=1000
    // simulate a compact(nParts=8) killed AFTER staging (data + meta in
    // _v<next>) but BEFORE the pointer flip: stage a fake next version
    // carrying the NEW parameters
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new org.apache.hadoop.fs.Path(idx, "_v1")
    fs.mkdirs(staged)
    graft.operators.AtRest.writeMetaStaged(spark, staged, Map(
      "kind" -> "lsh_index", "numHashes" -> "32", "bands" -> "8",
      "shingleWords" -> "3", "nParts" -> "8", "maxBucket" -> "500"))
    // the LIVE version still resolves the OLD meta: an old-param probe
    // passes, a new-param probe fails loudly — never the silent inverse
    assert(DedupIndex.probe(spark, idx, batch, corpus, threshold = 0.7).count() > 0)
    val e = intercept[IllegalStateException] {
      DedupIndex.probe(spark, idx, batch, corpus, threshold = 0.7,
        nParts = 8, maxBucket = 500)
    }
    assert(e.getMessage.contains("nParts"))
    // the next real maintenance pass wipes the dead staging and converges
    DedupIndex.compact(spark, idx, maxBucket = 500, nParts = 8)
    assert(DedupIndex.probe(spark, idx, batch, corpus, threshold = 0.7,
      nParts = 8, maxBucket = 500).count() > 0)
  }

  test("a zero-byte lease: live-unknown inside the grace, stale-broken after") {
    val root = tempDir("lsh_lease_zero")
    val p = new org.apache.hadoop.fs.Path(root, "_lease")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash window between create(p, false) and the body write
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))
    fs.create(p, false).close()
    // a FRESH empty lease is most likely a concurrent acquirer caught
    // between create and write — claiming it now would double-fence
    val e = intercept[IllegalStateException] {
      graft.operators.AtRest.acquireLease(spark, root, "new-writer")
    }
    assert(e.getMessage.contains("no body yet"))
    // past the grace it's a mid-claim crash leftover: break and claim
    fs.setTimes(p, System.currentTimeMillis() - 60 * 1000L, -1)
    graft.operators.AtRest.acquireLease(spark, root, "new-writer")
    graft.operators.AtRest.releaseLease(spark, root, "new-writer")
    assert(!fs.exists(p))
  }

  test("time-based version grace retains aged-out generations until the TTL") {
    val root = tempDir("lsh_grace")
    val idx = s"$root/index.parquet"
    DedupIndex.writeAtRest(corpus, idx) // _v0
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.conf.set("spark.graft.atrest.versionGraceMs", "3600000")
    try {
      DedupIndex.compact(spark, idx) // _v1; _v0 is just-replaced
      DedupIndex.compact(spark, idx) // _v2; one-generation rule would kill _v0
      assert(fs.exists(new org.apache.hadoop.fs.Path(idx, "_v0")),
        "an hour-long grace must retain _v0 past the one-generation rule")
      // age _v0 beyond the grace: the next publish GCs it
      fs.setTimes(new org.apache.hadoop.fs.Path(idx, "_v0"),
        System.currentTimeMillis() - 2 * 3600000L, -1)
      DedupIndex.compact(spark, idx) // _v3
      assert(!fs.exists(new org.apache.hadoop.fs.Path(idx, "_v0")))
      assert(fs.exists(new org.apache.hadoop.fs.Path(idx, "_v2"))) // just-replaced
    } finally spark.conf.set("spark.graft.atrest.versionGraceMs", "0")
    // default (0) = the one-generation rule
    DedupIndex.compact(spark, idx)
    val vs = fs.listStatus(new org.apache.hadoop.fs.Path(idx))
      .map(_.getPath.getName).filter(n => n.startsWith("_v") && n.drop(2).forall(_.isDigit))
    assert(vs.toSet === Set("_v3", "_v4"))
  }

  test("incremental stats ledger == full recompute across mixed batches, replays, compact and recheck") {
    val root = tempDir("lsh_ledger")
    val idx = s"$root/index.parquet"
    val corp = s"$root/corpus.parquet"
    val d = docs.select("doc_id", "source", "text")
    val seed = d.filter(col("doc_id") % 3 === 1)
    DedupIndex.writeCorpus(seed, corp, ledgerBy = "source")
    DedupIndex.writeAtRest(seed, idx)
    val b1 = d.filter(col("doc_id") % 3 === 2)
    val b2 = d.filter(col("doc_id") % 3 === 0)
    DedupIndex.ingestBatch(b1, idx, corp, batchId = 0L)
    DedupIndex.ingestBatch(b2, idx, corp, batchId = 1L)
    // marker replay: the short-circuit must not double-count the ledger
    DedupIndex.ingestBatch(b2, idx, corp, batchId = 1L)

    def card(): Map[String, Seq[Long]] =
      DedupIndex.ledgerCard(spark, corp).collect()
        .map(r => r.getString(0) -> (1 to 7).map(r.getLong)).toMap
    def recompute(): Map[String, Seq[Long]] = {
      // the admitted-side counters, recomputed FROM the at-rest corpus
      // with the same kernels — ledger must agree exactly
      val atRest = DedupIndex.readCorpus(spark, corp)
      val (_, nEmail, nUrl) = graft.operators.Corpus.redact(col("text"))
      atRest.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long")).as("n_tokens"),
          sum(when(nEmail + nUrl > 0, 1L).otherwise(0L)).as("n_pii_docs"),
          sum(when(graft.functions.TextFunctions.qualityScore(col("text")) < 0.6, 1L)
            .otherwise(0L)).as("n_quality_low"))
        .collect().map(r => r.getString(0) -> (1 to 4).map(r.getLong)).toMap
    }

    val c1 = card()
    assert(c1.view.mapValues(_.take(4)).toMap === recompute(),
      "admitted-side counters must equal the full recompute")
    // drop-side counters account for every non-admitted doc, per source
    val inCorpus = DedupIndex.readCorpus(spark, corp)
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = d.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((src, counters) <- c1) {
      val dropped = counters(4) + counters(5) // n_dropped_batch + n_dropped_cross
      assert(dropped === total(src) - inCorpus.getOrElse(src, 0L),
        s"source $src: drops must cover exactly the non-admitted docs")
    }
    assert(c1.values.map(c => c(4) + c(5)).sum > 0, "the slices plant real dups")

    // partial-crash replay: kill the marker, re-run -> identical card
    val fs = new org.apache.hadoop.fs.Path(corp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(corp, "_committed/batch-1"), false)
    DedupIndex.ingestBatch(b2, idx, corp, batchId = 1L)
    assert(card() === c1)
    // compaction collapses the deltas without changing totals
    DedupIndex.compactCorpus(spark, corp)
    assert(card() === c1)
    val deltaDirs = fs.listStatus(new org.apache.hadoop.fs.Path(
        graft.operators.AtRest.resolve(spark, corp), "_ledger"))
      .count(_.getPath.getName.startsWith("ingest_batch="))
    assert(deltaDirs === 1, "compaction collapses the ledger to one delta")
    // recheck removals adjust the admitted-side counters and land in
    // n_removed_recheck; the card STILL equals the recompute
    val removed = DedupIndex.recheckCorpus(spark, corp, idx, threshold = 0.7)
    val c2 = card()
    assert(c2.view.mapValues(_.take(4)).toMap === recompute())
    assert(c2.values.map(_(6)).sum === removed)
  }

  test("ledgerCard plans only _ledger delta scans — never a corpus data scan") {
    val root = tempDir("lsh_ledger_plan")
    val corp = s"$root/corpus.parquet"
    DedupIndex.writeCorpus(docs.select("doc_id", "source", "text")
      .filter(col("doc_id") % 3 === 1), corp, ledgerBy = "source")
    // string form traverses AQE wrappers; every FileScan's location must
    // be a _ledger delta dir
    val plan = DedupIndex.ledgerCard(spark, corp).queryExecution.executedPlan.toString
    val scanLines = plan.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scanLines.nonEmpty && scanLines.forall(_.contains("_ledger")),
      s"the card must be an O(batches x sources) ledger read, got: $scanLines")
  }

  test("ledgerCard on an unledgered corpus fails loudly; enableLedger migrates") {
    val root = tempDir("lsh_ledger_migrate")
    val corp = s"$root/corpus.parquet"
    val d = docs.select("doc_id", "source", "text").filter(col("doc_id") % 3 === 1)
    DedupIndex.writeCorpus(d, corp) // no ledger
    val e = intercept[IllegalStateException] {
      DedupIndex.ledgerCard(spark, corp)
    }
    assert(e.getMessage.contains("ledger"))
    DedupIndex.enableLedger(spark, corp, "source")
    val card = DedupIndex.ledgerCard(spark, corp).collect()
    assert(card.map(_.getLong(1)).sum === d.count()) // n_docs
    assert(card.forall(_.getLong(5) === 0L)) // drop history starts at 0
  }

  test("marker watermark: markers below compact away, replays below fail loudly") {
    import spark.implicits._
    val root = tempDir("lsh_watermark")
    val idxPath = s"$root/index.parquet"
    val corpPath = s"$root/corpus.parquet"
    val mk = (i: Long) => (i, s"watermark doc number $i with distinct words w$i x$i y$i")
    for (b <- 0L to 2L)
      DedupIndex.ingestBatch(Seq(mk(b * 10), mk(b * 10 + 1)).toDF("doc_id", "text"),
        idxPath, corpPath, batchId = b)
    val fs = new org.apache.hadoop.fs.Path(corpPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def marker(b: Long) = new org.apache.hadoop.fs.Path(corpPath, s"_committed/batch-$b")
    assert((0L to 2L).forall(b => fs.exists(marker(b))))
    DedupIndex.compactMarkers(spark, corpPath, oldestReplayable = 2L)
    assert(!fs.exists(marker(0)) && !fs.exists(marker(1)) && fs.exists(marker(2)))
    // a replay AT the watermark still short-circuits on its marker
    assert(DedupIndex.ingestBatch(Seq(mk(20), mk(21)).toDF("doc_id", "text"),
      idxPath, corpPath, batchId = 2L) === 2L)
    // a replay BELOW it is a checkpoint-history violation -> loud
    val e = intercept[IllegalStateException] {
      DedupIndex.ingestBatch(Seq(mk(0), mk(1)).toDF("doc_id", "text"),
        idxPath, corpPath, batchId = 0L)
    }
    assert(e.getMessage.contains("watermark"))
    // new batches above continue normally; the watermark is monotonic
    assert(DedupIndex.ingestBatch(Seq(mk(30), mk(31)).toDF("doc_id", "text"),
      idxPath, corpPath, batchId = 3L) === 2L)
    val e2 = intercept[IllegalArgumentException] {
      DedupIndex.compactMarkers(spark, corpPath, oldestReplayable = 1L)
    }
    assert(e2.getMessage.contains("monotonic"))
  }

  test("sharded ingest: two concurrent disjoint-shard streams equal the single writer; conflicts loud") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("lsh_sharded")
    // shard assignment is pmod(xxhash64(doc_id), 2) — compute it the way
    // the operator does, then build a workload whose dup pairs stay
    // within shards (cross-shard pairs are exercised separately below)
    val shardOf = spark.range(0, 300)
      .select(col("id").as("doc_id"), pmod(xxhash64(col("id")), lit(2L)).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s0 = (0L until 300L).filter(shardOf(_) == 0L)
    val s1 = (0L until 300L).filter(shardOf(_) == 1L)
    def text(i: Long) = s"sharded doc $i unique words alpha$i beta$i gamma$i delta$i"
    val base = (s0.take(8) ++ s1.take(8)).map(id => (id, text(id)))
    // exact dups with LARGER ids in the SAME shard as their originals
    val allDocs = base :+ (s0(8), text(s0.head)) :+ (s1(8), text(s1.head))

    // single-writer ground truth: one batch over everything
    val n1 = DedupIndex.ingestBatch(allDocs.toDF("doc_id", "text"),
      s"$root/a_idx", s"$root/a_corp", batchId = 0L)
    assert(n1 === 16L) // both dups dropped by the in-batch rule
    val singleIds = DedupIndex.readCorpus(spark, s"$root/a_corp")
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // sharded: two CONCURRENT streams, each fed the SAME full input
    // (each filters to its own range), sharing one corpus/index pair
    val idx = s"$root/b_idx"
    val corp = s"$root/b_corp"
    val memA = MemoryStream[(Long, String)]
    val memB = MemoryStream[(Long, String)]
    val q0 = DedupIndex.ingestStreamSharded(
      memA.toDF().toDF("doc_id", "text"), idx, corp, s"$root/ckpt0", 0, 2)
    val q1 = DedupIndex.ingestStreamSharded(
      memB.toDF().toDF("doc_id", "text"), idx, corp, s"$root/ckpt1", 1, 2)
    try {
      memA.addData(allDocs: _*); memB.addData(allDocs: _*)
      q0.processAllAvailable(); q1.processAllAvailable()
      val shardedIds = DedupIndex.readCorpus(spark, corp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(shardedIds === singleIds,
        "disjoint-shard streams must admit exactly the single-writer result")

      // cross-shard near-dup: a shard-0 arrival copying a PUBLISHED
      // shard-1 doc collides in the same text-derived buckets and drops
      memA.addData((s0(9), text(s1.head)))
      q0.processAllAvailable()
      assert(DedupIndex.readCorpus(spark, corp).count() === 16L,
        "a published cross-shard duplicate must be probe-dropped")

      // same-shard second stream = same-fence conflict, loud at start
      val memC = MemoryStream[(Long, String)]
      val e1 = intercept[IllegalStateException] {
        DedupIndex.ingestStreamSharded(
          memC.toDF().toDF("doc_id", "text"), idx, corp, s"$root/ckptX", 0, 2)
      }
      assert(e1.getMessage.contains("write-locked"))
      // whole-root maintenance under a live sharded fleet = loud
      val e2 = intercept[IllegalStateException] { DedupIndex.compact(spark, idx) }
      assert(e2.getMessage.contains("shard lease"))
      // a different shard SCHEME overlaps = loud
      val e3 = intercept[IllegalStateException] {
        graft.operators.AtRest.acquireShardLease(spark, idx, "other-writer", 0, 3)
      }
      assert(e3.getMessage.contains("scheme"))
    } finally { q0.stop(); q1.stop() }
    // termination releases the shard leases (async listener)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deadline = System.currentTimeMillis() + 10000
    def anyLease() = fs.listStatus(new org.apache.hadoop.fs.Path(idx))
      .exists(_.getPath.getName.startsWith("_lease"))
    while (anyLease() && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(!anyLease())

    // direct batch callers: a misrouted row is rejected loudly
    val e4 = intercept[IllegalStateException] {
      DedupIndex.ingestBatch(Seq((s1.head, text(s1.head))).toDF("doc_id", "text"),
        s"$root/c_idx", s"$root/c_corp", batchId = 0L, shard = 0, nShards = 2)
    }
    assert(e4.getMessage.contains("outside shard"))
  }

  test("admitNew = batch minus the probe's matched ids") {
    val dir = tempDir("lsh_rest_admit") + "/index.parquet"
    DedupIndex.writeAtRest(corpus, dir)
    val matched = DedupIndex.probe(spark, dir, batch, corpus, threshold = 0.7)
      .select("batch_id").distinct().collect().map(_.getLong(0)).toSet
    val admitted = DedupIndex.admitNew(spark, dir, batch, corpus, threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == all -- matched)
    assert(matched.nonEmpty && admitted.nonEmpty)
  }
}
