package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.queries.Tables

/**
 * Accuracy specs for the sketch/LSH operators — the verdicts the DuckDB
 * oracle can't give (hash internals differ across engines by construction):
 *  - HLL estimate within its advertised error bound vs exact,
 *  - MinHash near-dup: planted duplicates recovered, verified Jaccard exact,
 *  - SimHash: identical docs collide, planted near-dups within distance,
 *  - embedding LSH dedup + top-k recall vs brute force.
 */
class SketchSpec extends SparkSpec {

  lazy val docs: DataFrame = Tables.t(spark, sf, "documents")
  lazy val emb: DataFrame = Tables.t(spark, sf, "embeddings")

  test("approx_count_distinct is within 3x the configured rsd of exact") {
    val exact = docs.select(countDistinct("doc_id")).collect().head.getLong(0)
    val approx = docs.select(approx_count_distinct("doc_id", 0.02)).collect().head.getLong(0)
    val err = math.abs(approx - exact).toDouble / exact
    assert(err <= 0.06, s"HLL err $err (exact=$exact approx=$approx)")
  }

  /** Plant near-duplicates: 20 docs re-appended with a few words changed. */
  private def planted: DataFrame = {
    val base = docs.limit(20)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" appended tail words")).as("text"))
    docs.select("doc_id", "text").unionAll(base)
  }

  test("minhash near-dup recovers every planted near-duplicate pair") {
    val pairs = Dedup.nearDuplicates(planted, threshold = 0.5).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = docs.limit(20).select("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000)).toSet
    assert(expected.subsetOf(found),
      s"missing planted pairs: ${expected -- found}")
    // verification step is exact → every reported jaccard must satisfy the
    // threshold by recomputation
    pairs.foreach(r => assert(r.getDouble(2) >= 0.5 && r.getDouble(2) <= 1.0))
  }

  test("minhash est_jaccard correlates with exact jaccard on candidates") {
    val cands = Dedup.minhashCandidates(planted, "text", "doc_id").collect()
    assert(cands.nonEmpty)
    cands.foreach { r =>
      val est = r.getDouble(2)
      assert(est >= 0.0 && est <= 1.0)
    }
  }

  test("simhash: exact copies collide at distance 0; planted near-dups found") {
    val copies = docs.limit(10)
      .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
    val corpus = docs.select("doc_id", "text").unionAll(copies)
    val dups = Dedup.simhashDuplicates(corpus, maxDistance = 3).collect()
    val found = dups.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val exactPairs = found.filter { case (a, b, _) => b - a == 2000000 }
    assert(exactPairs.length == 10, s"expected 10 exact-copy pairs, got ${exactPairs.length}")
    exactPairs.foreach { case (_, _, d) => assert(d == 0) }
  }

  test("embedding LSH dedup: recall >= 0.8 vs brute-force cosine pairs") {
    val brutePairs = {
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("cos", Similarity.cosine(col("vec_a"), col("vec_b")))
        .filter(col("cos") >= 0.9)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val lshPairs = Similarity.embeddingDuplicates(emb, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshPairs.subsetOf(brutePairs), "LSH reported a pair below threshold")
    if (brutePairs.nonEmpty) {
      val recall = lshPairs.size.toDouble / brutePairs.size
      assert(recall >= 0.8, s"recall $recall (${lshPairs.size}/${brutePairs.size})")
    }
  }

  test("LSH top-k finds planted near-neighbors (recall >= 0.7)") {
    // Random synthetic embeddings have no true near neighbors (pairwise
    // cosine ~ N(0, 1/sqrt(d))), so recall vs brute-force top-k over random
    // data measures nothing. Plant real neighbors instead: probes are
    // slightly perturbed copies of corpus vectors (cosine ≈ 0.999) — the
    // regime LSH is FOR — and assert the planted source is retrieved.
    val probes = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 500000).as("probe_id"),
        transform(col("embedding"), x => x * lit(1.0f) + lit(0.01f)).as("probe_vec"))
    val lsh = Similarity.lshTopK(emb, probes, k = 3).collect()
    val found = lsh.filter(r => r.getLong(1) == r.getLong(0) - 500000)
    val recall = found.length / 20.0
    assert(recall >= 0.7, s"planted-neighbor recall $recall")
    found.foreach(r => assert(r.getDouble(2) > 0.99,
      s"planted pair cosine ${r.getDouble(2)}"))
  }

  test("IVF top-k finds planted near-neighbors (recall >= 0.7)") {
    val probes = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 600000).as("probe_id"),
        transform(col("embedding"), x => x * lit(1.0f) + lit(0.01f)).as("probe_vec"))
    val hits = Similarity.ivfTopK(emb, probes, k = 3).collect()
      .filter(r => r.getLong(1) == r.getLong(0) - 600000)
    // the perturbed probe lands in the same centroid list as its source for
    // nearly all plants; nProbe=4 of 16 lists covers assignment jitter
    assert(hits.length / 20.0 >= 0.7, s"IVF planted recall ${hits.length / 20.0}")
    hits.foreach(r => assert(r.getDouble(2) > 0.99))
  }

  test("IVF at rest: list_id partitioning prunes probe scans to nProbe lists") {
    val dir = tempDir("ivf_rest") + "/corpus"
    val centroids = Similarity.ivfCodebook(emb, nLists = 8)
    Similarity.ivfAssign(emb, centroids)
      .write.partitionBy("list_id").parquet(dir)
    val atRest = spark.read.parquet(dir)
    val nListsWritten = atRest.select("list_id").distinct().count()
    // one probe's nProbe nearest lists → the scan should plan ONLY those
    // partitions (the 100 TB contract claimed in SCALE.md)
    val probe = emb.filter(col("vec_id") === 7)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val lists = Similarity.ivfProbeLists(probe, centroids, nProbe = 2)
      .select("list_id").collect().map(_.getInt(0)).toSeq
    assert(lists.size == 2)
    val pruned = atRest.filter(col("list_id").isin(lists: _*))
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.selectedPartitions.partitionCount == 2,
      s"planned ${scan.selectedPartitions.partitionCount} partitions, want 2 of $nListsWritten")
    // and the pruned read returns exactly the rows of those lists
    val expect = Similarity.ivfAssign(emb, centroids)
      .filter(col("list_id").isin(lists: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(pruned.select("vec_id").collect().map(_.getLong(0)).toSet == expect)
  }

  test("ivfTopKAtRest: the full probe query plans only the wanted partitions " +
      "and equals the in-memory scoring") {
    val dir = tempDir("ivf_rest_q") + "/corpus"
    val centroids = Similarity.ivfCodebook(emb, nLists = 8)
    Similarity.ivfWriteAtRest(emb, centroids, dir)
    val probe = emb.filter(col("vec_id") === 7)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    // AQE wraps the executed plan in adaptive stages the TreeNode collect
    // can't see through before execution; the partition-count assertion
    // needs the static plan
    spark.conf.set("spark.sql.adaptive.enabled", false)
    val (topk, scan) =
      try {
        val q = Similarity.ivfTopKAtRest(spark, dir, probe, centroids,
          k = 3, nProbe = 2)
        (q, q.queryExecution.executedPlan.collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.get)
      } finally spark.conf.set("spark.sql.adaptive.enabled", true)
    // the probe query's own scan — not a hand-built filter — reads exactly
    // the nProbe wanted lists of the 8 written
    assert(scan.selectedPartitions.partitionCount == 2,
      s"planned ${scan.selectedPartitions.partitionCount} partitions, want 2 of 8")
    val inMem = Similarity.ivfTopK(emb, probe, k = 3, nLists = 8, nProbe = 2)
    assert(topk.collect().toSeq == inMem.collect().toSeq)
  }

  test("ivfAppendAtRest: appended vectors are probe-visible, pruning intact") {
    import spark.implicits._
    val dir = tempDir("ivf_append") + "/corpus"
    val centroids = Similarity.ivfCodebook(emb, nLists = 8)
    Similarity.ivfWriteAtRest(emb, centroids, dir)
    // plant a new arrival almost identical to vec 7 — it must land in 7's
    // list under the EXISTING codebook and dominate 7's own probe
    val planted = emb.filter(col("vec_id") === 7)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * 1.001f).as("embedding"),
        col("label"))
    Similarity.ivfAppendAtRest(planted, centroids, dir)
    val probe = emb.filter(col("vec_id") === 7)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    spark.conf.set("spark.sql.adaptive.enabled", false)
    val (topk, scan) =
      try {
        val q = Similarity.ivfTopKAtRest(spark, dir, probe, centroids,
          k = 2, nProbe = 2)
        (q.collect(), q.queryExecution.executedPlan.collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.get)
      } finally spark.conf.set("spark.sql.adaptive.enabled", true)
    assert(scan.selectedPartitions.partitionCount == 2,
      s"append must not break pruning: ${scan.selectedPartitions.partitionCount} of 8")
    // scoring excludes the probe's own id; the planted near-copy (cosine
    // ~1.0 vs the corpus's ≤0.52 inter-pair max) must rank FIRST
    val ids = topk.map(_.getLong(1))
    assert(ids.head === 1000007L, s"planted arrival should rank 1st, got ${ids.toSeq}")
  }

  test("ivfCompactAtRest: per-append files collapse to one per list, probe results identical") {
    val dir = tempDir("ivf_compact") + "/corpus"
    val centroids = Similarity.ivfCodebook(emb, nLists = 8)
    Similarity.ivfWriteAtRest(emb, centroids, dir)
    // three appends: each touched list directory accretes another file-set
    (1 to 3).foreach { r =>
      val arrivals = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + r * 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.0f + r * 0.001f)).as("embedding"),
          col("label"))
      Similarity.ivfAppendAtRest(arrivals, centroids, dir)
    }
    val probe = emb.filter(col("vec_id") === 7)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    def files(): Int = {
      // the LIVE version only — the replaced version survives one
      // generation of reader grace and must not be counted
      val live = graft.operators.AtRest.resolve(spark, dir)
      val fs = new org.apache.hadoop.fs.Path(live)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(live), true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = Similarity.ivfTopKAtRest(spark, dir, probe, centroids, k = 5, nProbe = 2)
      .collect().toSeq
    val filesBefore = files()
    Similarity.ivfCompactAtRest(spark, dir)
    val filesAfter = files()
    assert(filesAfter < filesBefore, s"$filesAfter files after vs $filesBefore")
    assert(filesAfter <= 8) // one file per list directory
    val after = Similarity.ivfTopKAtRest(spark, dir, probe, centroids, k = 5, nProbe = 2)
      .collect().toSeq
    assert(after === before && after.nonEmpty)
  }

  test("ivfRetrain: crowded drift mass re-spreads — probe scan shrinks, planted recall survives") {
    // Codebook drift with a sampling/k-means codebook costs list CROWDING,
    // not recall (a probe near its neighbor ranks lists exactly as the
    // neighbor's assignment did): append 10x mass in a region the original
    // codebook never saw, and the new region crowds into few stale lists —
    // probes there scan ~the whole appended mass. Retraining re-spreads it.
    val dir = tempDir("ivf_retrain") + "/corpus"
    val oldCb = Similarity.ivfTrainKmeans(emb, nLists = 16, iters = 2)
    Similarity.ivfWriteAtRest(emb, oldCb, dir)
    val nBase = emb.count()
    // 10x drift mass: mean-shifted well away from the base distribution,
    // angular diversity retained (deterministic per-replica scaling)
    def driftVec(r: Int) = transform(col("embedding"),
      x => x * lit(0.45f + 0.01f * r) + lit(0.5f))
    (0 until 10).foreach { r =>
      Similarity.ivfAppendAtRest(
        emb.select((col("vec_id") + (r + 1) * 1000000L).as("vec_id"),
          driftVec(r).as("embedding"), col("label")),
        oldCb, dir)
    }
    // probe: a near-copy of drift replica r=2 of base vec 3 (vec_id
    // 3000003) — its planted nearest neighbor at cosine ~1.0
    val probe = emb.filter(col("vec_id") === 3)
      .select(lit(99000003L).as("probe_id"),
        transform(driftVec(2), x => x * lit(1.001f)).as("probe_vec"))
    def scannedRows(cb: Seq[Seq[Float]]): Long = {
      val wanted = Similarity.ivfProbeLists(probe, cb, nProbe = 2)
        .select("list_id").distinct().collect().map(_.getInt(0)).toSeq
      Similarity.ivfRead(spark, dir).filter(col("list_id").isin(wanted: _*)).count()
    }
    def top1(cb: Seq[Seq[Float]]): Long =
      Similarity.ivfTopKAtRest(spark, dir, probe, cb, k = 1, nProbe = 2)
        .collect().head.getLong(1)
    def maxList(): Long = Similarity.ivfRead(spark, dir).groupBy("list_id")
      .agg(count(lit(1)).as("n")).select(max("n")).head.getLong(0)
    val scannedBefore = scannedRows(oldCb)
    val maxBefore = maxList()
    assert(maxBefore >= 2 * nBase,
      s"drift mass should crowd stale lists: max list $maxBefore of ${11 * nBase} rows")
    assert(top1(oldCb) === 3000003L)
    // maxTrainRows drives the SAMPLED training path (the table holds
    // 11 × nBase rows > 2048): k-means++ over a deterministic hash-sample
    // must still find the drift mass and re-spread it — the 100 TB recipe.
    // Lloyd rounds are driver-local under sampling (milliseconds), so the
    // maintenance pass can afford more of them than the distributed path
    val newCb = Similarity.ivfRetrain(spark, dir, nLists = 16, iters = 6,
      maxTrainRows = 2048)
    val scannedAfter = scannedRows(newCb)
    val maxAfter = maxList()
    assert(maxAfter * 2 <= maxBefore,
      s"retrain should re-balance lists: max $maxAfter vs $maxBefore")
    assert(scannedAfter < scannedBefore,
      s"probe scan should shrink: $scannedAfter vs $scannedBefore")
    // recall is not what drift degrades here — and retraining keeps it
    assert(top1(newCb) === 3000003L)
  }

  test("ivfIngestBatch: cross-probe and in-batch drops, append visible, replay content-idempotent") {
    val dir = tempDir("ivf_ingest") + "/corpus"
    val cb = Similarity.ivfCodebook(emb, nLists = 16)
    Similarity.ivfWriteAtRest(emb.select("vec_id", "embedding"), cb, dir)
    val nSeed = Similarity.ivfRead(spark, dir).count()
    val novel = emb.filter(col("vec_id") >= 50 && col("vec_id") < 60)
      .select((col("vec_id") + 1000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.9f) + lit(0.1f)).as("embedding"))
    val batch = emb.filter(col("vec_id") < 10) // near-copies: cross-probe drop
      .select((col("vec_id") + 2000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      .unionByName(novel) // mean-shifted: all admit (max 0.79 vs corpus)
      .unionByName(novel.filter(col("vec_id") < 1052) // in-batch plants: greedy drop
        .select((col("vec_id") + 4000L).as("vec_id"),
          transform(col("embedding"), y => y * lit(1.002f)).as("embedding")))
    val n1 = Similarity.ivfIngestBatch(batch, cb, dir, threshold = 0.95)
    assert(n1 === 10L) // exactly the 10 novels
    val admitted = Similarity.ivfRead(spark, dir).filter(col("vec_id") >= 1000L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(admitted === (1050L to 1059L).toSet)
    // replay the whole batch: every member now has a near-dup at rest
    // (its own appended copy for the novels) -> nothing re-admits
    val n2 = Similarity.ivfIngestBatch(batch, cb, dir, threshold = 0.95)
    assert(n2 === 0L, s"replay admitted $n2")
    assert(Similarity.ivfRead(spark, dir).count() === nSeed + 10L)
  }

  test("ivfIngestStream: micro-batches dedup against the at-rest table and each other") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("ivf_ingest_stream") + "/corpus"
    val cb = Similarity.ivfCodebook(emb, nLists = 16)
    Similarity.ivfWriteAtRest(emb.select("vec_id", "embedding"), cb, dir)
    def vec(source: Long, scale: Float): Array[Float] =
      emb.filter(col("vec_id") === source).select("embedding")
        .head.getSeq[Float](0).map(x => x * 0.9f + 0.1f * scale).toArray
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Similarity.ivfIngestStream(
      mem.toDF().toDF("vec_id", "embedding"), cb, dir,
      tempDir("ivf_ingest_ckpt"), threshold = 0.95)
    try {
      // batch 1: one novel + one near-copy of it (in-batch drop)
      mem.addData((7001L, vec(7, 1f)), (7002L, vec(7, 1f).map(_ * 1.001f)))
      q.processAllAvailable()
      val after1 = Similarity.ivfRead(spark, dir).filter(col("vec_id") >= 7000L)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(after1 === Set(7001L))
      // batch 2: a near-copy of batch 1's admit (cross-table drop) + a
      // fresh novel from a different shift
      mem.addData((7010L, vec(7, 1f).map(_ * 1.002f)), (7011L, vec(8, 1f)))
      q.processAllAvailable()
      val after2 = Similarity.ivfRead(spark, dir).filter(col("vec_id") >= 7000L)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(after2 === Set(7001L, 7011L))
    } finally q.stop()
  }

  test("a stale caller codebook fails loudly against the persisted sidecar") {
    val dir = tempDir("ivf_stale_cb") + "/corpus"
    val cb = Similarity.ivfTrainKmeans(emb, nLists = 8, iters = 1)
    Similarity.ivfWriteAtRest(emb, cb, dir)
    val probe = emb.filter(col("vec_id") === 7)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    // the table retrains; a straggler still holding cb must not silently
    // mis-prune — every entry point taking a codebook validates
    val newCb = Similarity.ivfRetrain(spark, dir, nLists = 8, iters = 2)
    assert(newCb != cb)
    val e1 = intercept[IllegalStateException] {
      Similarity.ivfTopKAtRest(spark, dir, probe, cb, k = 3, nProbe = 2)
    }
    assert(e1.getMessage.contains("codebook"))
    val e2 = intercept[IllegalStateException] {
      Similarity.ivfAppendAtRest(emb.limit(1), cb, dir)
    }
    assert(e2.getMessage.contains("codebook"))
    val e3 = intercept[IllegalStateException] {
      Similarity.ivfIngestBatch(emb.limit(1).select("vec_id", "embedding"), cb, dir)
    }
    assert(e3.getMessage.contains("codebook"))
    // the codebook-free overloads load the persisted model — no way stale
    assert(Similarity.readCodebook(spark, dir).contains(newCb))
    val viaStored = Similarity.ivfTopKAtRest(spark, dir, probe, k = 3, nProbe = 2,
      idCol = "vec_id", vecCol = "embedding")
    val viaCaller = Similarity.ivfTopKAtRest(spark, dir, probe,
      Similarity.readCodebook(spark, dir).get, k = 3, nProbe = 2)
    assert(viaStored.collect().toSeq === viaCaller.collect().toSeq)
  }

  test("ivfIngestBatch with a batchId is exactly-once under full and partial replay") {
    val dir = tempDir("ivf_exactly_once") + "/corpus"
    val cb = Similarity.ivfCodebook(emb, nLists = 16)
    Similarity.ivfWriteAtRest(emb.select("vec_id", "embedding"), cb, dir)
    val novel = emb.filter(col("vec_id") >= 50 && col("vec_id") < 60)
      .select((col("vec_id") + 1000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.9f) + lit(0.1f)).as("embedding"))
    assert(Similarity.ivfIngestBatch(novel, cb, dir, threshold = 0.95,
      batchId = 0L) === 10L)
    // FULL replay: the marker short-circuits with the SAME count (the
    // content-idempotent path alone would report 0 on replay)
    assert(Similarity.ivfIngestBatch(novel, cb, dir, threshold = 0.95,
      batchId = 0L) === 10L)
    val n0 = Similarity.ivfRead(spark, dir).filter(col("vec_id") >= 1000L).count()
    assert(n0 === 10L)
    // PARTIAL replay: the batch dir published but the marker never landed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = graft.operators.AtRest.resolve(spark, dir)
    val novel2 = emb.filter(col("vec_id") >= 60 && col("vec_id") < 65)
      .select((col("vec_id") + 2000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.8f) + lit(0.15f)).as("embedding"))
    assert(Similarity.ivfIngestBatch(novel2, cb, dir, threshold = 0.95,
      batchId = 1L) === 5L)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_committed/batch-1"), false)
    assert(Similarity.ivfIngestBatch(novel2, cb, dir, threshold = 0.95,
      batchId = 1L) === 5L)
    assert(Similarity.ivfRead(spark, dir)
      .filter(col("vec_id") >= 2000L && col("vec_id") < 3000L).count() === 5L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(live, "ingest_batch=1")))
  }

  test("vector-stats ledger: exactly-once card, drop counters, invariant across maintenance") {
    val dir = tempDir("ivf_ledger") + "/corpus"
    val cb = Similarity.ivfCodebook(emb, nLists = 16)
    val seed = emb.filter(col("vec_id") % 3 === 1)
      .select("vec_id", "embedding", "label")
    Similarity.ivfWriteAtRest(seed, cb, dir, ledgerBy = "label")
    def near(src: DataFrame, offset: Long) = src
      .select((col("vec_id") + offset).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"),
        col("label"))
    // batch 0: all %3==2 originals (admit: max natural cosine ~0.51 « 0.95)
    // + near-copies of seed members (cross drop) + near-copies of own
    // members (in-batch drop: the copy's larger id loses the greedy rule)
    val orig0 = emb.filter(col("vec_id") % 3 === 2)
      .select("vec_id", "embedding", "label")
    val crossPlant = near(seed.filter(col("vec_id") < 30), 1000000L)
    val inPlant = near(orig0.filter(col("vec_id") < 30), 2000000L)
    val b0 = orig0.unionByName(crossPlant).unionByName(inPlant)
    assert(Similarity.ivfIngestBatch(b0, cb, dir, threshold = 0.95,
      nProbe = 16, batchId = 0L) === orig0.count())
    def card() = Similarity.ivfLedgerCard(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the ledger groups by the grp value cast to string — key everything so
    val byLabel = (df: DataFrame) => df.groupBy("label").count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap.withDefaultValue(0L)
    val (nSeed, nOrig0, nCross, nIn) =
      (byLabel(seed), byLabel(orig0), byLabel(crossPlant), byLabel(inPlant))
    val expect0 = (nSeed.keySet ++ nOrig0.keySet ++ nIn.keySet ++ nCross.keySet)
      .map(l => (l, nSeed(l) + nOrig0(l), nIn(l), nCross(l)))
    assert(card() === expect0)
    // the card's n_vecs is the TABLE's per-label count — ledger ≡ data
    assert(byLabel(Similarity.ivfRead(spark, dir)).toSet === expect0.map(t => (t._1, t._2)))
    // replay of the same batchId is a marker short-circuit: card unchanged
    assert(Similarity.ivfIngestBatch(b0, cb, dir, threshold = 0.95,
      nProbe = 16, batchId = 0L) === orig0.count())
    assert(card() === expect0)
    // maintenance moves no vectors -> the collapsed ledger stays exact
    Similarity.ivfCompactAtRest(spark, dir)
    assert(card() === expect0)
    Similarity.ivfRetrain(spark, dir, nLists = 8, iters = 1)
    assert(card() === expect0)
    // ad-hoc appends have no replay identity: loud rejection both ways
    intercept[IllegalArgumentException] {
      Similarity.ivfAppendAtRest(orig0.limit(1), Similarity.readCodebook(spark, dir).get, dir)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfIngestBatch(near(orig0.limit(1), 9000000L),
        Similarity.readCodebook(spark, dir).get, dir, threshold = 0.95)
    }
    // a batch missing the declared grouping column is loud, not skewing
    intercept[IllegalArgumentException] {
      Similarity.ivfIngestBatch(
        near(orig0.limit(1), 9500000L).drop("label"),
        Similarity.readCodebook(spark, dir).get, dir, threshold = 0.95, batchId = 7L)
    }
  }

  test("multi-assignment (replicas=2): each vector in 2 lists, probes dedupe, recall rises") {
    val emb500 = emb.limit(500).persist()
    val cb = Similarity.ivfTrainKmeans(emb500, nLists = 16, iters = 5)
    val d1 = tempDir("ivf_rep1") + "/corpus"
    val d2 = tempDir("ivf_rep2") + "/corpus"
    Similarity.ivfWriteAtRest(emb500.select("vec_id", "embedding"), cb, d1)
    Similarity.ivfWriteAtRest(emb500.select("vec_id", "embedding"), cb, d2, replicas = 2)
    // every vector holds exactly 2 rows, in 2 DISTINCT lists
    val perVec = Similarity.ivfRead(spark, d2)
      .groupBy("vec_id").agg(count(lit(1)).as("n"),
        countDistinct(col("list_id")).as("nl"))
    assert(perVec.filter(col("n") =!= 2 || col("nl") =!= 2).count() === 0)
    val probes = emb500.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val exact = Similarity.bruteForceTopK(emb500, probes, k = 10)
      .select("probe_id", "neighbor_id")
    def hits(dir: String): Long = {
      val got = Similarity.ivfTopKAtRest(spark, dir, probes, cb, k = 10, nProbe = 2)
      // no (probe, neighbor) pair may surface twice through two lists
      assert(got.groupBy("probe_id", "neighbor_id").count()
        .filter(col("count") > 1).count() === 0)
      exact.join(got.select("probe_id", "neighbor_id"),
        Seq("probe_id", "neighbor_id"), "left_semi").count()
    }
    val (h1, h2) = (hits(d1), hits(d2))
    assert(h2 > h1, s"replicas=2 recall ($h2) should beat single assignment ($h1)")
    // the boundary replica is probe-visible through EITHER of its lists,
    // and ingest preserves the factor: an appended batch lands replicated
    assert(Similarity.ivfIngestBatch(
      emb500.filter(col("vec_id") === 42)
        .select((col("vec_id") + 7000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(-1.0f)).as("embedding")),
      cb, d2, threshold = 0.95, batchId = 3L) === 1L)
    assert(Similarity.ivfRead(spark, d2).filter(col("vec_id") === 7042L).count() === 2L)
    emb500.unpersist()
  }

  test("ivfEnableLedger migrates a live unledgered table; card matches recompute") {
    val dir = tempDir("ivf_enable_ledger") + "/corpus"
    val cb = Similarity.ivfCodebook(emb, nLists = 16)
    Similarity.ivfWriteAtRest(
      emb.select("vec_id", "embedding", "label"), cb, dir)
    intercept[IllegalStateException] { Similarity.ivfLedgerCard(spark, dir) }
    Similarity.ivfEnableLedger(spark, dir, "label")
    val card = Similarity.ivfLedgerCard(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val expect = emb.groupBy("label").count()
      .collect().map(r => (r.get(0).toString, r.getLong(1), 0L, 0L)).toSet
    assert(card === expect)
    // and later ingests maintain it incrementally (batch-proportional)
    val b = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 5000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"),
        col("label"))
    assert(Similarity.ivfIngestBatch(b, cb, dir, threshold = 0.95,
      nProbe = 16, batchId = 0L) === 0L) // all near-copies: cross drops
    val after = Similarity.ivfLedgerCard(spark, dir)
      .select(sum("n_dropped_cross")).head.getLong(0)
    assert(after === 3L)
  }

  test("ivfIngestBatch above maxExactBatch plans no broadcast nested-loop join") {
    import spark.implicits._
    val dir = tempDir("ivf_bulk_guard") + "/corpus"
    val cb = Similarity.ivfCodebook(emb, nLists = 8)
    Similarity.ivfWriteAtRest(emb.select("vec_id", "embedding"), cb, dir)
    // the guard swaps the exact batch-squared self-join for banded sign-LSH:
    // verify the LSH path produces the same admit DECISIONS as the exact
    // path on a batch with known in-batch plants (recall holds at ~1.0)
    val novel = emb.filter(col("vec_id") >= 50 && col("vec_id") < 60)
      .select((col("vec_id") + 1000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.9f) + lit(0.1f)).as("embedding"))
    val batch = novel.unionByName(novel.filter(col("vec_id") < 1052)
      .select((col("vec_id") + 4000L).as("vec_id"),
        transform(col("embedding"), y => y * lit(1.002f)).as("embedding")))
    // maxExactBatch = 1 forces the guard on this small batch
    val n = Similarity.ivfIngestBatch(batch, cb, dir, threshold = 0.95,
      maxExactBatch = 1L)
    assert(n === 10L) // the 2 in-batch plants drop via the LSH path too
    // and the guard's in-batch dedup plan contains NO broadcast NLJ
    val b = batch.select("vec_id", "embedding")
    val plan = Similarity.embeddingDuplicates(b, 0.95, idCol = "vec_id",
        vecCol = "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("nearDupGroups: chains, multiple components, singleton pairs converge to min labels") {
    import spark.implicits._
    // component A: a 5-long CHAIN 10-11-12-13-14 (diameter 4 forces several
    // propagation rounds); component B: triangle 20-21-22; component C: the
    // pair (30, 31); ids deliberately out of arrival order
    val pairs = Seq(
      (13L, 14L), (10L, 11L), (12L, 13L), (11L, 12L),
      (21L, 20L), (22L, 21L), (20L, 22L),
      (31L, 30L)).toDF("id_a", "id_b")
    val got = Dedup.nearDupGroups(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L))
  }

  test("nearDupKeepBest: highest score wins the cluster, ties break to smallest id") {
    import spark.implicits._
    // chain component {10,11,12} (11 scores highest) and pair {20,21}
    // (tied scores -> smallest id keeps)
    val pairs = Seq((10L, 11L, 0.9), (11L, 12L, 0.9), (20L, 21L, 0.8))
      .toDF("id_a", "id_b", "jaccard")
    val docs = Seq((10L, 100L), (11L, 500L), (12L, 300L), (20L, 70L), (21L, 70L),
        (99L, 9999L)) // singleton: not clustered, must not appear
      .toDF("doc_id", "n_chars")
    val out = Dedup.nearDupKeepBest(docs, pairs, "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (10L, 10L, 11L), (11L, 10L, 11L), (12L, 10L, 11L),
      (20L, 20L, 20L), (21L, 20L, 20L)))
  }

  test("exact dedup: planted exact copies found with correct canonical id") {
    val copies = docs.limit(5).select((col("doc_id") + 3000000).as("doc_id"), col("text"))
    val groups = Dedup.exactGroups(docs.select("doc_id", "text").unionAll(copies)).collect()
    assert(groups.length == 5)
    groups.foreach { r =>
      assert(r.getLong(1) == 2L) // n_copies
      assert(r.getLong(2) < 3000000) // canonical = min id, the original
    }
    val kept = Dedup.exactDedup(docs.select("doc_id", "text").unionAll(copies))
    assert(kept.count() == docs.count())
  }

  test("cross-shard in-flight vector race: the delta re-probe drops the later committer") {
    val dir = tempDir("ivf_race") + "/corpus"
    val cb = Similarity.ivfCodebook(emb, nLists = 8)
    Similarity.ivfWriteAtRest(
      emb.filter(col("vec_id") >= 100).select("vec_id", "embedding"), cb, dir)
    // one fresh id per shard under the router pmod(xxhash64(id), 2)
    val byShard = spark.range(9000000L, 9000050L)
      .select(col("id"), pmod(xxhash64(col("id")), lit(2L)).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val id0 = byShard.find(_._2 == 0L).get._1
    val id1 = byShard.find(_._2 == 1L).get._1
    // both batches carry near-copies of base vec 5 (NOT in the table):
    // without the delta re-probe both members would be admitted
    def vecOf(id: Long, scale: Float) = emb.filter(col("vec_id") === 5)
      .select(lit(id).as("vec_id"),
        transform(col("embedding"), x => x * lit(scale)).as("embedding"))
    var injected = false
    Similarity.onBeforeCommitIvf = () => if (!injected) {
      injected = true
      // shard 1's near-dup batch commits INSIDE shard 0's in-flight
      // window (after its probe snapshot, before its commit)
      assert(Similarity.ivfIngestBatch(vecOf(id1, 1.001f), cb, dir,
        threshold = 0.95, nProbe = 8, batchId = 1L, shard = 1, nShards = 2) === 1L)
    }
    try {
      val n = Similarity.ivfIngestBatch(vecOf(id0, 1.0f), cb, dir,
        threshold = 0.95, nProbe = 8, batchId = 0L, shard = 0, nShards = 2)
      assert(n === 0L, "the later committer must drop its in-flight near-dup")
    } finally Similarity.onBeforeCommitIvf = () => ()
    val fresh = Similarity.ivfRead(spark, dir).filter(col("vec_id") >= 9000000L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(fresh === Set(id1))
    // shard 0's batch still committed exactly-once (all-dropped, n=0) and
    // the commit mutex released
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "_committed/batch-0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_commitlock")))
  }

  test("sharded vector ingest: two concurrent disjoint-shard streams equal the single writer") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("ivf_sharded")
    val seedV = emb.filter(col("vec_id") < 100).select("vec_id", "embedding")
    val cb = Similarity.ivfCodebook(seedV, nLists = 8)
    Similarity.ivfWriteAtRest(seedV, cb, s"$root/a")
    Similarity.ivfWriteAtRest(seedV, cb, s"$root/b")
    // arrivals: 20 novel gaussian vectors (admit — cosines ~0 at 0.95)
    // + 5 exact copies of seed vectors under new ids (cross-probe drop);
    // drop decisions depend only on the PUBLISHED seed, so shard
    // interleaving cannot change the outcome
    val arrivals = (emb.filter(col("vec_id").between(100, 119))
        .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
      .unionAll(seedV.filter(col("vec_id") < 5)
        .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"))))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // single-writer ground truth
    val n1 = Similarity.ivfIngestBatch(
      arrivals.toSeq.toDF("vec_id", "embedding"), cb, s"$root/a", batchId = 0L)
    assert(n1 === 20L)
    val singleIds = Similarity.ivfRead(spark, s"$root/a")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // two concurrent sharded streams fed the same full input
    val memA = MemoryStream[(Long, Array[Float])]
    val memB = MemoryStream[(Long, Array[Float])]
    val q0 = Similarity.ivfIngestStreamSharded(
      memA.toDF().toDF("vec_id", "embedding"), cb, s"$root/b", s"$root/ck0", 0, 2)
    val q1 = Similarity.ivfIngestStreamSharded(
      memB.toDF().toDF("vec_id", "embedding"), cb, s"$root/b", s"$root/ck1", 1, 2)
    try {
      memA.addData(arrivals.toSeq: _*); memB.addData(arrivals.toSeq: _*)
      q0.processAllAvailable(); q1.processAllAvailable()
      val shardedIds = Similarity.ivfRead(spark, s"$root/b")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(shardedIds === singleIds)
      // same-shard second stream conflicts loudly; so does whole-root
      // maintenance under the live fleet
      val memC = MemoryStream[(Long, Array[Float])]
      val e1 = intercept[IllegalStateException] {
        Similarity.ivfIngestStreamSharded(
          memC.toDF().toDF("vec_id", "embedding"), cb, s"$root/b", s"$root/ckX", 1, 2)
      }
      assert(e1.getMessage.contains("write-locked"))
      val e2 = intercept[IllegalStateException] {
        Similarity.ivfCompactAtRest(spark, s"$root/b")
      }
      assert(e2.getMessage.contains("shard lease"))
    } finally { q0.stop(); q1.stop() }
  }

  // ------------------------------------------------- product quantization

  test("PQ: ADC score is exactly the dot of the normalized probe and the " +
      "code's reconstruction") {
    val cb = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 3)
    val dsub = cb.head.head.length
    val rows = Similarity.pqEncode(emb.limit(5), cb)
      .select(col("vec_id"), col("embedding"), col("pq_code"),
        graft.functions.VectorFunctions.pq_adc(col("pq_code"),
          graft.functions.VectorFunctions.pq_lut(col("embedding"), cb)).as("adc"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1)
      val nrm = math.sqrt(v.foldLeft(0.0)((s, x) => s + x.toDouble * x))
      val vn = v.map(_ / nrm)
      val code = r.getAs[Array[Byte]](2)
      assert(code.length == 8, "m=8 -> 8-byte code (32x over float32)")
      val recon = code.zipWithIndex.flatMap { case (c, j) => cb(j)(c & 0xFF) }
      val expect = vn.zip(recon).map { case (a, b) => a * b.toDouble }.sum
      assert(math.abs(r.getDouble(3) - expect) < 1e-9,
        s"ADC ${r.getDouble(3)} != reconstruction dot $expect for vec ${r.getLong(0)}")
    }
  }

  test("PQ: planted near-duplicate probes retrieve their source at rank 1") {
    val cb = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 3)
    val probes = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 700000).as("probe_id"),
        transform(col("embedding"), x => x * lit(1.0f) + lit(0.01f)).as("probe_vec"))
    val hits = Similarity.pqTopK(emb, probes, cb, k = 3).collect()
      .filter(r => r.getLong(1) == r.getLong(0) - 700000)
    // a near-identical vector encodes to (nearly) the same code, so its ADC
    // score ties the probe's own reconstruction — the regime PQ dedup serves
    assert(hits.length / 20.0 >= 0.9, s"PQ planted recall ${hits.length / 20.0}")
    hits.foreach(r => assert(r.getInt(3) == 1, s"planted source not rank 1: $r"))
  }

  test("PQ: exact rerank's recall@k >= ADC-only recall@k, scores exact") {
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val exact = Similarity.bruteForceTopK(emb, probes, k = 10)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cb = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 3)
    val adcOnly = Similarity.pqTopK(emb, probes, cb, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val reranked = Similarity.pqTopK(emb, probes, cb, k = 10, rerank = 50).collect()
    val rerankSet = reranked.map(r => (r.getLong(0), r.getLong(1))).toSet
    val adcRecall = (adcOnly & exact).size / 100.0
    val rrRecall = (rerankSet & exact).size / 100.0
    // any exact-top-k member the ADC pass ranked into its own top-k is also
    // inside the top-50 candidate set, and exact reordering keeps it — so
    // rerank can only add hits
    assert(rrRecall >= adcRecall, s"rerank $rrRecall < adc-only $adcRecall")
    assert(rrRecall >= 0.5, s"rerank recall@10 $rrRecall on gaussian corpus")
    // reranked scores are TRUE cosines — recompute one probe's pair exactly
    val byId = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    reranked.filter(_.getLong(0) == 0L).foreach { r =>
      val a = byId(0L); val b = byId(r.getLong(1))
      val dp = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val c = dp / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
      assert(math.abs(r.getDouble(2) - math.rint(c * 1e6) / 1e6) < 1e-6)
    }
  }

  test("PQ: training is deterministic; zero-norm vectors encode safely") {
    val cb1 = Similarity.pqTrain(emb, m = 4, ksub = 8, iters = 2)
    val cb2 = Similarity.pqTrain(emb, m = 4, ksub = 8, iters = 2)
    assert(cb1 == cb2, "pqTrain must be run-to-run deterministic")
    val zero = spark.range(1).select(lit(0L).as("vec_id"),
      array((0 until 64).map(_ => lit(0.0f)): _*).as("embedding"))
    val r = Similarity.pqEncode(zero, cb1)
      .select(graft.functions.VectorFunctions.pq_adc(col("pq_code"),
        graft.functions.VectorFunctions.pq_lut(col("embedding"), cb1)))
      .collect().head.getDouble(0)
    assert(!r.isNaN && !r.isInfinite)
  }

  test("IVF-PQ at rest: ADC scan reads codes only + prunes lists; fetch is " +
      "a pushed-down point read; result equals the in-memory comparator") {
    val dir = tempDir("ivfpq_rest") + "/corpus"
    val centroids = Similarity.ivfCodebook(emb, nLists = 8)
    val pq = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 3)
    Similarity.ivfWriteAtRest(emb, centroids, dir, pqModel = pq)
    val probe = emb.filter(col("vec_id") === 7)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    var adcScan: Option[org.apache.spark.sql.execution.FileSourceScanExec] = None
    spark.conf.set("spark.sql.adaptive.enabled", false)
    val (topk, fetchScan) =
      try {
        Similarity.onPqAdcPlan = df => {
          adcScan = df.queryExecution.executedPlan.collectFirst {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f
          }
        }
        val q = Similarity.ivfPqTopKAtRest(spark, dir, probe,
          k = 3, nProbe = 2, rerank = 10)
        (q.collect().toSeq, q.queryExecution.executedPlan.collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.get)
      } finally {
        Similarity.onPqAdcPlan = _ => ()
        spark.conf.set("spark.sql.adaptive.enabled", true)
      }
    // stage 1: the code scan plans only the nProbe wanted lists, and its
    // read schema carries the 8-byte code but NOT the embedding column —
    // the raw vectors' pages never load during candidate generation
    val adc = adcScan.get
    assert(adc.selectedPartitions.partitionCount == 2,
      s"ADC scan planned ${adc.selectedPartitions.partitionCount} partitions, want 2 of 8")
    val adcCols = adc.requiredSchema.fieldNames.toSet
    assert(adcCols.contains("pq_code") && !adcCols.contains("embedding"),
      s"ADC scan must read codes, not vectors: $adcCols")
    // stage 2: the vector fetch prunes to the same lists AND pushes the
    // candidate-id IN filter down to parquet
    assert(fetchScan.selectedPartitions.partitionCount <= 2)
    assert(fetchScan.requiredSchema.fieldNames.toSet.contains("embedding"))
    assert(fetchScan.metadata("PushedFilters").contains("In(vec_id"),
      s"candidate fetch must push the id IN filter: ${fetchScan.metadata("PushedFilters")}")
    // and the two-stage at-rest result is exactly the in-memory comparator
    val inMem = Similarity.ivfPqTopK(emb, probe, centroids, pq,
      k = 3, nProbe = 2, rerank = 10).collect().toSeq
    assert(topk == inMem)
  }

  test("IVF-PQ: appends and ingests keep encoding; enablePq migrates a live " +
      "table; retrain carries the model") {
    val dir = tempDir("ivfpq_life") + "/corpus"
    val centroids = Similarity.ivfCodebook(emb, nLists = 8)
    // plain IVF table first, then migrate
    Similarity.ivfWriteAtRest(emb, centroids, dir)
    assert(Similarity.ivfPqModel(spark, dir).isEmpty)
    val pq = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 3)
    // a model trained on a different dimensionality must fail LOUDLY — the
    // encode kernel's out-of-range-reads-as-zero convention would otherwise
    // silently quantize truncated vectors
    val half = pq.take(4)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfEnablePq(spark, dir, half)
    }
    assert(e.getMessage.contains("dims"))
    Similarity.ivfEnablePq(spark, dir, pq)
    assert(Similarity.ivfPqModel(spark, dir).contains(pq))
    // every persisted row is encoded after migration
    val migrated = Similarity.ivfRead(spark, dir)
    assert(migrated.filter(col("pq_code").isNull).count() == 0)
    assert(migrated.count() == emb.count())
    // an append on the migrated table encodes automatically (no schema drift)
    val extra = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 900000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.0f) + lit(0.02f)).as("embedding"))
    Similarity.ivfAppendAtRest(extra, centroids, dir)
    val after = Similarity.ivfRead(spark, dir)
    assert(after.count() == emb.count() + 3)
    assert(after.filter(col("pq_code").isNull).count() == 0,
      "append on a PQ table must encode — un-encoded batch dirs drift the schema")
    // probing with vec 1's own embedding: rank 1 is vec 1 itself (cosine
    // 1.0), rank 2 its appended perturbed copy — the append is PQ-visible
    val probe = emb.filter(col("vec_id") === 1)
      .select((col("vec_id") + 800000).as("probe_id"), col("embedding").as("probe_vec"))
    val got = Similarity.ivfPqTopKAtRest(spark, dir, probe, k = 2, nProbe = 2,
      rerank = 10).collect()
    assert(got.map(_.getLong(1)).toSet == Set(1L, 900001L) &&
        got.forall(_.getDouble(2) > 0.98),
      s"appended near-copy not found: ${got.mkString(";")}")
    // the exactly-once ingest path also encodes (publishAdjudicated) —
    // a PQ table fed by the micro-batch loop can never drift its schema
    val novel = emb.filter(col("vec_id") >= 100 && col("vec_id") < 103)
      .select((col("vec_id") + 920000).as("vec_id"),
        transform(col("embedding"), x => x * lit(-1.0f)).as("embedding"))
    val nIn = Similarity.ivfIngestBatch(novel, centroids, dir,
      threshold = 0.999, batchId = 7L)
    assert(nIn == 3)
    val postIngest = Similarity.ivfRead(spark, dir)
    assert(postIngest.count() == emb.count() + 6)
    assert(postIngest.filter(col("pq_code").isNull).count() == 0,
      "ingest on a PQ table must encode")
    // retrain rewrites the table — the PQ model must ride into the new
    // version (codes are content-derived, assignments re-derived)
    Similarity.ivfRetrain(spark, dir, nLists = 8, iters = 1)
    assert(Similarity.ivfPqModel(spark, dir).contains(pq),
      "retrain must carry the PQ model into the new version")
    val again = Similarity.ivfPqTopKAtRest(spark, dir, probe, k = 2, nProbe = 4,
      rerank = 10).collect()
    assert(again.map(_.getLong(1)).toSet == Set(1L, 900001L))
  }

  test("IVF-PQ codes-only: no vectors at rest, rerankFrom serves exact " +
      "scores, vector-dependent entry points fail loudly") {
    val dir = tempDir("ivfpq_codes") + "/codes"
    val full = tempDir("ivfpq_codes") + "/full"
    val centroids = Similarity.ivfCodebook(emb, nLists = 8)
    val pq = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 3)
    Similarity.ivfWriteAtRest(emb, centroids, dir, pqModel = pq, codesOnly = true)
    Similarity.ivfWriteAtRest(emb, centroids, full, pqModel = pq)
    // the raw vectors are genuinely absent from the persisted schema
    assert(!Similarity.ivfRead(spark, dir).columns.contains("embedding"))
    // a codesOnly seed without a model is rejected up front
    intercept[IllegalArgumentException] {
      Similarity.ivfWriteAtRest(emb, centroids,
        tempDir("ivfpq_codes") + "/bad", codesOnly = true)
    }
    // probing with the primary store as rerank source returns EXACTLY what
    // the full layout returns (same models, same candidates, same cosines)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val fromCodes = Similarity.ivfPqTopKAtRest(spark, dir, probes, k = 5,
      nProbe = 2, rerank = 15, rerankFrom = emb).collect().toSeq
    val fromFull = Similarity.ivfPqTopKAtRest(spark, full, probes, k = 5,
      nProbe = 2, rerank = 15).collect().toSeq
    assert(fromCodes == fromFull)
    // appends stay codes-only
    val extra = emb.filter(col("vec_id") < 2)
      .select((col("vec_id") + 950000).as("vec_id"), col("embedding"))
    Similarity.ivfAppendAtRest(extra, centroids, dir)
    val after = Similarity.ivfRead(spark, dir)
    assert(!after.columns.contains("embedding") && after.count() == emb.count() + 2)
    // compaction carries the codesOnly contract and leaves probes identical
    Similarity.ivfCompactAtRest(spark, dir)
    assert(!Similarity.ivfRead(spark, dir).columns.contains("embedding"))
    // every vector-dependent entry point refuses, naming the table shape
    val rerankedProbe = emb.select("vec_id", "embedding")
      .unionByName(extra.select(col("vec_id"), col("embedding")))
    assert(intercept[IllegalStateException] {
      Similarity.ivfTopKAtRest(spark, dir, probes, centroids, k = 3)
    }.getMessage.contains("codes-only"))
    assert(intercept[IllegalStateException] {
      Similarity.ivfRetrain(spark, dir, nLists = 8)
    }.getMessage.contains("codes-only"))
    assert(intercept[IllegalStateException] {
      Similarity.ivfIngestBatch(extra, centroids, dir, threshold = 0.95)
    }.getMessage.contains("codes-only"))
    assert(intercept[IllegalStateException] {
      Similarity.ivfEnablePq(spark, dir, pq)
    }.getMessage.contains("codes-only"))
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKAtRest(spark, dir, probes, k = 3)
    }.getMessage.contains("rerankFrom"))
    // and the post-append table still probes correctly against the
    // (extended) primary store
    val got = Similarity.ivfPqTopKAtRest(spark, dir,
      emb.filter(col("vec_id") === 0)
        .select((col("vec_id") + 970000).as("probe_id"),
          col("embedding").as("probe_vec")),
      k = 2, nProbe = 2, rerank = 10, rerankFrom = rerankedProbe).collect()
    assert(got.map(_.getLong(1)).toSet == Set(0L, 950000L),
      s"expected vec 0 and its appended copy: ${got.mkString(";")}")
  }

  test("IVF-PQ rerank fallback: past the IN threshold the semi-join path " +
      "returns identical rows and the fetch stays partition-pruned") {
    val dir = tempDir("ivfpq_fb") + "/corpus"
    val centroids = Similarity.ivfCodebook(emb, nLists = 8)
    val pq = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 3)
    Similarity.ivfWriteAtRest(emb, centroids, dir, pqModel = pq)
    val probe = emb.filter(col("vec_id") === 7)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val viaIn = Similarity.ivfPqTopKAtRest(spark, dir, probe,
      k = 5, nProbe = 2, rerank = 15).collect().toSeq
    spark.conf.set("spark.sql.adaptive.enabled", false)
    val (viaSemi, plan) =
      try {
        // the PUBLIC crossover knob: any candidate list now exceeds it
        spark.conf.set(Similarity.RerankInThresholdKey, "0")
        val q = Similarity.ivfPqTopKAtRest(spark, dir, probe,
          k = 5, nProbe = 2, rerank = 15)
        (q.collect().toSeq, q.queryExecution.executedPlan)
      } finally {
        spark.conf.unset(Similarity.RerankInThresholdKey)
        spark.conf.set("spark.sql.adaptive.enabled", true)
      }
    assert(viaSemi == viaIn,
      "the broadcast-semi-join fallback must return exactly the IN path's rows")
    // the fetch scan still plans only the probe's wanted lists — losing
    // the literal IN must not silently widen the read to the whole table
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "fallback plan should contain the vector-fetch scan")
    scans.foreach { s =>
      assert(s.selectedPartitions.partitionCount <= 2,
        s"fallback fetch planned ${s.selectedPartitions.partitionCount} " +
          "partitions, want <= 2 of 8 (partition pruning lost)")
    }
  }

  test("sampled k-means training is deterministic and trains on the hash-cut") {
    // same inputs + same bound -> bit-identical codebook (the no-RNG
    // contract carries through the sampling cut), and the bound genuinely
    // cuts: a sample-trained codebook differs from the full-table one
    val a = Similarity.ivfTrainKmeans(emb, nLists = 8, iters = 2, maxTrainRows = 200)
    val b = Similarity.ivfTrainKmeans(emb, nLists = 8, iters = 2, maxTrainRows = 200)
    assert(a == b, "sampled training must be deterministic")
    val full = Similarity.ivfTrainKmeans(emb, nLists = 8, iters = 2)
    assert(a != full, "maxTrainRows=200 over 500 rows must actually sample")
    // a bound at/above the table size is a no-op: identical to full training
    val noop = Similarity.ivfTrainKmeans(emb, nLists = 8, iters = 2,
      maxTrainRows = 1000000)
    assert(noop == full)
  }

  test("ivfRecheck heals a cross-probe-missed near-dup the ingest loop admitted") {
    import spark.implicits._
    val dir = tempDir("ivf_recheck") + "/corpus"
    // two lists 20° apart; A sits 9° from c0 (assigns to list 0), its
    // near-copy A' sits 11° (assigns to list 1). cos(A, A') = cos(2°) ≈
    // 0.9994 ≥ 0.95 — a true near-dup pair straddling the Voronoi boundary
    def at(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val cents = Seq(at(0), at(20))
    val seed = Seq((1L, at(9).toArray), (2L, at(170).toArray))
      .toDF("vec_id", "embedding")
    Similarity.ivfWriteAtRest(seed, cents, dir)
    // nProbe = 1: the arrival probes ONLY list 1; A lives in list 0 → the
    // ingest loop misses the pair and admits the copy (the documented
    // cross-probe caveat)
    val arrival = Seq((100L, at(11).toArray)).toDF("vec_id", "embedding")
    assert(Similarity.ivfIngestBatch(arrival, cents, dir, threshold = 0.95,
      nProbe = 1, batchId = 0L) == 1,
      "the cross-probe near-dup must slip past the pruned ingest probe")
    assert(Similarity.ivfRead(spark, dir).count() == 3)
    // the offline sweep's LSH buckets ignore the IVF cells — it finds the
    // pair and drops the larger id (the ingest loop's greedy rule)
    assert(Similarity.ivfRecheck(spark, dir, threshold = 0.95) == 1)
    val after = Similarity.ivfRead(spark, dir)
    assert(after.select("vec_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "recheck must remove the accreted near-dup and keep the original")
    // assignments/codebook carried: probes still prune and score correctly
    val probe = Seq((999L, at(9).toArray)).toDF("probe_id", "probe_vec")
    val got = Similarity.ivfTopKAtRest(spark, dir, probe, cents, k = 1, nProbe = 1)
      .collect()
    assert(got.head.getLong(1) == 1L && got.head.getDouble(2) > 0.999)
    // idempotent: a clean table drops nothing and is not rewritten
    val verBefore = graft.operators.AtRest.resolve(spark, dir)
    assert(Similarity.ivfRecheck(spark, dir, threshold = 0.95) == 0)
    assert(graft.operators.AtRest.resolve(spark, dir) == verBefore,
      "a zero-drop recheck must not publish a new version")
  }

  test("ivfRecheckIncremental: frontier advances, marker replay " +
      "short-circuits, ledger stays exact") {
    import spark.implicits._
    val dir = tempDir("ivf_recheck_incr") + "/corpus"
    def at(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val cents = Seq(at(0), at(20))
    val seed = Seq((1L, at(9).toArray, "web"), (2L, at(170).toArray, "web"))
      .toDF("vec_id", "embedding", "source")
    Similarity.ivfWriteAtRest(seed, cents, dir, ledgerBy = "source")
    // batch 0: a cross-probe-missed near-dup of vec 1 (nProbe = 1 probes
    // the wrong list) plus a genuinely novel vector
    val b0 = Seq((100L, at(11).toArray, "crawl"), (101L, at(80).toArray, "crawl"))
      .toDF("vec_id", "embedding", "source")
    assert(Similarity.ivfIngestBatch(b0, cents, dir, threshold = 0.95,
      nProbe = 1, batchId = 0L) == 2)
    // first incremental pass: adjudicates batches 0.. — drops the accreted
    // copy, subtracts it from the ledger, advances the frontier
    assert(Similarity.ivfRecheckIncremental(spark, dir, threshold = 0.95) == 1)
    val card1 = Similarity.ivfLedgerCard(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(4))).toMap
    assert(card1("crawl") == (1L, 1L),
      s"crawl: one admitted survivor, one recheck removal — got ${card1("crawl")}")
    assert(card1("web") == (2L, 0L))
    // replay of the same recheck id short-circuits on the marker (returns
    // the recorded count, touches nothing)
    assert(Similarity.ivfRecheckSince(spark, dir, 0L, 0L, threshold = 0.95) == 1)
    // batch 1 arrives AFTER the frontier: the next pass examines ONLY it
    val b1 = Seq((200L, at(171).toArray, "crawl")) // near-dup of OLD vec 2
      .toDF("vec_id", "embedding", "source")
    assert(Similarity.ivfIngestBatch(b1, cents, dir, threshold = 0.95,
      nProbe = 1, batchId = 1L) == 0,
      "same-list near-dup: the pruned probe catches this one")
    val b2 = Seq((300L, at(12).toArray, "crawl")) // cross-probe miss again
      .toDF("vec_id", "embedding", "source")
    assert(Similarity.ivfIngestBatch(b2, cents, dir, threshold = 0.95,
      nProbe = 1, batchId = 2L) == 1)
    assert(Similarity.ivfRecheckIncremental(spark, dir, threshold = 0.95) == 1)
    val after = Similarity.ivfRead(spark, dir)
    assert(after.select("vec_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 101L))
    // card ≡ corpus at exit: n_vecs per source matches a recount
    val card2 = Similarity.ivfLedgerCard(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(card2 == Map("web" -> 2L, "crawl" -> 1L), s"card: $card2")
  }

  test("ivfRecheckIncremental full-sweeps batches folded by compact/retrain " +
      "instead of silently skipping them") {
    import spark.implicits._
    val dir = tempDir("ivf_fold") + "/corpus"
    def at(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val cents = Seq(at(0), at(20))
    Similarity.ivfWriteAtRest(
      Seq((1L, at(9).toArray), (2L, at(170).toArray)).toDF("vec_id", "embedding"),
      cents, dir)
    // batch 0: a cross-probe-missed near-dup of vec 1 (nProbe=1, wrong list)
    assert(Similarity.ivfIngestBatch(
      Seq((100L, at(11).toArray)).toDF("vec_id", "embedding"),
      cents, dir, threshold = 0.95, nProbe = 1, batchId = 0L) == 1)
    // compaction FOLDS ingest_batch=0 into the seed before any recheck
    // adjudicated it — a dir-scoped window would now see nothing and the
    // accreted near-dup would survive forever
    Similarity.ivfCompactAtRest(spark, dir)
    assert(Similarity.ivfRecheckIncremental(spark, dir, threshold = 0.95) == 1)
    assert(Similarity.ivfRead(spark, dir).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // the next pass is incremental again (window past the fold): another
    // cross-probe miss in batch 1 is caught by the dir-scoped window
    assert(Similarity.ivfIngestBatch(
      Seq((200L, at(12).toArray)).toDF("vec_id", "embedding"),
      cents, dir, threshold = 0.95, nProbe = 1, batchId = 1L) == 1)
    assert(Similarity.ivfRecheckIncremental(spark, dir, threshold = 0.95) == 1)
    assert(Similarity.ivfRead(spark, dir).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("custom id column: recorded in meta, maintenance keeps it, " +
      "mismatched callers fail loudly") {
    val dir = tempDir("ivf_idcol") + "/corpus"
    val emb2 = emb.limit(50)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val cents = Similarity.ivfCodebook(emb2, nLists = 4, idCol = "doc_id")
    Similarity.ivfWriteAtRest(emb2, cents, dir, idCol = "doc_id")
    // a caller passing the wrong id column fails loudly instead of
    // silently mis-sorting the layout
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfAppendAtRest(
        emb2.limit(1).select((col("doc_id") + 900000L).as("doc_id"),
          col("embedding")), cents, dir) // default idCol = vec_id
    }.getMessage.contains("idCol"))
    // maintenance consults the STORED idCol — no caller parameter to get
    // wrong — and probes keep working afterwards
    Similarity.ivfCompactAtRest(spark, dir)
    val probe = emb2.limit(1)
      .select(col("doc_id").as("probe_id"), col("embedding").as("probe_vec"))
    assert(Similarity.ivfTopKAtRest(spark, dir, probe, cents, k = 1,
      nProbe = 4, idCol = "doc_id", vecCol = "embedding").count() == 1)
  }

  test("codes-only lifecycle: ingest, recheck and retrain maintain the " +
      "table from rerankFrom (the 100 TB deployment shape)") {
    val root = tempDir("ivfpq_codes_life")
    val dir = root + "/codes"
    val store = root + "/store.parquet"
    val centroids = Similarity.ivfCodebook(emb, nLists = 8)
    val pq = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 3)
    // the external id-addressable vector store is UPSTREAM of ingest:
    // vectors land there first, the codes table holds only codes
    emb.select("vec_id", "embedding").write.parquet(store)
    def storeDf = spark.read.parquet(store)
    Similarity.ivfWriteAtRest(emb, centroids, dir, pqModel = pq,
      codesOnly = true)

    // INGEST: a near-copy of vec 3 must DROP (ADC prefilter over the
    // pruned lists' codes + exact verify from the store); a novel vector
    // must ADMIT, encode, and stay codes-only
    val nearCopy = emb.filter(col("vec_id") === 3)
      .select((col("vec_id") + 990000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
    val novel = emb.filter(col("vec_id") === 4)
      .select((col("vec_id") + 991000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(-1.0f)).as("embedding"))
    val arrivals = nearCopy.unionByName(novel)
    arrivals.write.mode("append").parquet(store)
    assert(Similarity.ivfIngestBatch(arrivals, centroids, dir,
      threshold = 0.98, batchId = 0L, rerankFrom = storeDf) == 1,
      "near-copy must drop via ADC+exact verify, novel must admit")
    val afterIngest = Similarity.ivfRead(spark, dir)
    assert(!afterIngest.columns.contains("embedding"))
    assert(afterIngest.filter(col("pq_code").isNull).count() == 0)
    assert(afterIngest.dropDuplicates("vec_id").count() == emb.count() + 1)

    // RECHECK: an exact copy planted via the admission-free append is
    // healed by the sweep — pair search signs the STORE's vectors, the
    // drop rewrite is a pure filter on the codes table
    val copy = emb.filter(col("vec_id") === 7)
      .select((col("vec_id") + 992000L).as("vec_id"), col("embedding"))
    copy.write.mode("append").parquet(store)
    Similarity.ivfAppendAtRest(copy, centroids, dir)
    assert(Similarity.ivfRecheck(spark, dir, threshold = 0.98,
      rerankFrom = storeDf) == 1)
    val afterRecheck = Similarity.ivfRead(spark, dir)
    assert(!afterRecheck.columns.contains("embedding"))
    assert(afterRecheck.filter(col("vec_id") === 992007L).count() == 0,
      "the planted copy must be dropped")

    // a store missing table ids fails LOUDLY (a silent retrain/recheck
    // would drop those vectors from the table forever)
    assert(intercept[IllegalStateException] {
      Similarity.ivfRetrain(spark, dir, nLists = 8, iters = 1,
        rerankFrom = storeDf.filter(col("vec_id") =!= 0L))
    }.getMessage.contains("missing"))
    assert(intercept[IllegalStateException] {
      Similarity.ivfRecheck(spark, dir, threshold = 0.98,
        rerankFrom = storeDf.filter(col("vec_id") =!= 0L))
    }.getMessage.contains("missing"))

    // RETRAIN: trains + reassigns + re-encodes from the store; the table
    // stays codes-only and the at-rest probe matches the in-memory
    // IVF-PQ of the same surviving corpus under the same models
    val newCb = Similarity.ivfRetrain(spark, dir, nLists = 8, iters = 2,
      maxTrainRows = 128, rerankFrom = storeDf)
    val afterRetrain = Similarity.ivfRead(spark, dir)
    assert(!afterRetrain.columns.contains("embedding"))
    assert(afterRetrain.filter(col("pq_code").isNull).count() == 0)
    val probes = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val survivors = emb.select("vec_id", "embedding").unionByName(novel)
    val atRest = Similarity.ivfPqTopKAtRest(spark, dir, probes, k = 3,
      nProbe = 8, rerank = 20, rerankFrom = storeDf).collect().toSeq
    val inMem = Similarity.ivfPqTopK(survivors, probes, newCb, pq, k = 3,
      nProbe = 8, rerank = 20).collect().toSeq
    assert(atRest == inMem,
      s"codes-only retrain must match the in-memory twin:\n$atRest\n$inMem")
  }

  test("filtered ANN: the payload predicate pushes into the pruned code " +
      "scan and top-k ranks among matching rows only") {
    val dir = tempDir("ivfpq_filtered") + "/corpus"
    val centroids = Similarity.ivfCodebook(emb, nLists = 8)
    val pq = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 3)
    Similarity.ivfWriteAtRest(emb, centroids, dir, pqModel = pq)
    val probe = emb.filter(col("vec_id") === 7)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    var planned: DataFrame = null
    spark.conf.set("spark.sql.adaptive.enabled", false)
    val rows = try {
      Similarity.onPqAdcPlan = df => planned = df
      Similarity.ivfPqTopKAtRest(spark, dir, probe, k = 5, nProbe = 2,
        rerank = 15, candidateFilter = col("label") === 3).collect()
    } finally {
      Similarity.onPqAdcPlan = _ => ()
      spark.conf.set("spark.sql.adaptive.enabled", true)
    }
    // only label-3 neighbors may surface
    val l3 = emb.filter(col("label") === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.nonEmpty && rows.forall(r => l3.contains(r.getLong(1))),
      s"non-matching neighbor surfaced: ${rows.mkString(";")}")
    // the predicate pushed into the SAME scan the partition filter pruned:
    // the code scan reads <= nProbe of 8 list dirs AND carries the label
    // filter down to parquet
    val codeScans = planned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.schema.fieldNames.contains("pq_code") => f
    }
    assert(codeScans.nonEmpty, "ADC plan should contain the code scan")
    codeScans.foreach { s =>
      assert(s.metadata("PushedFilters").contains("label"),
        s"label filter not pushed: ${s.metadata("PushedFilters")}")
      assert(s.selectedPartitions.partitionCount <= 2,
        s"partition pruning lost: ${s.selectedPartitions.partitionCount} of 8")
    }
  }

  // NOT a universal equivalence claim: the codes-only cross-probe exact-
  // verifies only each arrival's top-IngestAdcCandidates (default 64)
  // candidates BY ADC RANK, while the full layout exact-verifies every
  // pruned row — a true near-dup ranked outside top-R by a coarse m/ksub
  // model can be admitted where the full layout would drop it (the same
  // accretion class as the nProbe caveat, healed by the recheck; the
  // ingest logs when rank truncation was live for a batch).
  test("codes-only admission decisions AGREE WITH the full layout's on " +
      "this batch (ADC nominates top-R by rank; the exact cosine decides)") {
    val root = tempDir("ivfpq_admission_eq")
    val full = root + "/full"
    val codes = root + "/codes"
    val centroids = Similarity.ivfCodebook(emb, nLists = 8)
    val pq = Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 3)
    Similarity.ivfWriteAtRest(emb, centroids, full, pqModel = pq)
    Similarity.ivfWriteAtRest(emb, centroids, codes, pqModel = pq,
      codesOnly = true)
    // a mixed batch: certain drops (exact copies), certain admits
    // (negations), and near-threshold blends whose verdicts the two
    // layouts must agree on WHATEVER they are
    val batch = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 810000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      .unionByName(emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select((col("vec_id") + 820000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(-1.0f)).as("embedding")))
      .unionByName(emb.filter(col("vec_id") >= 20 && col("vec_id") < 40)
        .select((col("vec_id") + 830000L).as("vec_id"),
          zip_with(col("embedding"), reverse(col("embedding")),
            (a, b) => a + lit(0.35f) * b).as("embedding")))
      .localCheckpoint(true)
    val nFull = Similarity.ivfIngestBatch(batch, centroids, full,
      threshold = 0.97, batchId = 0L)
    val nCodes = Similarity.ivfIngestBatch(batch, centroids, codes,
      threshold = 0.97, batchId = 0L, rerankFrom = emb)
    assert(nFull == nCodes, s"admitted counts differ: full=$nFull codes=$nCodes")
    def ids(p: String) = Similarity.ivfRead(spark, p)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids(full) == ids(codes), "admitted id sets differ between layouts")
    // sanity on the mixture: the exact copies dropped, the negations admitted
    val admitted = ids(full)
    assert((810000L until 810010L).forall(!admitted.contains(_)),
      "exact copies must drop in both layouts")
    assert((820010L until 820020L).forall(admitted.contains),
      "negated vectors must admit in both layouts")
  }

  test("driver-local training collect is byte-capped by dim " +
      "(spark.graft.ann.maxTrainBytes)") {
    val observed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    Similarity.onTrainSampleBound = (req, eff) => observed += ((req, eff))
    try {
      // dim 64 at 4 B/float = 256 B/row; an 8 KiB ceiling caps at 32 rows
      spark.conf.set(Similarity.MaxTrainBytesKey, "8192")
      val capped = Similarity.ivfTrainKmeans(emb, nLists = 8, iters = 2,
        maxTrainRows = 400)
      assert(observed.contains((400L, 32L)),
        s"expected the 400-row request clamped to 32: $observed")
      // deterministic under the clamp
      val again = Similarity.ivfTrainKmeans(emb, nLists = 8, iters = 2,
        maxTrainRows = 400)
      assert(capped == again)
      // without the conf the rows bound stands alone
      spark.conf.unset(Similarity.MaxTrainBytesKey)
      observed.clear()
      Similarity.ivfTrainKmeans(emb, nLists = 8, iters = 2, maxTrainRows = 400)
      assert(observed.contains((400L, 400L)), s"unexpected clamp: $observed")
    } finally {
      spark.conf.unset(Similarity.MaxTrainBytesKey)
      Similarity.onTrainSampleBound = (_, _) => ()
    }
  }

  test("ivfWriteAtRest rejects an idCol absent from the seed corpus " +
      "(the wrong-id mistake fails at seed time, where it is fixable)") {
    val dir = tempDir("ivf_badid") + "/corpus"
    val cents = Similarity.ivfCodebook(emb, nLists = 4)
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfWriteAtRest(emb, cents, dir, idCol = "document_id")
    }.getMessage.contains("idCol"))
    // nothing was seeded — the path stays clean for a correct retry
    Similarity.ivfWriteAtRest(emb.limit(10), cents, dir)
  }

  test("recheck ledger subtraction counts ADMISSIONS: an update-style " +
      "re-ingested id subtracts once per admission, keeping card ≡ table") {
    import spark.implicits._
    val dir = tempDir("ivf_ledger_readmit") + "/corpus"
    def at(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val cents = Seq(at(0), at(90))
    Similarity.ivfWriteAtRest(
      Seq((5L, at(0).toArray, "s0")).toDF("vec_id", "embedding", "source"),
      cents, dir, ledgerBy = "source")
    // id 100 admitted TWICE: 8.1° off the seed both times (cos ≈ 0.990 <
    // 0.9999 → admitted), 16.2° apart from each other (cos ≈ 0.96) — the
    // update-style re-ingest: n_vecs counted it twice, two physical rows
    assert(Similarity.ivfIngestBatch(
      Seq((100L, at(8.1).toArray, "s0")).toDF("vec_id", "embedding", "source"),
      cents, dir, threshold = 0.9999, batchId = 0L) == 1)
    assert(Similarity.ivfIngestBatch(
      Seq((100L, at(-8.1).toArray, "s0")).toDF("vec_id", "embedding", "source"),
      cents, dir, threshold = 0.9999, batchId = 1L) == 1)
    // recheck at 0.98 pairs (5, 100) through whichever of id 100's two
    // vectors survived the pair search's id-dedupe (both are 0.990 to the
    // seed) and removes BOTH physical admissions of id 100
    assert(Similarity.ivfRecheck(spark, dir, threshold = 0.98) == 1)
    val rows = Similarity.ivfRead(spark, dir).count()
    assert(rows == 1)
    val card = Similarity.ivfLedgerCard(spark, dir).collect().head
    assert(card.getAs[Long]("n_vecs") == rows,
      s"ledger must subtract both admissions: n_vecs=${card.getAs[Long]("n_vecs")} rows=$rows")
    assert(card.getAs[Long]("n_removed_recheck") == 2)
  }

  test("skipConventionCheck is the drifted-data escape hatch for the " +
      "raw-vs-residual heuristic") {
    val dir = tempDir("ivf_conv_skip") + "/corpus"
    val cents = Similarity.ivfCodebook(emb, nLists = 8)
    val resModel = Similarity.pqTrainResidual(emb, cents, m = 8, ksub = 16,
      iters = 3)
    // a residual-trained model declared raw is a decisive mismatch...
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfWriteAtRest(emb, cents, dir, pqModel = resModel)
    }.getMessage.contains("RESIDUAL"))
    // ...which the flag overrides when the operator knows better
    Similarity.ivfWriteAtRest(emb, cents, dir, pqModel = resModel,
      skipConventionCheck = true)
    assert(Similarity.ivfRead(spark, dir).filter(col("pq_code").isNull)
      .count() == 0)
  }

  test("filterSelectivityHint: a selective filter empties the probed " +
      "lists at fixed nProbe; the hint widens the probe and recovers") {
    import spark.implicits._
    def at(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val cents = (0 until 8).map(i => at(i * 45.0).toSeq)
    val dir = tempDir("ivf_hint") + "/corpus"
    // label-0 mass fills the probe's nearest lists; every label-1 row
    // (the filter's target) sits in a list a 2-of-8 probe never reaches —
    // the geometry-vs-payload mismatch the hint exists for
    val corpus = Seq(
      (1L, at(1), 0L), (2L, at(44), 0L), (3L, at(-44), 0L),
      (10L, at(92), 1L), (11L, at(135), 1L), (12L, at(181), 1L))
      .toDF("vec_id", "embedding", "label")
    Similarity.ivfWriteAtRest(corpus, cents, dir)
    val probe = Seq((99L, at(0))).toDF("probe_id", "probe_vec")
    val unboosted = Similarity.ivfTopKAtRest(spark, dir, probe, cents, k = 3,
      nProbe = 2, candidateFilter = col("label") === 1)
    assert(unboosted.count() == 0,
      "premise: the probed lists hold no label-1 rows at nProbe = 2")
    // hint 0.25 → ceil(2 / 0.25) = 8 = all lists (the documented floor:
    // at/below s ≈ nProbe/nLists the boost is a full-list scan)
    val boosted = Similarity.ivfTopKAtRest(spark, dir, probe, cents, k = 3,
      nProbe = 2, candidateFilter = col("label") === 1,
      filterSelectivityHint = 0.25)
    assert(boosted.collect().map(_.getLong(1)).toSet == Set(10L, 11L, 12L),
      "the widened probe must surface every matching row")
  }

  test("nLists grow-path: ivfRetrain to a larger nLists is the split " +
      "mechanism — exhaustive-probe results and the ledger survive the " +
      "transition exactly") {
    val dir = tempDir("ivf_grow") + "/corpus"
    Similarity.ivfWriteAtRest(
      emb.withColumn("src", pmod(col("label"), lit(2)).cast("string")),
      Similarity.ivfTrainKmeans(emb, nLists = 4, iters = 3), dir,
      ledgerBy = "src")
    Similarity.ivfIngestBatch(
      emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 800000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(-0.8f) + lit(0.1f))
            .as("embedding"),
          lit("s9").as("src")),
      Similarity.readCodebook(spark, dir).get, dir,
      threshold = 0.9999, batchId = 0L)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    // the equal-recall anchor: an exhaustive probe (nProbe = nLists) is
    // the exact cosine ranking — it must be IDENTICAL before and after
    // the grow rewrite (same rows, same scores, same ranks)
    val before = Similarity.ivfTopKAtRest(spark, dir, probes, k = 5,
      nProbe = 4, idCol = "vec_id", vecCol = "embedding").collect().toSeq
    val cardBefore = Similarity.ivfLedgerCard(spark, dir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_vecs")).toMap
    val newCb = Similarity.ivfRetrain(spark, dir, nLists = 8, iters = 3,
      maxTrainRows = 1024)
    assert(newCb.length == 8)
    assert(graft.operators.AtRest.readMeta(spark, dir)
      .flatMap(_.get("nLists")).contains("8"),
      "meta must record the grown list count")
    val after = Similarity.ivfTopKAtRest(spark, dir, probes, k = 5,
      nProbe = 8, idCol = "vec_id", vecCol = "embedding").collect().toSeq
    assert(before == after,
      s"exhaustive probe drifted across the grow transition:\n$before\n$after")
    val cardAfter = Similarity.ivfLedgerCard(spark, dir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_vecs")).toMap
    assert(cardBefore == cardAfter,
      s"ledger drifted across the grow transition: $cardBefore vs $cardAfter")
    // a pruned probe against the grown table still serves from its own
    // (re-trained) neighborhood — the steady-state read path
    val target = emb.filter(col("vec_id") === 7)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val hit = Similarity.ivfTopKAtRest(spark, dir, target, k = 1,
      nProbe = 2, idCol = "vec_id", vecCol = "embedding").collect()
    assert(hit.nonEmpty,
      "pruned probe lost its own neighborhood after the grow")
  }

  test("a zero-norm embedding never hijacks top-k (cosine is 0, not NaN)") {
    import spark.implicits._
    val corpus = (Seq((0L, Array.fill(8)(0.0f))) ++           // failed/padded row
      (1L to 20L).map(i => (i, Array.tabulate(8)(d => (((i + d) % 5) + 1).toFloat))))
      .toDF("vec_id", "embedding")
    val probes = corpus.filter($"vec_id" === 1L)
      .select($"vec_id".as("probe_id"), $"embedding".as("probe_vec"))
    val top = graft.operators.Similarity.bruteForceTopK(corpus, probes, k = 3)
      .collect()
    assert(top.nonEmpty)
    assert(!top.exists(_.getAs[Long]("neighbor_id") == 0L),
      "zero vector returned as a neighbor: " + top.mkString(","))
    assert(top.forall(r => !r.getAs[Double]("cosine").isNaN))
  }
}
