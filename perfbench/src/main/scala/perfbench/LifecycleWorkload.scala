package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{DedupIndex, Similarity}

import Main.{median, quantile, timeMs}

object LifecycleWorkload {
  val Bootstrap = 1000
  val BatchSize = 100
  val DupsPerBatch = 10
  val Lists = 8
  /** Partitions of every at-rest table, one per core of `local[4]`. */
  val Parts = 4
  /** Timed bootstraps. The first also loads classes and warms the JIT, as
   *  a user's first bootstrap does. */
  val SetupReps = 2
  /** Untimed rounds after the first bootstrap. The JIT needs ~5 rounds to
   *  settle (a first round costs ~1.9 settled ones, a second ~1.25, a third
   *  ~1.1), and how fast the host compiles must not set the round latency. */
  val WarmupRounds = 2
  /** Timed rounds. A round is ~75 Spark jobs whose cost hardly shrinks with
   *  the batch, so a run affords few. */
  val MinRounds = 3

  final case class Roots(dir: File) {
    val index: String = BenchFs.uri(new File(dir, "index").getPath)
    val corpus: String = BenchFs.uri(new File(dir, "corpus").getPath)
    val vectors: String = BenchFs.uri(new File(dir, "vectors").getPath)
  }
}

/**
 * `dedup_lifecycle`: a seeded text corpus and vector table bootstrapped at
 * rest, then a closed loop of lifecycle rounds, each one text micro-batch
 * (`DedupIndex.ingestBatch`) and one vector micro-batch
 * (`Similarity.ivfIngestBatch`) with planted near-duplicates, and at the
 * end one maintenance pass (`DedupIndex.compact`,
 * `DedupIndex.recheckIncremental`, `Similarity.ivfCompactAtRest`). All
 * at-rest roots live on [[BenchFs]], which counts their file operations.
 */
final class LifecycleWorkload(spark: SparkSession, a: Main.Args) {
  import LifecycleWorkload._
  import spark.implicits._

  private val lc = Gen.Lifecycle(a.seed, Bootstrap, BatchSize, DupsPerBatch)
  private val stats = new OpStats
  private val acc = new LayerAcc
  private var tracer: Tracer = null

  /** Runs `body` in a span of traced operation `op`; op 0 is untraced. */
  private def layer[T](name: String, op: Long)(body: => T): T =
    if (op == 0) body else tracer.span(name, op)(body)

  private def docs(ids: Seq[Long], planted: Map[Long, Long]): DataFrame =
    ids.map(id => (id, lc.text(id, planted))).toDF("doc_id", "text")
  private def vecs(ids: Seq[Long], planted: Map[Long, Long]): DataFrame =
    ids.map(id => (id, lc.vector(id, planted).toSeq)).toDF("vec_id", "embedding")
  private def userBytes(ids: Seq[Long], planted: Map[Long, Long]): Long =
    ids.map(id => 8L + lc.text(id, planted).getBytes("UTF-8").length + 8L + 4L * Gen.Dim).sum

  private def bootstrap(r: Roots): Seq[Seq[Float]] = {
    val d = docs(lc.bootstrapIds, Map.empty)
    DedupIndex.writeCorpus(d, r.corpus, nParts = Parts)
    DedupIndex.writeAtRest(d, r.index, nParts = Parts)
    val v = vecs(lc.bootstrapIds, Map.empty)
    val cb = Similarity.ivfCodebook(v, nLists = Lists)
    Similarity.ivfWriteAtRest(v, cb, r.vectors)
    cb
  }

  /** One checked micro-batch pair of round `r` on `roots`; returns
   *  the text and vector latencies in ms. */
  private def ingest(roots: Roots, codebook: Seq[Seq[Float]], r: Long,
      op: Long): (Double, Double) = {
    val b = lc.batch(r.toInt)
    val planted = b.planted.toMap
    val (nText, tMs) = timeMs(layer("operators.dedup.ingest", op)(
      DedupIndex.ingestBatch(docs(b.ids, planted), roots.index, roots.corpus, batchId = r,
        nParts = Parts, corpusParts = Parts)))
    stats.check(nText == b.admitted, s"text batch $r admitted $nText, want ${b.admitted}")
    stats.attempted += 1
    val (nVec, vMs) = timeMs(layer("operators.similarity.ingest", op)(
      Similarity.ivfIngestBatch(vecs(b.ids, planted), codebook, roots.vectors, batchId = r)))
    stats.check(nVec == b.admitted, s"vector batch $r admitted $nVec, want ${b.admitted}")
    Main.log(f"round $r: text $tMs%.0f ms, vector $vMs%.0f ms")
    (tMs, vMs)
  }

  def run(): Result = {
    // after the first bootstrap, untimed, checked rounds on its tables
    // JIT-compile the ingest paths and fill Spark's code cache for the plans
    // every timed round runs
    val setups = (0 until SetupReps).map { i =>
      val r = Roots(new File(a.work, s"atrest-$i"))
      val (cb, ms) = timeMs(bootstrap(r))
      Main.log(f"bootstrap $i: $ms%.0f ms")
      if (i == 0) (0 until WarmupRounds).foreach(w =>
        maintain(s"warm-up round $w")(ingest(r, cb, w, 0)))
      (r, cb, ms)
    }
    Main.log("set-up done")
    setups.init.foreach(s => Main.deleteRecursively(s._1.dir))
    val (roots, codebook, _) = setups.last
    val setupMs = median(setups.map(_._3))

    val textMs = mutable.ArrayBuffer.empty[Double]
    val vecMs = mutable.ArrayBuffer.empty[Double]
    var admitted = Seq.empty[Long]
    var submittedBytes = userBytes(lc.bootstrapIds, Map.empty)

    def round(r: Long, op: Long): Unit = {
      val b = lc.batch(r.toInt)
      val planted = b.planted.toMap
      val bytes = userBytes(b.ids, planted)
      submittedBytes += bytes
      acc.add("atrest.ingested_bytes", bytes)
      admitted ++= b.ids.filterNot(planted.contains)
      val (tMs, vMs) = ingest(roots, codebook, r, op)
      if (op == 0) { textMs += tMs; vecMs += vMs }
    }

    val lat = mutable.ArrayBuffer.empty[Double]
    val extra = mutable.ArrayBuffer.empty[(String, String)]
    val opWalls = mutable.ArrayBuffer.empty[(Long, Long)]
    if (!a.trace) lat ++= Main.closedLoop(a.seconds, MinRounds, 0L, stats)(r => round(r, 0))
    else {
      tracer = new Tracer(spark, "fs.request")
      tracer.start()
      val before = tracer.totals.copy()
      // the difference of the two sets' medians is the cost of tracing; a
      // round is slow, so the least is one round of each
      Main.closedLoop(a.seconds, 2, 0L, stats) { r =>
        if (!Main.tracedTurn(r)) lat += timeMs(round(r, 0))._2
        else {
          val op = tracer.newOp()
          val io0 = BenchFs.counters.snapshot()
          val t0 = tracer.nowUs()
          tracer.opSpan(op)(round(r, op))
          opWalls += t0 -> tracer.nowUs()
          val io = BenchFs.counters.snapshot() - io0
          acc.add("operators.atrest.files_created", io.creates)
          acc.add("operators.atrest.renames", io.renames)
          acc.add("operators.atrest.deletes", io.deletes)
          acc.add("atrest.bytes_written", io.bytesWritten)
        }
      }
      tracer.drain()
      Layers.sparkTotals(acc, tracer, before, opWalls.toSeq)
    }
    val textP50 = median(textMs.toSeq)
    val vecP50 = median(vecMs.toSeq)
    val samples = lat.toSeq
    val traced = opWalls.map { case (t0, t1) => (t1 - t0) / 1000.0 }.toSeq

    Main.log("rounds done")
    val maintOp = if (a.trace) tracer.newOp() else 0L
    val (_, maintMs) = timeMs {
      maintain("compact")(layer("operators.dedup.compact", maintOp)(
        DedupIndex.compact(spark, roots.index, nParts = Parts)))
      maintain("recheck") {
        val removed = layer("operators.dedup.recheck", maintOp)(
          DedupIndex.recheckIncremental(spark, roots.corpus, roots.index, nParts = Parts,
            corpusParts = Parts))
        stats.check(removed == 0, s"recheck removed $removed documents, want 0")
      }
      maintain("vector compact")(layer("operators.similarity.compact", maintOp)(
        Similarity.ivfCompactAtRest(spark, roots.vectors)))
    }
    if (a.trace) {
      tracer.stop()
      extra ++= Layers.spanReport(acc, tracer, traced.length,
        new File(a.out, s"spans-dedup_lifecycle-${a.seed}.jsonl"))
    }

    Main.log("maintenance done")
    // the tables must hold exactly the bootstrap plus every admitted item
    val want = (lc.bootstrapIds ++ admitted).toSet
    maintain("corpus contents") {
      val got = DedupIndex.readCorpus(spark, roots.corpus).select("doc_id").as[Long].collect()
      stats.check(got.length == want.size && got.toSet == want,
        s"corpus holds ${got.length} documents, want ${want.size}")
    }
    maintain("vector table contents") {
      val got = Similarity.ivfRead(spark, roots.vectors).select("vec_id").as[Long].collect()
      stats.check(got.length == want.size && got.toSet == want,
        s"vector table holds ${got.length} vectors, want ${want.size}")
    }
    val stored = Main.du(roots.dir)

    val e2e = Seq(
      Metric("setup_s", setupMs / 1000.0, "s"),
      Metric("op_p50_ms", median(samples), "ms"),
      Metric("op_p90_ms", quantile(samples, 0.9), "ms"),
      Metric("write_mrows_per_s", 2.0 * Bootstrap / setupMs / 1000.0, "Mrows/s"),
      Metric("bytes_stored_per_user_byte", stored.toDouble / submittedBytes, "ratio"),
      Metric("peak_rss_mb", Main.peakRssMb(), "MB"))
    val report = Seq(e2e.head, Metric("text_ingest_p50_ms", textP50, "ms"),
      Metric("vector_ingest_p50_ms", vecP50, "ms"),
      Metric("maintenance_s", maintMs / 1000.0, "s"),
      Metric("round_samples", samples.length, "count")) ++ e2e.drop(3) :+
      Metric("error_rate", stats.failed.toDouble / stats.attempted, "ratio")
    if (!a.trace) Result(stats, e2e, report)
    else {
      acc.add("trace.overhead_ms", median(traced) - median(samples))
      Result(stats, Layers.metrics(acc, traced.length), report, extra.toSeq)
    }
  }

  /** One checked maintenance or verification step; it throws → failed. */
  private def maintain(what: String)(body: => Unit): Unit = {
    stats.attempted += 1
    try body catch { case NonFatal(e) => stats.fail(what, e) }
  }
}
