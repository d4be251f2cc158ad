package perfbench

import java.io.File

/**
 * The traced run's per-layer metrics, in `BENCHMARK.json` order. Every
 * workload reports all of them; a layer a workload never calls reads 0.
 * Times and counts are per operation (one search, one full-table
 * aggregate, or one lifecycle round of a text and a vector micro-batch)
 * unless marked `Once`; ratios are taken over the sums of all traced
 * operations.
 */
object Layers {
  sealed trait How
  case object PerOp extends How
  case object Once extends How
  final case class Ratio(num: String, den: String) extends How

  final case class Layer(name: String, unit: String, how: How = PerOp)

  val All: Seq[Layer] = Seq(
    Layer("catalyst.analysis_ms", "ms"),
    Layer("catalyst.optimization_ms", "ms"),
    Layer("catalyst.planning_ms", "ms"),
    Layer("zarr.meta.infer_ms", "ms"),
    Layer("zarr.stats.read_ms", "ms"),
    Layer("sources.scan.plan_ms", "ms"),
    Layer("sources.scan.ranges_kept_ratio", "ratio", Ratio("ranges.kept", "ranges.all")),
    Layer("sources.scan.chunks_read_per_chunk_needed", "ratio",
      Ratio("chunks.read", "chunks.needed")),
    Layer("sources.scan.rows_scanned_per_row_returned", "ratio",
      Ratio("rows.scanned", "rows.returned")),
    Layer("zarr.store.requests", "count"),
    Layer("zarr.store.bytes_read", "bytes"),
    Layer("zarr.store.fetch_ms", "ms"),
    Layer("zarr.codecs.decode_ms", "ms"),
    Layer("zarr.codecs.chunks_decoded", "count"),
    Layer("sources.reader.fill_ms", "ms"),
    Layer("functions.geo.wkt_ms", "ms"),
    Layer("functions.geo.rows_evaluated", "count"),
    Layer("plans.bbox_pushed_ratio", "ratio"),
    Layer("sources.write.ms", "ms", Once),
    Layer("sources.write.files_created", "count", Once),
    Layer("sources.write.renames", "count", Once),
    Layer("sources.write.bytes_written_per_user_byte", "ratio", Once),
    Layer("spark.jobs", "count"),
    Layer("spark.tasks", "count"),
    Layer("spark.executor_run_ms", "ms"),
    Layer("spark.executor_cpu_ms", "ms"),
    Layer("spark.gc_ms", "ms"),
    Layer("spark.shuffle_bytes", "bytes"),
    Layer("spark.driver_only_ms", "ms"),
    Layer("operators.dedup.ingest_ms", "ms"),
    Layer("operators.dedup.compact_ms", "ms", Once),
    Layer("operators.dedup.recheck_ms", "ms", Once),
    Layer("operators.similarity.ingest_ms", "ms"),
    Layer("operators.similarity.compact_ms", "ms", Once),
    Layer("operators.atrest.files_created", "count"),
    Layer("operators.atrest.renames", "count"),
    Layer("operators.atrest.deletes", "count"),
    Layer("operators.atrest.bytes_written_per_ingested_byte", "ratio",
      Ratio("atrest.bytes_written", "atrest.ingested_bytes")),
    Layer("trace.overhead_ms", "ms", Once))

  /** Span names whose self time is a layer's time. */
  private val SelfTimed = Map(
    "zarr.meta.infer" -> "zarr.meta.infer_ms",
    "zarr.stats.read" -> "zarr.stats.read_ms",
    "sources.scan.plan" -> "sources.scan.plan_ms",
    "zarr.codecs.decode" -> "zarr.codecs.decode_ms",
    "sources.reader.fill" -> "sources.reader.fill_ms",
    "functions.geo.wkt" -> "functions.geo.wkt_ms")

  /** Operator spans: their wall time (Spark jobs included) is the layer's. */
  private val WallTimed = Map(
    "operators.dedup.ingest" -> "operators.dedup.ingest_ms",
    "operators.dedup.compact" -> "operators.dedup.compact_ms",
    "operators.dedup.recheck" -> "operators.dedup.recheck_ms",
    "operators.similarity.ingest" -> "operators.similarity.ingest_ms",
    "operators.similarity.compact" -> "operators.similarity.compact_ms")

  def metrics(acc: LayerAcc, ops: Double): Seq[Metric] = All.map { l =>
    val v = l.how match {
      case PerOp => if (ops == 0) 0.0 else acc(l.name) / ops
      case Once => acc(l.name)
      case Ratio(num, den) => acc.ratio(num, den)
    }
    Metric(l.name, v, l.unit)
  }

  /** Spark totals over the traced operations, from the tracer's listener;
   *  `opWalls` are the operations' (start, end) in epoch microseconds. */
  def sparkTotals(acc: LayerAcc, tracer: Tracer, before: Tracer#Totals,
      opWalls: Seq[(Long, Long)]): Unit = {
    val t = tracer.totals
    acc.add("spark.jobs", t.jobs - before.jobs)
    acc.add("spark.tasks", t.tasks - before.tasks)
    acc.add("spark.executor_run_ms", t.runMs - before.runMs)
    acc.add("spark.executor_cpu_ms", t.cpuMs - before.cpuMs)
    acc.add("spark.gc_ms", t.gcMs - before.gcMs)
    acc.add("spark.shuffle_bytes", t.shuffleBytes - before.shuffleBytes)
    val stages = tracer.all.filter(_.name == "spark.stage").map(s => (s.startUs, s.endUs))
    acc.add("spark.driver_only_ms", Tracer.uncoveredMs(opWalls, stages))
  }

  /** Adds the span-timed layers to `acc`, writes the spans to `spanFile`,
   *  and returns the extra report lines: self time per span name (ms per
   *  operation) and where the spans went. */
  def spanReport(acc: LayerAcc, tracer: Tracer, ops: Int, spanFile: File): Seq[(String, String)] = {
    val spans = tracer.all
    val self = Tracer.selfTimes(spans)
    SelfTimed.foreach { case (span, metric) => acc.add(metric, self.getOrElse(span, 0.0)) }
    spans.groupBy(_.name).foreach { case (name, ss) =>
      WallTimed.get(name).foreach(acc.add(_, ss.map(_.durUs).sum / 1000.0))
    }
    tracer.write(spanFile)
    val perOp = self.toSeq.sortBy(-_._2).map { case (n, ms) =>
      f""""$n": ${ms / math.max(ops, 1)}%.3f""" }
    Seq("self_ms_per_op" -> perOp.mkString("{", ", ", "}"),
      "spans" -> s""""${spanFile.getPath}"""")
  }
}
