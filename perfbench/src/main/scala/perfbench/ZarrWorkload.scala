package perfbench

import java.io.File
import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, In, LessThanOrEqual}

import graft.functions.Wkt
import graft.sources.{ZarrInputPartition, ZarrPruning, ZarrScan}
import graft.zarr._

import Main.{median, quantile, timeMs}

object ZarrWorkload {
  /** `delayMs` is added to every open and positioned read of the store;
   *  the store holds [[Rows]] rows in chunks of `chunkRows`. */
  final case class Kind(name: String, delayMs: Long, chunkRows: Int) {
    /** Four chunks per scan range: ranges merge chunks before pruning, so a
     *  range is read whole when any one of its chunks may match. */
    def rangeRows: Int = 4 * chunkRows
  }
  /** 16 chunks, 4 ranges: a kept range is 32,768 rows, which makes the
   *  decode and WKT work of kept ranges a large share of a search. */
  val StacSearch = Kind("stac_search", 0L, 8192)
  /** 32 chunks, each column's chunk a separate delayed request, so fetch
   *  outweighs decode. */
  val ScanRemote = Kind("scan_remote", 20L, 4096)

  val Rows = 131072
  val Collections = 8
  val Group = "/stac"
  /** Timed writes, after one small untimed one that loads classes and warms
   *  the JIT. */
  val SetupReps = 2
  val BatchRows = 4096

  /** Writes archive `g` through the DSv2 Zarr write path, one task per chunk. */
  def write(spark: SparkSession, g: Gen.Stac, chunkRows: Int, uri: String): Unit = {
    import spark.implicits._
    spark.range(0, g.rows, 1, (g.rows + chunkRows - 1) / chunkRows)
      .map(i => (i, g.id(i), g.collection(g.collectionOf(i)), ldt(g.dateMs(i)), g.wkt(i)))
      .toDF("idx", "id", "collection", "date", "bbox")
      .write.format("zarr").option("group", Group).option("row_index", "idx")
      .option("chunk_rows", chunkRows.toString)
      .mode("overwrite").save(uri)
  }

  def ldt(ms: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(Math.floorDiv(ms, 1000L), Math.floorMod(ms, 1000L).toInt * 1000000,
      ZoneOffset.UTC)
  def epochMs(t: LocalDateTime): Long =
    t.toEpochSecond(ZoneOffset.UTC) * 1000L + t.getNano / 1000000

  private def ts(ms: Long): String = "TIMESTAMP_NTZ '" + ldt(ms).toString.replace('T', ' ') + "'"
  private def bboxSql(q: Array[Long]): String =
    s"bbox_intersects(bbox, ${q.map(Gen.Stac.e4).mkString(", ")})"

  /** A search as the engine's user writes it: the ids of the items whose
   *  collection, date and footprint match. */
  def search(table: DataFrame, s: Gen.Search): DataFrame = {
    val conj = Seq(
      Option.when(s.collections.nonEmpty)(
        s.collections.map(c => s"'$c'").mkString("collection IN (", ", ", ")")),
      s.dates.map { case (lo, hi) => s"date BETWEEN ${ts(lo)} AND ${ts(hi)}" },
      Some(bboxSql(s.boxE4))).flatten
    table.where(conj.mkString(" AND ")).select("id")
  }

  /** Per collection: row count, latest date, and rows whose footprint
   *  intersects `q`. No predicate, so no range can be pruned. */
  def aggregate(table: DataFrame, q: Array[Long]): DataFrame = table.groupBy("collection").agg(
    count(lit(1)).as("n"), max("date").as("last"),
    sum(when(expr(bboxSql(q)), 1L).otherwise(0L)).as("hits"))

  /** A collected aggregate in the shape of [[Gen.StacRecords.expectedAggregate]]. */
  def aggregateAnswer(rows: Array[Row]): Map[String, (Long, Long, Long)] =
    rows.map(r => r.getString(0) ->
      (r.getLong(1), epochMs(r.getAs[LocalDateTime](2)), r.getLong(3))).toMap
}

/**
 * `stac_search` and `scan_remote`: a seeded STAC archive written through
 * the DSv2 Zarr write path, then a closed loop of searches (three
 * selectivity classes) or of unprunable full-table aggregates read through
 * [[BenchFs]] with a per-request delay.
 */
final class ZarrWorkload(spark: SparkSession, a: Main.Args, kind: ZarrWorkload.Kind) {
  import ZarrWorkload._

  private val stac = Gen.Stac(a.seed, Rows, Collections)
  private val stats = new OpStats
  private val acc = new LayerAcc
  private var tracer: Tracer = null

  private var uri: String = _
  /** The same store addressed without [[BenchFs]]: the traced mode's probe
   *  and replay read it, so they pay no delay and record no fetch spans. */
  private var localUri: String = _
  private var localStore: ZarrStore = _
  private lazy val metas: Map[String, ZarrArrayMeta] =
    ZarrSchema.listArrays(localStore, Group).map(m => m.name -> m).toMap
  private def hadoopConf = spark.sessionState.newHadoopConf()

  private def read(at: String): DataFrame = spark.read.format("zarr").option("group", Group)
    .option("target_partition_rows", kind.rangeRows.toString).load(at)

  /** The aggregate box: a 30°×30° box in a seeded collection's region. */
  private lazy val aggBox: Array[Long] = {
    val (ox, oy) = stac.regionOrigin((Gen.hash(a.seed, 77) & 7).toInt % Collections)
    Array(ox + 50000L, oy + 50000L, ox + 350000L, oy + 350000L)
  }

  // answers are checked after the timed loop, against the records
  private val searchAnswers = mutable.ArrayBuffer.empty[(Long, Gen.Answer)]
  private val aggAnswers = mutable.ArrayBuffer.empty[Map[String, (Long, Long, Long)]]

  private def op(k: Long): (DataFrame, Long) = kind match {
    case StacSearch =>
      val df = search(read(uri), Gen.search(stac, k))
      val ids = df.collect().map(_.getLong(0))
      searchAnswers += k -> Gen.Answer(ids.length, Gen.idChecksum(ids.iterator))
      (df, ids.length.toLong)
    case _ =>
      val df = aggregate(read(uri), aggBox)
      val rows = df.collect()
      aggAnswers += aggregateAnswer(rows)
      (df, rows.length.toLong)
  }

  private def checkAnswers(): Unit = {
    val rec = new Gen.StacRecords(stac)
    searchAnswers.foreach { case (k, got) =>
      val s = Gen.search(stac, k)
      val want = rec.expected(s)
      stats.check(got == want, s"search $k (${s.kind}): got $got, want $want")
    }
    if (aggAnswers.nonEmpty) {
      val want = rec.expectedAggregate(aggBox)
      aggAnswers.zipWithIndex.foreach { case (got, i) =>
        stats.check(got == want, s"aggregate $i: got $got, want $want")
      }
    }
  }

  def run(): Result = {
    // set-up: write the archive SetupReps times, keep the last store
    val warmDir = new File(a.work, "store-warmup")
    write(spark, stac.copy(rows = Rows / 8), kind.chunkRows, BenchFs.uri(warmDir.getPath))
    Main.deleteRecursively(warmDir)
    val setups = (0 until SetupReps).map { r =>
      val dir = new File(a.work, s"store-$r")
      val before = BenchFs.counters.snapshot()
      val (_, ms) = timeMs(write(spark, stac, kind.chunkRows, BenchFs.uri(dir.getPath)))
      (dir, ms, BenchFs.counters.snapshot() - before)
    }
    Main.log("set-up done")
    setups.init.foreach(s => Main.deleteRecursively(s._1))
    val (dir, _, writeIo) = setups.last
    uri = BenchFs.uri(dir.getPath)
    localUri = dir.toURI.toString
    localStore = new ZarrStore(localUri, hadoopConf)
    val writeMs = median(setups.map(_._2))
    val userBytes = (0L until Rows).iterator.map(stac.userBytes).sum
    val storedBytes = Main.du(dir)

    BenchFs.delayMs = kind.delayMs
    val (warm, minOps) = if (kind == StacSearch) (3, 100) else (1, 4)
    val untimed = Main.closedLoop(0, warm, 0L, stats)(op)
    val k = untimed.length.toLong
    val lat = mutable.ArrayBuffer.empty[Double]
    val extra = mutable.ArrayBuffer.empty[(String, String)]
    val opWalls = mutable.LinkedHashMap.empty[Long, (Long, Long)]
    if (!a.trace) lat ++= Main.closedLoop(a.seconds, minOps, k, stats)(op)
    else {
      tracer = new Tracer(spark, "zarr.store.fetch")
      tracer.start()
      val before = tracer.totals.copy()
      Main.closedLoop(a.seconds, math.max(2, minOps / 5), k, stats) { kk =>
        if (!Main.tracedTurn(kk - k)) lat += timeMs(op(kk))._2
        else {
          val id = tracer.newOp()
          val io0 = BenchFs.counters.snapshot()
          val t0 = tracer.nowUs()
          val (df, returned) = tracer.opSpan(id)(op(kk))
          opWalls(id) = t0 -> tracer.nowUs()
          traceOp(id, kk, df, returned, BenchFs.counters.snapshot() - io0)
        }
      }
      tracer.stop()
      Layers.sparkTotals(acc, tracer, before, opWalls.values.toSeq)
      extra ++= Layers.spanReport(acc, tracer, opWalls.size,
        new File(a.out, s"spans-${kind.name}-${a.seed}.jsonl"))
      extra += "latency_split" -> latencySplit(opWalls.toMap)
    }
    BenchFs.delayMs = 0L
    val samples = lat.toSeq
    Main.log("loop done")
    checkAnswers()
    Main.log("answers checked")

    val e2e = Seq(
      Metric("setup_s", writeMs / 1000.0, "s"),
      Metric("op_p50_ms", median(samples), "ms"),
      Metric("op_p90_ms", quantile(samples, 0.9), "ms"),
      Metric("write_mrows_per_s", Rows / writeMs / 1000.0, "Mrows/s"),
      Metric("bytes_stored_per_user_byte", storedBytes.toDouble / userBytes, "ratio"),
      Metric("peak_rss_mb", Main.peakRssMb(), "MB"))
    val named = kind match {
      case StacSearch => Seq(
        Metric("search_p50_ms", median(samples), "ms"),
        Metric("search_p90_ms", quantile(samples, 0.9), "ms"),
        Metric("search_samples", samples.length, "count"))
      case _ => Seq(
        Metric("remote_scan_mrows_per_s", Rows / median(samples) / 1000.0, "Mrows/s"),
        Metric("scan_samples", samples.length, "count"))
    }
    val report = e2e.filter(m => Set("setup_s", "write_mrows_per_s",
      "bytes_stored_per_user_byte", "peak_rss_mb")(m.name)) ++ named :+
      Metric("error_rate", stats.failed.toDouble / stats.attempted, "ratio")
    if (!a.trace) return Result(stats, e2e, report)

    val traced = opWalls.values.map { case (t0, t1) => (t1 - t0) / 1000.0 }.toSeq
    acc.add("sources.write.ms", writeMs)
    acc.add("sources.write.files_created", writeIo.creates)
    acc.add("sources.write.renames", writeIo.renames)
    acc.add("sources.write.bytes_written_per_user_byte", writeIo.bytesWritten.toDouble / userBytes)
    acc.add("trace.overhead_ms", median(traced) - median(samples))
    Result(stats, Layers.metrics(acc, traced.length), report, extra.toSeq)
  }

  // ------------------------------------------------------------ traced mode

  /** Where traced operations spend their time, at the median and in the
   *  tail: driver time (the executed query's Catalyst phases, and the
   *  planning layers as probed) against the replayed scan layers (decode,
   *  fill, WKT) and the Spark tasks' summed run time. Averaged over the
   *  operations whose latency ranks between the 40th and 60th percentiles
   *  (`p50`) and at or above the 90th (`p90`). */
  private def latencySplit(walls: Map[Long, (Long, Long)]): String = {
    val byOp = tracer.all.groupBy(_.op)
    val perOp = walls.toSeq.map { case (op, (t0, t1)) =>
      val spans = byOp.getOrElse(op, Nil)
      val self = Tracer.selfTimes(spans)
      def selfMs(names: String*) = names.map(self.getOrElse(_, 0.0)).sum
      def wallMs(p: Span => Boolean) = spans.filter(p).map(_.durUs).sum / 1000.0
      Seq("op_ms" -> (t1 - t0) / 1000.0,
        "catalyst_ms" -> wallMs(_.name.startsWith("catalyst.")),
        "planning_ms" -> selfMs("zarr.meta.infer", "zarr.stats.read", "sources.scan.plan"),
        "decode_ms" -> selfMs("zarr.codecs.decode"),
        "fill_ms" -> selfMs("sources.reader.fill"),
        "wkt_ms" -> selfMs("functions.geo.wkt"),
        "task_ms" -> wallMs(_.name == "spark.task"))
    }
    val ranked = perOp.sortBy(_.head._2)
    def band(lo: Double, hi: Double): String = {
      val last = ranked.length - 1
      val in = ranked.slice((lo * last).floor.toInt, (hi * last).ceil.toInt + 1)
      (("ops" -> in.length.toDouble) +: in.head.indices.map { i =>
        in.head(i)._1 -> in.map(_(i)._2).sum / in.length
      }).map { case (n, v) => f""""$n": $v%.2f""" }.mkString("{", ", ", "}")
    }
    s"""{"p50": ${band(0.4, 0.6)}, "p90": ${band(0.9, 1.0)}}"""
  }

  /** Per-operation layer measurements, taken after the operation's latency
   *  was recorded: Catalyst phases from the executed query, then the
   *  planning layers called directly, then the kept ranges replayed
   *  through fetch, decode, fill and WKT evaluation. */
  private def traceOp(op: Long, k: Long, df: DataFrame, returned: Long,
      io: BenchFs.Snapshot): Unit = {
    df.queryExecution.tracker.phases.foreach { case (phase, p) =>
      acc.add(s"catalyst.${phase}_ms", p.durationMs)
      tracer.record(s"catalyst.$phase", op, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }
    acc.add("zarr.store.requests", io.requests)
    acc.add("zarr.store.bytes_read", io.bytesRead)
    acc.add("zarr.store.fetch_ms", io.fetchMs)

    val search = if (kind == StacSearch) Some(Gen.search(stac, k)) else None
    val (scan, ranges, chunkStats) = tracer.span("trace.probe", op) {
      tracer.span("zarr.meta.infer", op)(ZarrSchema.infer(localStore, Group))
      val st = tracer.span("zarr.stats.read", op)(ZarrStats.read(localStore, Group))
        .getOrElse(throw new IllegalStateException("store has no stats sidecar"))
      val table = read(localUri)
      val fresh = search.fold(aggregate(table, aggBox))(ZarrWorkload.search(table, _))
      val scan = fresh.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.scan
      }.collect { case z: ZarrScan => z }
        .getOrElse(throw new IllegalStateException("no Zarr scan in the plan"))
      val parts = tracer.span("sources.scan.plan", op)(scan.toBatch.planInputPartitions())
      (scan, parts.map { case p: ZarrInputPartition => (p.start, p.end) }.toSeq, st)
    }
    acc.add("plans.bbox_pushed_ratio", if (scan.description().contains("PushedBbox")) 1 else 0)
    acc.add("ranges.kept", ranges.length)
    acc.add("ranges.all", (Rows + kind.rangeRows - 1) / kind.rangeRows)
    acc.add("chunks.read",
      ranges.map { case (s, e) => (e - s + kind.chunkRows - 1) / kind.chunkRows }.sum)
    acc.add("chunks.needed", chunksNeeded(chunkStats, search))
    acc.add("rows.scanned", ranges.map { case (s, e) => e - s }.sum)
    acc.add("rows.returned", returned)
    replay(op, ranges, scan.readSchema().fieldNames.toSeq, search)
  }

  /** Chunks the sidecar cannot rule out for the search: its per-chunk
   *  min/max stats under the search's pushed filters ([[ZarrPruning]]),
   *  and its per-chunk envelopes under the query box. Computed per chunk,
   *  independently of how the scan groups chunks into ranges. */
  private def chunksNeeded(st: StoreChunkStats, search: Option[Gen.Search]): Long =
    search.fold(st.nChunks.toLong) { s =>
      val filters: Seq[Filter] =
        Option.when(s.collections.nonEmpty)(In("collection", s.collections.toArray[Any])).toSeq ++
          s.dates.toSeq.flatMap { case (lo, hi) =>
            Seq(GreaterThanOrEqual("date", ldt(lo)), LessThanOrEqual("date", ldt(hi)))
          }
      val env = st.envelopes.get("bbox")
      val q = s.box
      (0 until st.nChunks).count { i =>
        val (lo, hi) = (i.toLong * st.chunkRows, (i + 1).toLong * st.chunkRows)
        val statsOf: String => Option[ZarrPruning.RangeStats] = c =>
          metas.get(c).flatMap(m => ZarrPruning.rangeStats(st, c, m.dtype, lo, hi))
        val e = env.map(_(i)).orNull
        !filters.exists(ZarrPruning.skippable(_, statsOf)) &&
          (e == null || !(e(2) < q(0) || e(0) > q(2) || e(3) < q(1) || e(1) > q(3)))
      }.toLong
    }

  private lazy val vectors: Map[String, OnHeapColumnVector] = metas.map { case (n, m) =>
    n -> new OnHeapColumnVector(BatchRows, ZarrSchema.columnType(m))
  }

  /** Replays each kept range through the reader's public steps: fetch the
   *  chunk object (from the local store, so the replay pays no injected
   *  delay), decode it, fill column vectors batch by batch, and evaluate
   *  the bbox predicate on the rows the other conjuncts keep, as Spark's
   *  filter evaluates conjuncts left to right. */
  private def replay(op: Long, ranges: Seq[(Long, Long)], cols: Seq[String],
      search: Option[Gen.Search]): Unit = tracer.span("trace.replay", op) {
    val q = search.fold(aggBox)(_.boxE4).map(_ / 1e4)
    val dateLimits = search.flatMap(_.dates).map { case (lo, hi) => (lo * 1000L, hi * 1000L) }
    val wanted = search.map(_.collections.toSet).filter(_.nonEmpty)
    ranges.foreach { case (start, end) =>
      (start until end by kind.chunkRows.toLong).foreach { first =>
        val ci = first / kind.chunkRows
        val chunks = cols.map { c =>
          val m = metas(c)
          val raw = tracer.span("replay.fetch", op)(localStore.readBytesIfExists(m.chunkPath(ci)))
          val chunk = tracer.span("zarr.codecs.decode", op)(ZarrCodecs.decodeChunk(raw, m))
          acc.add("zarr.codecs.chunks_decoded", 1)
          val vec = vectors(c)
          tracer.span("sources.reader.fill", op) {
            var off = 0
            while (off < chunk.length) {
              val n = math.min(BatchRows, chunk.length - off)
              vec.reset()
              chunk.writeTo(vec, 0, off, n)
              off += n
            }
          }
          c -> chunk
        }.toMap
        val n = math.min(kind.chunkRows.toLong, end - first).toInt
        val (evaluated, matched) = tracer.span("functions.geo.wkt", op) {
          var count = 0L
          var hits = 0L
          var i = 0
          while (i < n) {
            val keep = wanted.forall(_.contains(chunks("collection").get(i).toString)) &&
              dateLimits.forall { case (lo, hi) =>
                val d = chunks("date").get(i).asInstanceOf[Long]; d >= lo && d <= hi }
            if (keep) {
              if (Wkt.envelopeIntersects(chunks("bbox").get(i).toString, q(0), q(1), q(2), q(3)))
                hits += 1
              count += 1
            }
            i += 1
          }
          (count, hits)
        }
        acc.add("functions.geo.rows_evaluated", evaluated)
        acc.add("functions.geo.rows_matched", matched) // keeps the evaluation observable
      }
    }
  }
}
