package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.zarr._

/**
 * Spark DataSource V2 for Zarr v3 metadata tables:
 * `spark.read.format("zarr").option("group", "/meta").load(path)`.
 *
 * Capability parity with the reference's DataFusion `TableProvider`
 * (reference: src/table_provider.rs:67-94, :193-294) plus the two things the
 * reference leaves on the table:
 *
 *  - **Column pruning is honored** ([[SupportsPushDownRequiredColumns]]):
 *    only the requested child arrays are opened and decoded. The reference
 *    accepts the projection and ignores it (src/table_provider.rs:84, :228).
 *  - **One input partition per chunk range** instead of a single whole-table
 *    partition (src/table_provider.rs:237): scan parallelism scales with the
 *    chunk grid, which is what makes the source usable on a real cluster.
 *    Chunks are pruned one at a time, then adjacent kept chunks are
 *    coalesced up to `target_partition_rows` so tiny chunks don't explode
 *    the task count — and no further than an even share of the kept rows
 *    across the session's leaf parallelism, so a search that keeps two
 *    chunks runs them as two tasks on two cores.
 *
 * Filter pushdown prunes chunks when the store carries the
 * `_graft_stats.json` sidecar our write path emits (per-chunk min/max/nulls
 * — [[graft.zarr.ZarrStats]]): the scan skips every chunk the stats prove
 * empty for the predicate, the way Parquet skips row groups, before it
 * groups the rest into ranges. Chunks in the table, chunks pruned and
 * ranges planned are reported as SQL metrics on the scan node. All
 * filters are ALSO returned to Spark as residuals, so stats can only save
 * I/O, never change results; a store without the sidecar (e.g. written by
 * another producer — the reference's stance at src/table_provider.rs:85,
 * since bare Zarr v3 has no chunk statistics) simply scans everything.
 * Row count IS reported ([[SupportsReportStatistics]]) so AQE/broadcast
 * planning sees the table size.
 */
object ZarrDataSource {
  /** Fail fast with the option NAME on junk values — a bad `chunk_rows`
   *  must not surface as a bare NumberFormatException at planning or a
   *  division-by-zero inside a write task. */
  private[sources] def numericOption(options: CaseInsensitiveStringMap,
      name: String, default: Long, min: Long): Long =
    Option(options.get(name)).map { v =>
      val n = try v.toLong catch { case _: NumberFormatException =>
        throw new ZarrException(s"zarr option $name: '$v' is not an integer") }
      if (n < min) throw new ZarrException(s"zarr option $name must be >= $min, got $n")
      n
    }.getOrElse(default)

  /** Int-ranged option: every consumer of chunk_rows/shard_rows/batch_size
   *  does Int arithmetic, and an unchecked `.toLong.toInt` would wrap
   *  4294967296 → 0 — recreating the divide-by-zero/empty-batch-forever
   *  hazards the Long validation exists to prevent. */
  private[sources] def numericIntOption(options: CaseInsensitiveStringMap,
      name: String, default: Int, min: Int): Int = {
    val n = numericOption(options, name, default, min)
    if (n > Int.MaxValue)
      throw new ZarrException(s"zarr option $name must be <= ${Int.MaxValue}, got $n")
    n.toInt
  }
}

class ZarrDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zarr"
  override def supportsExternalMetadata(): Boolean = true

  private def storePath(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).orElse(Option(options.get("paths")))
    p.getOrElse(throw new ZarrException("zarr source requires a path: .load(<store dir>)"))
  }

  private def groupOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("group")).getOrElse("/")

  private def hadoopConf(): Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  /** (path, group, arrays) that [[inferSchema]] just listed. Spark calls
   *  `inferSchema` and then `getTable` on one provider instance, and
   *  `getTable` takes the listing from here instead of reading the group's
   *  metadata a second time. */
  private var inferred: Option[(String, String, Seq[ZarrArrayMeta])] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (path, group) = (storePath(options), groupOf(options))
    val arrays = ZarrSchema.listArrays(new ZarrStore(path, hadoopConf()), group)
    inferred = Some((path, group, arrays))
    ZarrSchema.schemaOf(arrays, group)
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val path = storePath(options)
    val group = groupOf(options)
    val targetRows = ZarrDataSource.numericOption(options, "target_partition_rows", 1L << 20, 1)
    val chunkRows = ZarrDataSource.numericIntOption(options, "chunk_rows", 1 << 20, 1)
    val shardRows = ZarrDataSource.numericIntOption(options, "shard_rows", 0, 0)
    val rowIndexCol = Option(options.get("row_index"))
    val compression = Option(options.get("compression")).getOrElse("zstd")
    // write-side store format: 3 (default) or 2 (.zarray/.zgroup layout for
    // zarr-python 2.x readers); reads auto-detect and ignore this option
    val zarrFormat = ZarrDataSource.numericIntOption(options, "zarr_format", 3, 2)
    // a write target may not exist yet — build the table with the write
    // schema and no readable arrays (reads will fail with the store error)
    val arrays = inferred.collect { case (`path`, `group`, as) => as }.getOrElse {
      try ZarrSchema.listArrays(new ZarrStore(path, hadoopConf()), group)
      catch { case _: ZarrException => Seq.empty[ZarrArrayMeta] }
    }
    inferred = None
    new ZarrTable(path, group, arrays, schema, targetRows, chunkRows, rowIndexCol,
      shardRows, compression, zarrFormat)
  }
}

class ZarrTable(
    path: String,
    group: String,
    arrays: Seq[ZarrArrayMeta],
    tableSchema: StructType,
    targetRows: Long,
    chunkRows: Int = 1 << 20,
    rowIndexCol: Option[String] = None,
    shardRows: Int = 0,
    compression: String = "zstd",
    zarrFormat: Int = 3)
  extends Table with SupportsRead with SupportsWrite {

  // the one install point of the Zarr filter rule: every Zarr relation
  // resolves through here during analysis, before the optimizer runs
  SparkSession.getActiveSession.foreach(graft.plans.ZarrBboxPruning.installInto)

  override def name(): String = s"zarr:`$path`$group"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // batch_size tunes ColumnarBatch row count (default 4096, parquet's)
    val batchSize = ZarrDataSource.numericIntOption(options, "batch_size", 4096, 1)
    new ZarrScanBuilder(path, group, arrays, tableSchema, targetRows, batchSize)
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new ZarrWriteBuilder(path, group, info.schema(), chunkRows, rowIndexCol,
      HadoopConfBroadcast(SparkSession.active), shardRows, compression, zarrFormat)
}

class ZarrScanBuilder(
    path: String,
    group: String,
    arrays: Seq[ZarrArrayMeta],
    fullSchema: StructType,
    targetRows: Long,
    batchSize: Int = 4096)
  extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownLimit
  with SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters {

  private var requiredSchema: StructType = fullSchema
  private var limit: Option[Long] = None
  private var countStar = false
  private var pruningFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  // rank-1 only: a filter on a k-D (ArrayType) column has no scalar
  // min/max semantics, so it must never be treated as prunable
  private def dtypeOf(name: String): Option[ZarrType] =
    arrays.find(a => a.name == name && a.rank == 1).map(_.dtype)

  /** Accept filters for CHUNK PRUNING only: everything is returned as a
   *  residual (Spark re-applies it above the scan), so a missing or stale
   *  stats sidecar can never change results — it just skips nothing. The
   *  prunable subset is reported via `pushedFilters` (visible in EXPLAIN). */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pruningFilters = filters.filter(ZarrPruning.prunable(_, dtypeOf))
    filters // all residual
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pruningFilters

  /** COUNT(*) with no grouping is answered from the array shape — pure
   *  metadata, zero chunk I/O (a 100 TB table counts in milliseconds).
   *  Anything else is left to Spark above the scan. */
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val onlyCountStar = agg.groupByExpressions().isEmpty &&
      agg.aggregateExpressions().length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (onlyCountStar) { countStar = true; true } else false
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushAggregation(agg)
  }

  override def pruneColumns(required: StructType): Unit = {
    // keep table field order for the names Spark asked for
    val names = required.fieldNames.toSet
    requiredSchema = StructType(fullSchema.fields.filter(f => names.contains(f.name)))
  }

  /** LIMIT n over a Zarr table reads only the first ceil(n/chunk) chunks —
   *  an improvement over the reference, which ignores its `_limit` argument
   *  (reference: src/table_provider.rs:86). Rows are emitted in ascending
   *  store order, so truncating the planned row range is exact. */
  override def pushLimit(l: Int): Boolean = {
    limit = Some(l.toLong)
    true
  }

  override def build(): Scan =
    if (countStar) {
      // A pushed LIMIT here caps the AGGREGATE's output (one row), not the
      // input: Spark pushes the aggregate only when it sits directly over
      // the relation, and then pushes the limit above it into the same
      // builder with no pushedAggregate guard (verified against the 4.1
      // V2ScanRelationPushDown bytecode). min(n, limit) returned count=10
      // for `SELECT count(*) FROM t LIMIT 10` on a million-row table.
      if (arrays.isEmpty)
        throw new ZarrException(
          s"zarr: group '$group' at $path has no readable arrays — cannot " +
            "answer COUNT(*) (store missing, or a write target not yet committed)")
      new ZarrCountStarScan(arrays.head.length)
    } else new ZarrScan(path, group, arrays, requiredSchema, targetRows, limit, pruningFilters,
      batchSize)
}

/** Completely-pushed COUNT(*): one partition, one row, zero chunk I/O. */
class ZarrCountStarScan(n: Long) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(org.apache.spark.sql.types.StructField("count", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String = s"ZarrCountStar($n)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(ZarrInputPartition(0, 1))
  override def createReaderFactory(): PartitionReaderFactory =
    ZarrCountStarReaderFactory(n)
}

/** Named top-level factory: an anonymous one would capture the
 *  (non-serializable) scan as its outer reference. */
case class ZarrCountStarReaderFactory(n: Long) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](n))
      override def close(): Unit = ()
    }
}

class ZarrScan(
    path: String,
    group: String,
    arrays: Seq[ZarrArrayMeta],
    requiredSchema: StructType,
    targetRows: Long,
    limit: Option[Long] = None,
    pruningFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    batchSize: Int = 4096,
    /** (column, minx, miny, maxx, maxy) from a `bbox_intersects` predicate,
     *  planted post-pushdown by [[graft.plans.ZarrBboxPruning]]: chunk ranges
     *  whose recorded envelope can't intersect the query box are skipped.
     *  Advisory like `pruningFilters` — the Filter stays above the scan. */
    val bboxFilter: Option[(String, Double, Double, Double, Double)] = None)
  extends Scan with Batch with SupportsReportStatistics {

  /** Copy with a bbox predicate attached (used by the optimizer rule). */
  def withBboxFilter(col: String, minx: Double, miny: Double,
      maxx: Double, maxy: Double): ZarrScan =
    new ZarrScan(path, group, arrays, requiredSchema, targetRows, limit, pruningFilters,
      batchSize, Some((col, minx, miny, maxx, maxy)))

  private val tableRows: Long = {
    val n = arrays.headOption.map(_.length).getOrElse(0L)
    limit.fold(n)(math.min(n, _))
  }
  private val requiredArrays: Seq[ZarrArrayMeta] =
    requiredSchema.fieldNames.toSeq.map(n => arrays.find(_.name == n).getOrElse(
      throw new ZarrException(s"no child array for column '$n'")))

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"ZarrScan(path=$path, columns=[${requiredSchema.fieldNames.mkString(",")}]" +
      (if (pruningFilters.nonEmpty) s", PushedFilters: [${pruningFilters.mkString(", ")}]" else "") +
      bboxFilter.fold("") { case (c, x0, y0, x1, y1) =>
        s", PushedBbox: $c intersects [$x0, $y0, $x1, $y1]" } + ")"

  /** Rows in the ranges pruning keeps — so a chunk-pruned scan reports its
   *  PRUNED size and joins against it become broadcast-eligible. The bbox
   *  rule runs in the last optimizer batch, before physical planning reads
   *  these stats, so JoinSelection sees the post-pruning estimate. */
  private lazy val estimatedRows: Long =
    if (pruningFilters.isEmpty && bboxFilter.isEmpty) tableRows
    else planned.ranges.map { case (s, e) => e - s }.sum

  /** The ONE pruned-then-coalesced range enumeration behind
   *  [[estimateStatistics]], [[planInputPartitions]] and
   *  [[reportDriverMetrics]] — if they diverged, reported statistics would
   *  describe partitions the scan doesn't plan. Lazy: computed once per scan
   *  (one sidecar read).
   *
   *  A chunk here is one cell of the coarsest chunk grid among the required
   *  columns. Each chunk is kept or skipped on its own, once; runs of
   *  adjacent kept chunks are then coalesced, a range closing at a gap or
   *  where the next chunk would take it past `bound` rows. `bound` is
   *  `step` (`target_partition_rows`, floored to whole chunks) unless an
   *  even share of the kept rows across the session's leaf parallelism is
   *  smaller — the bytes-per-core rule of Spark's file scans — so a search
   *  that keeps a few chunks runs them on the idle cores instead of in one
   *  task. A chunk is never split. When nothing can be pruned the kept rows
   *  are the table's and the walk strides a whole `bound` at a time, so the
   *  plan is ranges cut every `bound` rows from 0 and no per-chunk work is
   *  spent. */
  private lazy val planned: ZarrScan.Plan = {
    val align = math.max(1L, requiredArrays.map(_.chunkLength).maxOption.getOrElse(tableRows))
    val step = math.max(align, (targetRows / align) * align)
    val chunks = (tableRows + align - 1) / align
    var keptRows = tableRows
    val kept = rangeKeeper.map { keep =>
      val bits = new java.util.BitSet(Math.toIntExact(chunks))
      keptRows = 0L
      var c = 0
      while (c < chunks) {
        val (s, e) = (c * align, math.min((c + 1) * align, tableRows))
        if (keep(s, e)) { bits.set(c); keptRows += e - s }
        c += 1
      }
      bits
    }
    val cores = ZarrScan.leafParallelism
    val share = (keptRows + cores - 1) / cores
    val bound = math.min(step, math.max(align, (share + align - 1) / align * align))
    val ranges = Array.newBuilder[(Long, Long)]
    var pruned = 0L
    var open = -1L // start of the run being coalesced, -1 when none is open
    val unit = if (kept.isEmpty) bound else align
    var s = 0L
    while (s < tableRows) {
      val e = math.min(s + unit, tableRows)
      if (kept.forall(_.get((s / align).toInt))) {
        if (open >= 0 && e - open > bound) { ranges += ((open, s)); open = s }
        if (open < 0) open = s
      } else {
        pruned += 1
        if (open >= 0) { ranges += ((open, s)); open = -1L }
      }
      s = e
    }
    if (open >= 0) ranges += ((open, tableRows))
    ZarrScan.Plan(ranges.result(), chunks, pruned)
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = {
      // k-D columns carry rowElems elements per row
      val perRow = requiredArrays
        .map(a => math.max(a.dtype.byteSize, 16).toLong * a.rowElems).sum
      OptionalLong.of(estimatedRows * math.max(perRow, 1))
    }
    override def numRows(): OptionalLong = OptionalLong.of(estimatedRows)
  }

  /**
   * Partition = contiguous run of kept chunks, aligned to the coarsest chunk
   * grid among the required columns and coalesced up to `targetRows` rows per
   * task. Chunks the stats sidecar proves empty for the pushed filters are
   * dropped one by one before coalescing — a pruned chunk costs no task, no
   * fetch, no decode, even when its neighbours are kept.
   */
  override def planInputPartitions(): Array[InputPartition] =
    planned.ranges.map { case (s, e) => ZarrInputPartition(s, e): InputPartition }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new ZarrChunksMetric, new ZarrChunksPrunedMetric, new ZarrRangesPlannedMetric)

  /** Planning counts, read off the same [[planned]] enumeration the
   *  partitions come from. */
  override def reportDriverMetrics(): Array[CustomTaskMetric] = Array(
    ZarrScan.TaskMetric(ZarrScan.ChunksMetric, planned.chunks),
    ZarrScan.TaskMetric(ZarrScan.ChunksPrunedMetric, planned.pruned),
    ZarrScan.TaskMetric(ZarrScan.RangesPlannedMetric, planned.ranges.length.toLong))

  /** Per-chunk keep/skip decision from the stats sidecar; None when nothing
   *  can be pruned — no pruning filters, or no (valid) sidecar. A sidecar
   *  whose grid doesn't cover the table exactly (stale after a foreign
   *  write) is ignored. */
  // lazy val, not def: each evaluation re-reads the stats sidecar from the
  // store — a remote read per evaluation on an object store
  private lazy val rangeKeeper: Option[(Long, Long) => Boolean] =
    if (pruningFilters.isEmpty && bboxFilter.isEmpty) None
    else rangeKeeperImpl

  private def rangeKeeperImpl: Option[(Long, Long) => Boolean] = {
    val fullLen = arrays.headOption.map(_.length).getOrElse(0L)
    // a driver-side read: a local conf, not the tasks' broadcast
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val stats = ZarrStats.read(new ZarrStore(path, conf), group)
      .filter(s => s.chunkRows > 0 && s.totalRows == fullLen &&
        s.nChunks.toLong == (fullLen + s.chunkRows - 1) / s.chunkRows)
    stats.map { s =>
      val filterKeep: (Long, Long) => Boolean =
        if (pruningFilters.isEmpty) (_, _) => true
        else (start, end) => {
          val statsOf: String => Option[ZarrPruning.RangeStats] = n =>
            arrays.find(_.name == n).flatMap(a => ZarrPruning.rangeStats(s, n, a.dtype, start, end))
          !pruningFilters.exists(f => ZarrPruning.skippable(f, statsOf))
        }
      val bboxKeep: (Long, Long) => Boolean = bboxFilter match {
        case Some((col, qx0, qy0, qx1, qy1)) if s.envelopes.contains(col) =>
          val env = s.envelopes(col)
          (start, end) => {
            // keep the chunk iff ANY sidecar chunk it covers might intersect the box
            // (unknown envelope = might); box touch counts as intersection,
            // matching Wkt.envelopeIntersects' inclusive bounds
            val lo = (start / s.chunkRows).toInt
            val hi = math.min(((end - 1) / s.chunkRows).toInt, s.nChunks - 1)
            var keep = false
            var i = lo
            while (i <= hi && !keep) {
              val e = env(i)
              keep = e == null ||
                !(e(2) < qx0 || e(0) > qx1 || e(3) < qy0 || e(1) > qy1)
              i += 1
            }
            keep
          }
        case _ => (_, _) => true
      }
      // a sidecar whose GRID fields validated can still carry garbage
      // VALUE strings (hand-edited, bit-rotted): any evaluation failure
      // keeps the range — "any failure degrades to no pruning, never an
      // error, never a skip" is the sidecar's safety contract
      (start, end) =>
        try bboxKeep(start, end) && filterKeep(start, end)
        catch { case _: RuntimeException => true }
    }
  }

  // lazy val, not def: physical planning asks once per BatchScanExec copy
  private lazy val readerFactory = new ZarrPartitionReaderFactory(path,
    HadoopConfBroadcast(SparkSession.active), requiredArrays, batchSize)

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ZarrMicroBatchStream(path, group, HadoopConfBroadcast(SparkSession.active),
      requiredSchema.fieldNames.toSeq, targetRows)
}

object ZarrScan {
  /** Kept ranges plus the chunk counts they were planned from. */
  private final case class Plan(ranges: Array[(Long, Long)], chunks: Long, pruned: Long)

  /** The session's leaf parallelism, read as Spark's own file scans read
   *  it: `spark.sql.leafNodeDefaultParallelism`, else the context's default
   *  parallelism. 1 (no split) outside a session. */
  private def leafParallelism: Long =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).fold(1L) { s =>
      s.sessionState.conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(s.sparkContext.defaultParallelism).toLong
    }

  /** SQL metric names of the planning counts (driver-side). */
  val ChunksMetric = "chunks"
  val ChunksPrunedMetric = "chunksPruned"
  val RangesPlannedMetric = "rangesPlanned"

  private final case class TaskMetric(name: String, value: Long) extends CustomTaskMetric
}

/** A planning count a [[ZarrScan]] reports as a SQL metric. Spark
 *  re-instantiates metrics by class name, so each is a no-arg class. */
sealed abstract class ZarrScanMetric(metricName: String, desc: String) extends CustomSumMetric {
  override def name(): String = metricName
  override def description(): String = desc
}
final class ZarrChunksMetric extends ZarrScanMetric(ZarrScan.ChunksMetric, "chunks in table")
final class ZarrChunksPrunedMetric
  extends ZarrScanMetric(ZarrScan.ChunksPrunedMetric, "chunks pruned")
final class ZarrRangesPlannedMetric
  extends ZarrScanMetric(ZarrScan.RangesPlannedMetric, "chunk ranges planned")

final case class ZarrInputPartition(start: Long, end: Long) extends InputPartition

/** The one Zarr read path: every scan, batch or micro-batch, reads
 *  through [[ZarrColumnarPartitionReader]]. k-D columns are columnar too:
 *  rows land in nested ArrayType vectors, the contiguous fast path
 *  bulk-copying each row's element block into the leaf child vector. */
class ZarrPartitionReaderFactory(
    path: String,
    val conf: Broadcast[SerializableHadoopConf],
    columns: Seq[ZarrArrayMeta],
    batchSize: Int = 4096)
  extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new ZarrException("Zarr scans are columnar: Spark must call createColumnarReader")
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[ZarrInputPartition]
    new ZarrColumnarPartitionReader(new ZarrStore(path, conf.value.value), columns, p.start,
      p.end, batchSize)
  }
}
