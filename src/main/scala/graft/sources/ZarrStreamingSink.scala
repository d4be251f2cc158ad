package graft.sources

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.fs.Path

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

import graft.zarr._

/**
 * Structured Streaming SINK for Zarr stores:
 * `df.writeStream.format("zarr").option("group", "/meta").start(path)` —
 * the append half of the streaming story (the source half,
 * [[ZarrMicroBatchStream]], tails a growing store by row-count offsets;
 * together they make Zarr a streamable table format end to end, something
 * the strictly-bounded reference has no analogue of).
 *
 * Append protocol, two modes:
 *
 *  - **Arrival order** (default): one task per epoch appends rows in the
 *    order they arrive ([[ZarrWrite.requiredDistribution]] plans the
 *    coalesce) — the metadata-scale path.
 *  - **Distributed** (option `row_index`): the stream carries a GLOBAL dense
 *    0-based row-position column (a log offset / sequence number — global,
 *    not per-epoch, because the store's chunk grid is global and the
 *    committed row count is rarely chunk-aligned). The caller routes rows
 *    with `repartition(row_index div chunk_rows)` exactly like the
 *    distributed batch write; each task then owns whole global chunks and
 *    a firehose epoch appends from every task in parallel. The column is
 *    excluded from the written arrays.
 *
 * Either way each epoch:
 *
 *  1. Tasks read `_graft_stream_commit.json` → (lastEpoch, rows). If
 *     lastEpoch >= this epoch, the batch is a REPLAY of an already-committed
 *     epoch: consume and write nothing (exactly-once on retries).
 *  2. Otherwise the append starts at `rows`. The task that owns the partial
 *     tail chunk reads it back, decodes, and merges it so the rewrite covers
 *     its existing rows — readers never observe it shrinking, because the
 *     published shape still ends at `rows` until commit.
 *  3. The driver commit validates epoch coverage — chunk ids dense from the
 *     tail chunk, every chunk full except the last, no chunk written by two
 *     tasks — then (a) merges the new per-chunk stats into the
 *     `_graft_stats.json` sidecar, (b) rewrites the `zarr.json` documents
 *     with the grown shape, and (c) records {epoch, rows} in the commit
 *     marker. Chunk objects past the published shape are invisible, so a
 *     crash at any point leaves a consistent table; a replayed epoch
 *     rewrites the same chunks from the same offset and converges.
 */
object ZarrStreamCommit {
  val FileName = "_graft_stream_commit.json"

  def relPath(groupRel: String): String =
    if (groupRel.isEmpty) FileName else s"$groupRel/$FileName"

  /** (last committed epoch, committed row count); (-1, 0) for a fresh store.
   *
   *  Only a genuinely ABSENT or unparseable-but-readable marker degrades to
   *  (-1, 0): the replay guard and committed-offset derive from this, so a
   *  TRANSIENT store failure (S3 500, network blip) must PROPAGATE and fail
   *  the task (retried) — swallowing it as "fresh store" would make a
   *  replayed epoch look new and silently append its rows a second time,
   *  the same corrupt-state hazard [[ZarrStreamingWrite.existingState]]
   *  documents. */
  def read(store: ZarrStore, groupRel: String): (Long, Long) = {
    val b = store.readBytesIfExists(relPath(groupRel))
    if (b == null) (-1L, 0L)
    else
      try {
        val n = ZarrMeta.parseJson(new String(b, StandardCharsets.UTF_8))
        (n.path("epoch").asLong(-1L), n.path("rows").asLong(0L))
      } catch { case _: Exception =>
        // the document was READ successfully but does not parse: a broken
        // store, not a race — fail loud, never "fresh"
        throw new ZarrException(
          s"unparseable stream-commit marker at ${relPath(groupRel)}")
      }
  }

  /** k-D trailing dims recorded in the marker (written with every epoch) —
   *  the DURABLE record that lets the marker-before-metadata crash window
   *  heal for array columns, whose shape exists nowhere else before the
   *  first metadata publish. Empty when absent (older markers, scalar
   *  tables, fresh stores). */
  def readDims(store: ZarrStore, groupRel: String): Map[String, Seq[Int]] = {
    val b = store.readBytesIfExists(relPath(groupRel))
    if (b == null) return Map.empty
    try {
      val d = ZarrMeta.parseJson(new String(b, StandardCharsets.UTF_8)).path("dims")
      if (!d.isObject) return Map.empty
      val it = d.fieldNames()
      val out = Map.newBuilder[String, Seq[Int]]
      while (it.hasNext) {
        val name = it.next()
        val arr = d.get(name)
        out += name -> (0 until arr.size()).map(arr.get(_).asInt())
      }
      out.result()
    } catch { case _: Exception => Map.empty } // advisory: degrade, read() rejects
  }

  /** Column names interpolate into the marker JSON unescaped — safe because
   *  [[ZarrWriteSupport.validateColumnNames]] (run for every write,
   *  streaming included, in ZarrWrite's constructor) rejects quotes,
   *  backslashes, and control characters before any task or commit runs. */
  def dimsJson(dims: Map[String, Seq[Int]]): String =
    if (dims.isEmpty) "{}"
    else dims.toSeq.sortBy(_._1).map { case (n, d) =>
      s""""$n":[${d.mkString(",")}]""" }.mkString("{", ",", "}")

  /** Marker if present, else the PUBLISHED array length: a table created by
   *  the batch writer has zarr.json but no stream marker, and starting at
   *  row 0 would silently overwrite it. The marker keeps precedence so
   *  crash-replay converges on the marker's offset. Used identically by
   *  every task and by the driver commit. */
  def resolveStart(store: ZarrStore, groupRel: String): (Long, Long) = {
    val (e, r) = read(store, groupRel)
    if (e >= 0) (e, r)
    else {
      val published =
        try ZarrSchema.listArrays(store,
            if (groupRel.isEmpty) "/" else s"/$groupRel")
          .map(_.length).reduceOption(_ max _).getOrElse(0L)
        catch { case _: ZarrException => 0L }
      (e, published)
    }
  }
}

/** One epoch's report from one task: chunks written (id → rows now in that
 *  chunk, merged tail rows included), their stats, the task-local resulting
 *  row count, whether this was a no-op replay, and the trailing dims
 *  observed for k-D (ArrayType) columns (the driver validates agreement —
 *  with other tasks AND with the existing table — before republishing
 *  shape metadata). */
case class ZarrStreamEpochCommit(
    chunks: Seq[(Long, Int)],
    stats: Seq[ZarrChunkStatsMsg],
    totalRows: Long,
    replayed: Boolean,
    dims: Map[String, Seq[Int]] = Map.empty) extends WriterCommitMessage

class ZarrStreamingWrite(
    path: String,
    groupRel: String,
    schema: StructType,
    dataSchema: StructType,
    chunkRows: Int,
    conf: Broadcast[SerializableHadoopConf],
    optionShardRows: Int = 0,
    rowIdxOrdinal: Option[Int] = None)
  extends StreamingWrite {

  /** Effective inner-chunk size: the existing table's sharding wins (an
   *  append must match the store's layout); the option applies to a fresh
   *  store. 0 = unsharded. Resolved on the driver at factory creation. */
  @volatile private var shardRows: Int = optionShardRows

  /** The ZarrType [[ZarrWriteSupport.dtypeJson]] would publish for a Spark
   *  type — what an existing array must already be for an append to be
   *  byte-compatible. ArrayType columns compare by their LEAF type (the
   *  rank is checked separately against the existing trailing dims). */
  private def expectedZarrType(dt0: org.apache.spark.sql.types.DataType): ZarrType = {
    import org.apache.spark.sql.types._
    ZarrWriteSupport.leafType(dt0)._1 match {
      case LongType => ZarrType.ZInt64
      case IntegerType => ZarrType.ZInt32
      case ShortType => ZarrType.ZInt16
      case ByteType => ZarrType.ZInt8
      case DoubleType => ZarrType.ZFloat64
      case FloatType => ZarrType.ZFloat32
      case BooleanType => ZarrType.ZBool
      case StringType => ZarrType.ZString
      case BinaryType => ZarrType.ZBytes
      case TimestampNTZType => ZarrType.ZDatetime64("us", 1L)
      case other => throw new ZarrException(s"zarr write: unsupported column type $other")
    }
  }

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    if (rowIdxOrdinal.isEmpty && info.numPartitions > 1)
      throw new ZarrException(
        s"zarr streaming sink appends from ONE task per epoch (got " +
          s"${info.numPartitions} partitions) — repartition(1) the stream, or " +
          "provide option row_index (a GLOBAL dense 0-based position column, " +
          "rows routed per chunk) for distributed epochs")
    // appending onto an existing table: column names and chunk grid must match
    val existing =
      try ZarrSchema.listArrays(new ZarrStore(path, conf.value.value),
        if (groupRel.isEmpty) "/" else s"/$groupRel")
      catch { case _: ZarrException => Seq.empty }
    if (existing.nonEmpty) {
      // the sink republishes v3 zarr.json and writes c/<i> chunk keys — an
      // append onto a v2 store (or a v3 store with v2 chunk-key encoding)
      // would mix key layouts and corrupt the table
      if (existing.exists(_.v2Keys))
        throw new ZarrException(
          "zarr streaming sink: existing table uses v2 chunk keys (bare " +
            "indices); appending would mix key layouts — rewrite the table " +
            "as Zarr v3 with default chunk keys first")
      val have = existing.map(_.name).sorted
      val want = dataSchema.fieldNames.sorted.toSeq
      if (have != want)
        throw new ZarrException(
          s"zarr streaming sink: existing table has columns [${have.mkString(",")}], " +
            s"stream writes [${want.mkString(",")}]")
      // DTYPES too, not just names: commit republishes every array's
      // zarr.json from the stream's schema, so a LongType stream appending
      // onto a float64 table would silently re-declare every committed
      // chunk as int64 — all old rows read back as garbage bit patterns
      dataSchema.fields.foreach { f =>
        val expected = expectedZarrType(f.dataType)
        val depth = ZarrWriteSupport.leafType(f.dataType)._2
        existing.find(_.name == f.name).foreach { a =>
          if (a.dtype != expected)
            throw new ZarrException(
              s"zarr streaming sink: column '${f.name}' is ${a.dtype} in the " +
                s"existing table but the stream writes ${f.dataType} " +
                s"($expected) — appending would re-declare committed chunks")
          // rank too: republishing a k-D array's metadata from a scalar
          // stream (or vice versa) would re-declare its whole grid. The
          // trailing EXTENTS are validated at commit against the dims the
          // tasks actually saw.
          if (a.rank != depth + 1)
            throw new ZarrException(
              s"zarr streaming sink: column '${f.name}' is ${a.rank}-D in the " +
                s"existing table but the stream writes rank ${depth + 1} — " +
                "appending would re-declare committed chunks")
          if (depth > 0 && a.trailingChunk != a.trailingShape)
            throw new ZarrException(
              s"zarr streaming sink: existing k-D array '${f.name}' has " +
                "chunked trailing dims; the sink writes trailing-unchunked " +
                "row blocks — rewrite the table first")
        }
      }
      val grid = existing.head.chunkLength
      if (grid != chunkRows)
        throw new ZarrException(
          s"zarr streaming sink: existing chunk grid is $grid rows, " +
            s"option chunk_rows=$chunkRows — they must match to append")
      // appending to a SHARDED table: epochs must write shards of the SAME
      // inner grid (the tail-shard rewrite works like the tail-chunk merge)
      val existingInner = existing.head.codecs.collectFirst {
        case sc: ZarrCodec.ShardingCodec => sc.innerChunk.toInt
      }.getOrElse(0)
      if (optionShardRows > 0 && existingInner != optionShardRows)
        throw new ZarrException(
          s"zarr streaming sink: existing table's shard grid is " +
            s"${if (existingInner == 0) "unsharded" else s"$existingInner rows"}, " +
            s"option shard_rows=$optionShardRows — they must match to append")
      // an INHERITED shard grid gets the same divisibility validation the
      // option path enforces: a non-compliant store whose inner chunk does
      // not divide the outer chunk would otherwise crash mid-epoch with a
      // BufferOverflowException after shard data already streamed
      if (existingInner > 0 && chunkRows % existingInner != 0)
        throw new ZarrException(
          s"zarr streaming sink: existing table's inner chunk " +
            s"($existingInner rows) does not divide its outer chunk " +
            s"($chunkRows rows) — the sink cannot append to this layout")
      shardRows = existingInner
      // the sink re-encodes tail chunks and republishes zarr.json with its
      // own codec chain ([vlen|bytes] + zstd, '/'-separated c/<i> keys) —
      // appending onto ANY other layout (blosc, gzip, crc32c, zlib, '.'
      // separators) would silently re-declare the table's existing chunks
      // as something they are not. Positive allow-list, not a blosc-only
      // deny-list: only tables the sink itself could have written pass.
      def plainZstd(cs: Seq[ZarrCodec]): Boolean = cs match {
        case Seq(_: ZarrCodec.BytesCodec, ZarrCodec.ZstdCodec(_, _)) => true
        case Seq(ZarrCodec.VlenUtf8Codec, ZarrCodec.ZstdCodec(_, _)) => true
        case Seq(ZarrCodec.VlenBytesCodec, ZarrCodec.ZstdCodec(_, _)) => true
        case _ => false
      }
      existing.find { a =>
        a.separator != "/" || !(a.codecs match {
          case Seq(sc: ZarrCodec.ShardingCodec) => plainZstd(sc.innerCodecs)
          case cs => plainZstd(cs)
        })
      }.foreach { a =>
        throw new ZarrException(
          s"zarr streaming sink: existing array '${a.name}' uses a codec " +
            "chain or chunk-key separator the sink does not write " +
            s"(${a.codecs.mkString("[", ",", "]")}, sep '${a.separator}'); " +
            "appending would re-declare its chunks — rewrite the table " +
            "with compression=zstd and default chunk keys first")
      }
    }
    // a RESOLVED sharded grid (option, or inherited from the existing
    // table) cannot carry k-D columns — mirror the batch writer's stance
    if (shardRows > 0 &&
        dataSchema.fields.exists(f => ZarrWriteSupport.leafType(f.dataType)._2 > 0))
      throw new ZarrException(
        "zarr streaming sink: sharded tables cannot carry array (k-D) " +
          "columns — sharding covers the 1-D row layout")
    new ZarrStreamingWriterFactory(path, groupRel, schema, dataSchema, chunkRows, conf,
      shardRows, rowIdxOrdinal)
  }

  /** (per-array user attrs, k-D trailing dims) of the CURRENT table — ONE
   *  metadata listing serving both halves of the epoch republish (the
   *  object-store RPC budget is per epoch). An existing table's live state
   *  is AUTHORITATIVE, including attribute absence — an attribute the user
   *  deleted must not be resurrected from schema metadata every epoch.
   *
   *  When the table's group document is DEFINITELY ABSENT (readBytesIfExists
   *  null — a clean not-found; transient failures propagate and fail the
   *  epoch):
   *
   *  - `healAbsent = true` (the REPLAY branch): this is the marker-before-
   *    metadata crash window the heal exists for — seed attrs from the
   *    schema and recover dims from the MARKER (one extra marker GET on
   *    this rare path; the dims exist nowhere else before the first
   *    publish). Retrying forever would permanently wedge a fresh table
   *    that crashed in the window, scalar or k-D alike.
   *  - `healAbsent = false` (a LIVE epoch with fresh rows): absence with a
   *    committed marker is a foreign delete-then-recreate race on a live
   *    table — seeding would wipe the foreign writer's attrs, so fail the
   *    epoch (the retry lists the recreated table). Without a marker the
   *    table is genuinely fresh: seed (the normal first-epoch path).
   *
   *  A group document that EXISTS but fails to list (parse error, torn
   *  read) always fails the epoch. */
  private def existingState(healAbsent: Boolean)
      : (Map[String, String], Map[String, Seq[Int]]) = {
    val store = new ZarrStore(path, conf.value.value)
    try {
      val arrays = graft.zarr.ZarrSchema.listArrays(store,
        if (groupRel.isEmpty) "/" else s"/$groupRel")
      (arrays.flatMap(m => Option(m.attrsJson).map(m.name -> _)).toMap,
        arrays.filter(_.rank > 1)
          .map(a => a.name -> a.trailingShape.map(_.toInt)).toMap)
    } catch {
      case e: graft.zarr.ZarrException =>
        val groupDoc =
          if (groupRel.isEmpty) "zarr.json" else s"$groupRel/zarr.json"
        if (store.readBytesIfExists(groupDoc) != null) throw e
        if (!healAbsent &&
            ZarrStreamCommit.read(store, groupRel)._1 >= 0) throw e
        (ZarrWriteSupport.attrsFromSchema(dataSchema),
          ZarrStreamCommit.readDims(store, groupRel))
    }
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: ZarrStreamEpochCommit => m }
    if (msgs.isEmpty) return
    if (msgs.forall(_.replayed)) {
      // HEAL: the marker is written BEFORE zarr.json below, so a crash
      // between the two leaves committed rows unpublished; the replayed
      // epoch republishes the shape from the marker (idempotent when
      // nothing crashed). The reverse order would be worse — on a
      // marker-less (batch-created) table, published-length fallback after
      // a metadata-first crash would re-append the epoch's rows at the new
      // offset: silent duplicates.
      val (e, rows) = ZarrStreamCommit.read(new ZarrStore(path, conf.value.value), groupRel)
      if (e >= 0) {
        val (attrs, tableDims) = existingState(healAbsent = true)
        ZarrWriteSupport.writeTableMetadata(
          new Path(path).getFileSystem(conf.value.value), path, groupRel, dataSchema,
          rows, chunkRows, shardRows, attrsByName = attrs,
          dimsByName = ZarrWriteSupport.mergeDims(tableDims, msgs.map(_.dims),
            dataSchema, "zarr streaming sink"))
      }
      return
    }
    val chunks = msgs.flatMap(_.chunks).sortBy(_._1)
    val allStats = msgs.flatMap(_.stats).sortBy(_.chunk)
    val (_, startRows) =
      ZarrStreamCommit.resolveStart(new ZarrStore(path, conf.value.value), groupRel)
    // epoch coverage: dense whole chunks from the tail chunk, like the batch
    // commit — published metadata must never claim rows a gap would fake
    val totalRows =
      if (chunks.isEmpty) startRows
      else {
        val startChunk = startRows / chunkRows
        chunks.zipWithIndex.foreach { case ((id, _), i) =>
          if (id != startChunk + i) throw new ZarrException(
            if (chunks.count(_._1 == id) > 1)
              s"zarr streaming sink: chunk $id written by two tasks — route rows " +
                "with repartition(row_index div chunk_rows)"
            else
              s"zarr streaming sink: epoch coverage gap (expected chunk " +
                s"${startChunk + i}, saw $id) — row_index must be the global " +
                "dense 0-based position")
        }
        chunks.dropRight(1).foreach { case (id, n) =>
          if (n != chunkRows) throw new ZarrException(
            s"zarr streaming sink: chunk $id has $n rows (expected $chunkRows) — " +
              "a chunk was split across tasks; route rows with " +
              "repartition(row_index div chunk_rows)")
        }
        chunks.last._1 * chunkRows + chunks.last._2
      }
    val merged =
      ZarrStreamEpochCommit(chunks.toSeq, allStats.toSeq, totalRows, replayed = false)
    val fs = new Path(path).getFileSystem(conf.value.value)
    // ATOMIC publish for the sidecar and especially the MARKER: the marker
    // is the one document whose unparseability is a designed hard failure
    // (read() wedges the stream on a torn marker, by contract) — a
    // truncate-then-write crash window here would turn a driver crash into
    // a permanently dead stream
    def writeFile(rel: String, text: String): Unit =
      AtomicPublish.write(fs, new Path(path, rel), text.getBytes(StandardCharsets.UTF_8))
    // order: stats → MARKER → metadata. The marker precedes the shape
    // publish so a crash in between is healed by the replay branch above;
    // metadata-before-marker on a marker-less table would instead replay
    // into silent duplicates (published-length fallback already grown).
    // attrs + k-D dims read BEFORE the republish below overwrites the docs
    // (one metadata listing for both)
    val (attrs, tableDims) = existingState(healAbsent = false)
    val dims = ZarrWriteSupport.mergeDims(tableDims, msgs.map(_.dims),
      dataSchema, "zarr streaming sink")
    mergeStats(merged).foreach(s => writeFile(ZarrStats.relPath(groupRel), ZarrStats.toJson(s)))
    // the marker carries the k-D dims: the durable record that lets a crash
    // between this write and the metadata publish heal on replay
    writeFile(ZarrStreamCommit.relPath(groupRel),
      s"""{"epoch":$epochId,"rows":${merged.totalRows},""" +
        s""""dims":${ZarrStreamCommit.dimsJson(dims)}}""")
    ZarrWriteSupport.writeTableMetadata(fs, path, groupRel, dataSchema, merged.totalRows,
      chunkRows, shardRows, attrsByName = attrs, dimsByName = dims)
  }

  /** Fold this epoch's chunk stats into the existing sidecar (rewritten tail
   *  chunk replaces its old entry). Stats are advisory: if the previous
   *  sidecar is missing or doesn't cover the previous chunks, return None and
   *  drop the file rather than publish bounds we can't vouch for. */
  private def mergeStats(c: ZarrStreamEpochCommit): Option[StoreChunkStats] = {
    if (c.stats.isEmpty) return None
    val nChunks = ((c.totalRows + chunkRows - 1) / chunkRows).toInt
    val fresh = c.stats.map(_.chunk).toSet
    val old = ZarrStats.read(new ZarrStore(path, conf.value.value),
      if (groupRel.isEmpty) "/" else s"/$groupRel")
    val oldOk = old.filter(o => o.chunkRows == chunkRows &&
      (0 until nChunks).forall(i => fresh.contains(i.toLong) || i < o.nChunks))
    if (c.stats.map(_.chunk).min > 0 && oldOk.isEmpty) {
      // mid-stream without a usable previous sidecar → remove any stale one
      val fs = new Path(path).getFileSystem(conf.value.value)
      fs.delete(new Path(path, ZarrStats.relPath(groupRel)), false)
      return None
    }
    val byChunk = c.stats.map(s => s.chunk -> s).toMap
    val cols = dataSchema.fields.indices.map { ci =>
      val name = dataSchema.fields(ci).name
      val oldCol = oldOk.flatMap(_.columns.get(name))
      def pick[T: reflect.ClassTag](i: Int, fromNew: ZarrChunkStatsMsg => T,
          fromOld: ColumnChunkStats => T, zero: T): T =
        byChunk.get(i.toLong).map(fromNew)
          .orElse(oldCol.collect { case o if i < o.nulls.length => fromOld(o) })
          .getOrElse(zero)
      name -> ColumnChunkStats(
        (0 until nChunks).map(i => pick[String](i, _.min(ci), _.min(i), null)).toArray,
        (0 until nChunks).map(i => pick[String](i, _.max(ci), _.max(i), null)).toArray,
        (0 until nChunks).map(i => pick[Long](i, _.nulls(ci), _.nulls(i), 0L)).toArray)
    }.toMap
    // geometry envelopes merge the same way; a REWRITTEN chunk (tail merge)
    // whose fresh envelope is unknown stays unknown — never the stale entry
    val envMap = dataSchema.fields.indices
      .filter(ci => ZarrWriteSupport.isGeoColumn(dataSchema.fields(ci)))
      .map { ci =>
        val name = dataSchema.fields(ci).name
        val oldEnv = oldOk.flatMap(_.envelopes.get(name))
        name -> (0 until nChunks).map { i =>
          byChunk.get(i.toLong)
            .map(m => if (m.envs == null) null else m.envs(ci))
            .orElse(oldEnv.collect { case e if i < e.length => e(i) })
            .orNull
        }.toArray
      }.toMap
    Some(StoreChunkStats(chunkRows, nChunks, c.totalRows, cols, envMap))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

class ZarrStreamingWriterFactory(
    path: String,
    groupRel: String,
    schema: StructType,
    dataSchema: StructType,
    chunkRows: Int,
    conf: Broadcast[SerializableHadoopConf],
    shardRows: Int = 0,
    rowIdxOrdinal: Option[Int] = None)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new ZarrStreamingDataWriter(path, groupRel, schema, dataSchema, chunkRows, epochId,
      conf, shardRows, rowIdxOrdinal)
}

/** The per-epoch appender: positions rows on the global chunk grid — from
 *  the `row_index` column in distributed mode, by arrival order starting at
 *  the committed row count otherwise — merges the partial tail chunk when
 *  this task owns it, streams rows into chunk buffers (bounded memory — one
 *  open chunk per column), and reports chunks+stats per task. */
class ZarrStreamingDataWriter(
    path: String,
    groupRel: String,
    schema: StructType,
    dataSchema: StructType,
    chunkRows: Int,
    epochId: Long,
    conf: Broadcast[SerializableHadoopConf],
    shardRows: Int = 0,
    idxOrdinal: Option[Int] = None)
  extends DataWriter[InternalRow] {

  private val fs = new Path(path).getFileSystem(conf.value.value)
  private val store = new ZarrStore(path, conf.value.value)
  private val (lastEpoch, startRows) = ZarrStreamCommit.resolveStart(store, groupRel)
  /** A replay of an epoch the marker says is already applied → write nothing. */
  private val replay = lastEpoch >= epochId

  private val dataOrdinals: Array[Int] =
    dataSchema.fields.map(f => schema.fieldIndex(f.name))
  private val ncols = dataOrdinals.length
  // k-D (ArrayType) columns: leaf type + trailing depth; dims discovered
  // from the first non-null row this task ingests (tail-merge rows count —
  // they arrive through the same ingest), later rows validate against them
  private val leafInfo: Array[(org.apache.spark.sql.types.DataType, Int)] =
    dataSchema.fields.map(f => ZarrWriteSupport.leafType(f.dataType))
  private val colDims: Array[Array[Int]] = new Array(ncols)
  // sharded epochs STREAM (round 9, mirroring the batch writer's round-8
  // rewrite): buffer ONE INNER CHUNK of values per column, encode and
  // append each inner chunk to an open .tmp stream as it fills, publish by
  // atomic rename at flush. Task memory is O(ncols × shard_rows values),
  // not O(ncols × chunk_rows values + the whole compressed shard) — a
  // multi-GiB tail shard never exists as one byte array in the task.
  private val sharded = shardRows > 0
  private val bufRows = if (sharded) shardRows else chunkRows
  private val nInner = if (sharded) chunkRows / shardRows else 0
  private val buffers: Array[Array[Any]] =
    dataSchema.fields.map(_ => new Array[Any](bufRows))
  private val tailChunkId = startRows / chunkRows
  private val tailFill = (startRows % chunkRows).toInt
  private var currentChunk = -1L
  private var count = 0
  private var synthesized = startRows // arrival-order positions
  private var localTotal = startRows
  private val written = mutable.ArrayBuffer.empty[(Long, Int)]
  private val stats = mutable.ArrayBuffer.empty[ZarrChunkStatsMsg]
  // streaming shard state (sharded only), reset per chunk
  private var outs: Array[org.apache.hadoop.fs.FSDataOutputStream] = _
  private var tmps: Array[Path] = _
  private var finals: Array[Path] = _
  private var idxBufs: Array[java.nio.ByteBuffer] = _
  private var offs: Array[Long] = _
  private var innerDone = 0
  private var accs: Array[ZarrWriteSupport.ChunkStatsAcc] = _
  private var envAccs: Array[ZarrWriteSupport.ChunkEnvelopeAcc] = _

  private def chunkObjPath(name: String, depth: Int = 0): Path = {
    val arrayDir = if (groupRel.isEmpty) new Path(path, name)
      else new Path(new Path(path, groupRel), name)
    // k-D columns write trailing-unchunked row blocks: one grid cell per
    // dim-0 chunk, keys carry `depth` trailing zero indices ("c/<i>/0")
    (0 until depth).foldLeft(
      new Path(new Path(arrayDir, "c"), currentChunk.toString))((p, _) => new Path(p, "0"))
  }

  private def openShardChunk(): Unit = {
    outs = new Array(ncols)
    tmps = new Array(ncols)
    finals = new Array(ncols)
    idxBufs = new Array(ncols)
    offs = new Array(ncols)
    accs = new Array(ncols)
    envAccs = new Array(ncols)
    innerDone = 0
    var c = 0
    while (c < ncols) {
      val f = dataSchema.fields(c)
      finals(c) = chunkObjPath(f.name)
      // stream aside, publish by atomic rename: the tail rewrite covers
      // rows concurrent readers can already see
      val (tmp, out) = AtomicPublish.stage(fs, finals(c))
      tmps(c) = tmp
      outs(c) = out
      idxBufs(c) = java.nio.ByteBuffer.allocate(nInner * 16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      accs(c) = new ZarrWriteSupport.ChunkStatsAcc(f.dataType)
      if (ZarrWriteSupport.isGeoColumn(f))
        envAccs(c) = new ZarrWriteSupport.ChunkEnvelopeAcc
      c += 1
    }
  }

  /** Encode and append one inner chunk of `n` buffered rows (0 = all-fill
   *  padding — the same bytes the buffered encodeShard emits). */
  private def writeInner(n: Int): Unit = {
    var c = 0
    while (c < ncols) {
      val bytes = ZarrWriteSupport.encodeChunk(
        dataSchema.fields(c).dataType, buffers(c), n, shardRows)
      outs(c).write(bytes)
      idxBufs(c).putLong(offs(c)).putLong(bytes.length.toLong)
      offs(c) += bytes.length
      c += 1
    }
    innerDone += 1
  }

  /** Store one row's column value and advance the row counter, flushing a
   *  filled inner chunk on the sharded path — the ONE ingest used by both
   *  the tail merge and live rows (they must stay byte-identical). k-D
   *  values (ArrayData, from live rows AND the decoded tail) flatten here,
   *  discovering/validating the column's trailing dims in the same pass. */
  private def putRow(values: Int => Any): Unit = {
    val slot = if (sharded) count - innerDone * shardRows else count
    var c = 0
    while (c < ncols) {
      val v = values(c) match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData if leafInfo(c)._2 > 0 =>
          val f = dataSchema.fields(c)
          if (colDims(c) == null)
            colDims(c) = ZarrWriteSupport.discoverDims(f.name, a, leafInfo(c)._2)
          ZarrWriteSupport.flattenNdRow(f.name, a, colDims(c), leafInfo(c)._1)
        case other => other
      }
      buffers(c)(slot) = v
      if (sharded) {
        accs(c).observe(v)
        if (envAccs(c) != null) envAccs(c).observe(v)
      }
      c += 1
    }
    count += 1
    if (sharded && count - innerDone * shardRows == shardRows) writeInner(shardRows)
  }

  /** Merge the existing partial tail chunk so its rewrite keeps the old
   *  rows — streamed through [[putRow]] like live rows (bounded memory even
   *  for a multi-GiB sharded tail: fetchChunk's ranged path + one inner
   *  chunk of buffered values). Runs lazily in whichever task first writes
   *  to the tail chunk — in distributed mode only one task may
   *  (whole-chunk routing). */
  private def mergeTail(): Unit = {
    val arrays = ZarrSchema.listArrays(store,
      if (groupRel.isEmpty) "/" else s"/$groupRel")
    val old: Array[ColumnChunk] = dataSchema.fields.map { f =>
      val meta = arrays.find(_.name == f.name).getOrElse(
        throw new ZarrException(s"no existing array for streamed column '${f.name}'"))
      ZarrCodecs.fetchChunk(store, meta, tailChunkId)
    }
    try {
      var i = 0
      while (i < tailFill) {
        val row = i
        putRow(c => old(c).get(row) match {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case v => v
        })
        i += 1
      }
    } finally old.foreach(_.close())
  }

  private def openChunk(chunk: Long): Unit = {
    currentChunk = chunk
    count = 0
    if (sharded) openShardChunk()
    if (chunk == tailChunkId && tailFill > 0) mergeTail()
  }

  override def write(row: InternalRow): Unit = {
    if (replay) return
    val pos = idxOrdinal match {
      case Some(o) =>
        if (row.isNullAt(o)) // getLong on a null slot silently yields 0
          throw new ZarrException(
            "zarr streaming sink: row_index is NULL — the position column " +
              "must be a non-null global dense index")
        row.getLong(o)
      case None => val p = synthesized; synthesized += 1; p
    }
    if (pos < startRows)
      throw new ZarrException(
        s"zarr streaming sink: row_index $pos is behind the committed row " +
          s"count $startRows — row_index must be the GLOBAL dense 0-based " +
          "position (a log offset), not a per-epoch index")
    val chunk = pos / chunkRows
    val off = (pos % chunkRows).toInt
    if (chunk != currentChunk) {
      flushChunk()
      openChunk(chunk)
    }
    if (off != count)
      throw new ZarrException(
        s"zarr streaming sink: row at position $pos arrived out of order " +
          s"(expected offset $count in chunk $chunk) — row_index must be " +
          "globally dense with whole chunks per task " +
          "(repartition(row_index div chunk_rows))")
    putRow { c =>
      if (row.isNullAt(dataOrdinals(c))) null
      else row.get(dataOrdinals(c), dataSchema.fields(c).dataType) match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case v => v
      }
    }
    if (count == chunkRows) flushChunk()
  }

  private def flushChunk(): Unit = {
    if (currentChunk >= 0 && count > 0) {
      val mins = new Array[String](ncols)
      val maxs = new Array[String](ncols)
      val nulls = new Array[Long](ncols)
      val envs = new Array[Array[Double]](ncols)
      if (sharded) {
        val residual = count - innerDone * shardRows
        if (residual > 0) writeInner(residual)
        while (innerDone < nInner) writeInner(0) // trailing all-fill inners
        var c = 0
        while (c < ncols) {
          outs(c).write(ZarrWriteSupport.shardIndexTrailer(idxBufs(c).array()))
          outs(c).close(); outs(c) = null
          // atomic publish: the tail-shard rewrite covers rows readers can
          // already see — the streamed object replaces the old one whole
          AtomicPublish.publish(fs, tmps(c), finals(c))
          val (mn, mx, nl) = accs(c).result()
          mins(c) = mn; maxs(c) = mx; nulls(c) = nl
          if (envAccs(c) != null) envs(c) = envAccs(c).result()
          c += 1
        }
      } else {
        var c = 0
        while (c < ncols) {
          val f = dataSchema.fields(c)
          val (mn, mx, nl) = ZarrWriteSupport.chunkColumnStats(f.dataType, buffers(c), count)
          mins(c) = mn; maxs(c) = mx; nulls(c) = nl
          if (ZarrWriteSupport.isGeoColumn(f))
            envs(c) = ZarrWriteSupport.chunkEnvelope(buffers(c), count)
          val bytes =
            if (leafInfo(c)._2 > 0) {
              if (colDims(c) == null)
                throw new ZarrException(
                  s"zarr streaming sink: array column '${f.name}' has only " +
                    "null rows in a chunk before any non-null row established " +
                    "its trailing dims — fill nulls upstream")
              ZarrWriteSupport.encodeChunkNd(f.dataType, colDims(c).product,
                buffers(c), count, chunkRows)
            } else ZarrWriteSupport.encodeChunk(f.dataType, buffers(c), count, chunkRows)
          // atomic publish: the tail-chunk rewrite covers rows readers can
          // already see — truncate-then-write would expose a partial object
          AtomicPublish.write(fs, chunkObjPath(f.name, leafInfo(c)._2), bytes)
          c += 1
        }
      }
      written += ((currentChunk, count))
      stats += ZarrChunkStatsMsg(currentChunk, mins, maxs, nulls, envs)
      val end = currentChunk * chunkRows + count
      if (end > localTotal) localTotal = end
    }
    currentChunk = -1
    count = 0
  }

  /** Close + remove any open streamed tmp objects (failed/aborted task):
   *  unpublished — the final chunk object is only replaced by the rename. */
  private def releaseStreams(): Unit = if (outs != null) {
    var c = 0
    while (c < ncols) {
      if (outs(c) != null) {
        try outs(c).close() catch { case _: java.io.IOException => }
        try fs.delete(tmps(c), false) catch { case _: java.io.IOException => }
        outs(c) = null
      }
      c += 1
    }
  }

  override def commit(): WriterCommitMessage = {
    if (!replay) flushChunk()
    val dims = dataSchema.fields.indices
      .filter(c => colDims(c) != null)
      .map(c => dataSchema.fields(c).name -> colDims(c).toSeq)
      .toMap
    ZarrStreamEpochCommit(written.toSeq, stats.toSeq, localTotal, replay, dims)
  }
  override def abort(): Unit = releaseStreams()
  override def close(): Unit = releaseStreams()
}
