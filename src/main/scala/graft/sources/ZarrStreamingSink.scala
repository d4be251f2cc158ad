package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path

import org.apache.spark.broadcast.Broadcast
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
 * An epoch runs through the batch write's own writer factory, data writer
 * and driver commit ([[ZarrWriterFactory]], [[ZarrDataWriter]],
 * [[ZarrLayout.commit]]); a batch write is the epoch that starts at row 0
 * in an empty group. What is the sink's own lives here: the commit marker,
 * replay, and the checks against an existing table. Each epoch:
 *
 *  1. Tasks read `_graft_stream_commit.json` → (lastEpoch, rows). If
 *     lastEpoch >= this epoch, the batch is a REPLAY of an already-committed
 *     epoch: consume and write nothing (exactly-once on retries).
 *  2. Otherwise the append starts at `rows`. The task that owns the partial
 *     tail chunk reads it back, decodes, and merges it so the rewrite covers
 *     its existing rows, then renames the rewrite over the old object —
 *     readers never observe it shrinking or torn, because the published
 *     shape still ends at `rows` until commit. Every other chunk lies past
 *     the published shape and is created in place.
 *  3. The driver commit validates epoch coverage — chunk ids dense from the
 *     tail chunk, every chunk full except the last, no chunk written by two
 *     tasks — then (a) merges the new per-chunk stats into the
 *     `_graft_stats.json` sidecar, (b) records {epoch, rows, dims} in the
 *     commit marker, and (c) rewrites the `zarr.json` documents with the
 *     grown shape. Chunk objects past the published shape are invisible, so
 *     a crash at any point leaves a consistent table; a replayed epoch
 *     rewrites the same chunks from the same offset and converges, and
 *     republishes the marker's shape if (b) landed without (c).
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
   *  [[ZarrWriteSupport.validate]] (run for every write, streaming
   *  included) rejects quotes, backslashes, and control characters before
   *  any task or commit runs. */
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

  /** The epoch layout. Its shard grid is the existing table's (an append
   *  must match the store's layout) or, for a fresh store, the option's;
   *  resolved on the driver at factory creation. */
  @volatile private var layout = ZarrLayout(path, groupRel, schema, dataSchema, chunkRows,
    rowIdxOrdinal, conf, optionShardRows)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // appending onto an existing table: column names and chunk grid must match
    val existing =
      try ZarrSchema.listArrays(layout.store, layout.group)
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
        // ArrayType columns compare by their LEAF type; the rank is checked
        // separately against the existing trailing dims
        val expected = ZarrMeta.parseDType(
          ZarrMeta.parseJson(ZarrWriteSupport.dtypeJson(f.dataType)), f.name)
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
      layout = layout.copy(shardRows = existingInner)
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
    // an INHERITED shard grid cannot carry k-D columns either (the option
    // was checked by ZarrWriteSupport.validate)
    if (layout.shardRows > 0 &&
        dataSchema.fields.exists(f => ZarrWriteSupport.leafType(f.dataType)._2 > 0))
      throw new ZarrException(
        "zarr streaming sink: sharded tables cannot carry array (k-D) " +
          "columns — sharding covers the 1-D row layout")
    layout.factory(info.numPartitions)
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
    val store = layout.store
    try {
      val arrays = ZarrSchema.listArrays(store, layout.group)
      (arrays.flatMap(m => Option(m.attrsJson).map(m.name -> _)).toMap,
        arrays.filter(_.rank > 1)
          .map(a => a.name -> a.trailingShape.map(_.toInt)).toMap)
    } catch {
      case e: ZarrException =>
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
    val msgs = messages.toSeq.collect { case m: ZarrTaskCommit => m }
    if (msgs.isEmpty) return
    val (e, rows) = ZarrStreamCommit.resolveStart(layout.store, groupRel)
    if (msgs.forall(_.replayed)) {
      // HEAL: the marker is written BEFORE zarr.json, so a crash between
      // the two leaves committed rows unpublished; the replayed epoch
      // republishes the shape from the marker (idempotent when nothing
      // crashed). The reverse order would be worse — on a marker-less
      // (batch-created) table, published-length fallback after a
      // metadata-first crash would re-append the epoch's rows at the new
      // offset: silent duplicates.
      if (e >= 0) {
        val (attrs, tableDims) = existingState(healAbsent = true)
        ZarrWriteSupport.writeTableMetadata(
          new Path(path).getFileSystem(conf.value.value), path, groupRel, dataSchema,
          rows, chunkRows, layout.shardRows, attrsByName = attrs,
          dimsByName = ZarrWriteSupport.mergeDims(tableDims, msgs.map(_.dims),
            dataSchema, "zarr streaming sink"))
      }
      return
    }
    // attrs + k-D dims are read BEFORE the commit republishes the documents
    val (attrs, tableDims) = existingState(healAbsent = false)
    layout.commit(msgs, rows, attrs, tableDims, Some(epochId))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}
