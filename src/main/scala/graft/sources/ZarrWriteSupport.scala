package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.github.luben.zstd.Zstd

import org.apache.hadoop.fs.{FSDataOutputStream, Path}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.zarr.{AtomicPublish, ColumnChunk, ColumnChunkStats, SerializableHadoopConf,
  StoreChunkStats, ZarrCodecs, ZarrException, ZarrSchema, ZarrStats, ZarrStore}

/**
 * DSv2 write path: `df.write.format("zarr").option("group", "/meta")
 * .mode("overwrite").save(path)` — the sink the reference lacks entirely
 * (its TableType::Base is read-only; the write stub at
 * reference: src/file_format.rs:109-117 is commented out), letting a
 * pipeline persist derived metadata tables back to Zarr.
 *
 * Layout contract for DISTRIBUTED writes: Zarr's regular chunk grid assigns
 * global row positions, so parallel tasks must own whole chunks. The caller
 * provides a 0-based dense row-index column (option `row_index`, excluded
 * from the written arrays) and routes rows so chunks aren't split:
 *
 * {{{
 *   df.withColumn("idx", row_number().over(...) - 1)
 *     .repartition(col("idx") / chunkRows)   // all rows of a chunk → one task
 *     .sortWithinPartitions("idx")
 *     .write.format("zarr").option("group", "/g").option("row_index", "idx")
 *     .mode("overwrite").save(path)
 * }}}
 *
 * Each task streams its rows into one open chunk per column (bounded
 * memory), writes chunk objects directly, and reports (chunkId, rows)
 * per chunk; the driver validates full coverage — every chunk dense and
 * full except the last — and only then commits the zarr.json metadata
 * (readers key off zarr.json, so a failed job leaves no readable table).
 * Without `row_index`, a single input partition is required (positions are
 * synthesized) — the metadata-scale path. The streaming sink's epochs run
 * through the same writer and commit ([[ZarrLayout]]): a batch write is the
 * epoch that starts at row 0 in an empty group.
 *
 * Dtype mapping (write side of SURVEY §1.3): long→int64, int→int32,
 * short→int16, byte→int8, double→float64, float→float32, bool→bool,
 * string→vlen-utf8 (numcodecs framing), timestamp_ntz→datetime64[us]
 * (null → NaT). Chunks are zstd(0)-compressed unless option
 * `compression=blosc` asks for blosc-lz4.
 */
object ZarrWriteSupport {

  /** Delete a stale store-root consolidated `.zmetadata` after a
   *  destructive operation (overwrite, DROP TABLE/NAMESPACE): zarr-python
   *  consolidates at the STORE ROOT with group-prefixed keys, so the
   *  document may still describe the group just deleted — a consolidated
   *  reader would plan the OLD shape/dtypes against whatever replaces it.
   *  The document is a cache by spec: deleting it is always safe (readers
   *  fall back to listing). The ONE definition shared by the batch
   *  overwrite path and the catalog's DROP operations. */
  def invalidateRootConsolidation(fs: org.apache.hadoop.fs.FileSystem,
      storeRoot: String): Unit = {
    val rootZmeta = new Path(storeRoot, ".zmetadata")
    if (fs.exists(rootZmeta)) fs.delete(rootZmeta, false)
  }

  /** (leaf element type, trailing rank): (IntegerType, 0) for a scalar
   *  column, (FloatType, 1) for `ArrayType(Float)`, (DoubleType, 2) for
   *  `ArrayType(ArrayType(Double))` — the write-side mirror of the read
   *  side's nested-ArrayType mapping (dim 0 = rows, one ArrayType level
   *  per trailing dim). */
  def leafType(dt: DataType): (DataType, Int) = dt match {
    case ArrayType(inner, _) => val (l, d) = leafType(inner); (l, d + 1)
    case other => (other, 0)
  }

  /**
   * The one validation of a Zarr write's options against its schema, run by
   * batch writes, streaming queries and the catalog's CTAS before any task
   * runs and before an overwrite deletes anything — a rejected write must
   * leave the table it would have replaced.
   *
   *  - Column names are interpolated into metadata JSON and become
   *    directory names: a quote, backslash, slash or control char would
   *    commit unparseable metadata or break the object layout, and names
   *    that collide with the store's own objects (v3 zarr.json, v2
   *    dot-files, the graft sidecars) would shadow them with a chunk
   *    directory.
   *  - Array columns need fixed-width leaves: k-D chunks are dense C-order
   *    blocks, and a vlen element has no per-element extent.
   *  - The streaming sink writes zstd v3 stores only: its epochs republish
   *    v3 metadata and re-encode tail chunks with one codec for the
   *    table's lifetime, so another requested codec is rejected, never
   *    silently dropped.
   */
  def validate(dataSchema: StructType, chunkRows: Int, shardRows: Int,
      compression: String, zarrFormat: Int, streaming: Boolean): Unit = {
    if (zarrFormat != 2 && zarrFormat != 3)
      throw new ZarrException(s"zarr option zarr_format must be 2 or 3, got $zarrFormat")
    if (streaming && zarrFormat == 2)
      throw new ZarrException(
        "zarr streaming sink writes Zarr v3 stores only (its epoch commits " +
          "republish v3 consolidated metadata) — drop option zarr_format=2, " +
          "or batch-write v2 tables with df.write")
    if (streaming && compression != "zstd")
      throw new ZarrException(
        s"zarr streaming sink writes zstd-compressed chunks only (got " +
          s"compression '$compression') — batch-write $compression tables " +
          "with df.write")
    if (shardRows > 0 && chunkRows % shardRows != 0)
      throw new ZarrException(
        s"option shard_rows=$shardRows must divide chunk_rows=$chunkRows " +
          "(a shard holds whole inner chunks)")
    if (zarrFormat == 2 && shardRows > 0)
      throw new ZarrException(
        "zarr v2 has no sharding extension — drop shard_rows or write zarr_format=3")
    dataSchema.fields.foreach { f =>
      val n = f.name
      if (n.isEmpty || n.exists(c => c == '"' || c == '\\' || c == '/' || c.isControl))
        throw new ZarrException(
          s"zarr write: column name '$n' cannot be stored " +
            "(empty, or contains quote/backslash/slash/control characters)")
      if (n == "zarr.json" || n.startsWith(".") ||
          n == graft.zarr.ZarrStats.FileName || n == ZarrStreamCommit.FileName)
        throw new ZarrException(
          s"zarr write: column name '$n' is reserved for store metadata " +
            "(zarr.json, dot-prefixed v2 documents, graft sidecars) — rename it")
      val (leaf, depth) = leafType(f.dataType)
      if (depth > 0) leaf match {
        case StringType | BinaryType | _: StructType | _: MapType =>
          throw new ZarrException(
            s"zarr write: array column '$n' has ${leaf.simpleString} " +
              "elements — only fixed-width numeric/boolean/timestamp elements " +
              "can be stored as a k-D Zarr array")
        case _ =>
          if (shardRows > 0)
            throw new ZarrException(
              "shard_rows with an array (k-D) column is not supported — " +
                "sharding covers the 1-D row layout; drop shard_rows")
      }
      if (zarrFormat == 2) dtypeV2(f.dataType) else dtypeJson(f.dataType)
    }
    if (zarrFormat == 2) compressorV2Json(StringType, compression)
    else codecsJson(StringType, compression)
    attrsFromSchema(dataSchema)
  }

  def dtypeJson(dt0: DataType): String = leafType(dt0)._1 match {
    case LongType => "\"int64\""
    case IntegerType => "\"int32\""
    case ShortType => "\"int16\""
    case ByteType => "\"int8\""
    case DoubleType => "\"float64\""
    case FloatType => "\"float32\""
    case BooleanType => "\"bool\""
    case StringType => "\"string\""
    case BinaryType => "\"bytes\""
    case TimestampNTZType =>
      """{"name":"numpy.datetime64","configuration":{"unit":"us","scale_factor":1}}"""
    case other => throw new ZarrException(s"zarr write: unsupported column type $other")
  }

  def fillJson(dt0: DataType): String = leafType(dt0)._1 match {
    case StringType | BinaryType => "\"\""
    case TimestampNTZType => Long.MinValue.toString
    case BooleanType => "false"
    case FloatType | DoubleType => "0.0"
    case _ => "0"
  }

  /** numpy typestr for a Zarr v2 `.zarray` dtype field. Little-endian for
   *  multi-byte types (matching the byte order [[encodeChunk]] emits);
   *  strings/binary are object dtype `|O` whose real type lives in the
   *  vlen filter — the exact convention [[graft.zarr.ZarrMeta.parseArrayV2]]
   *  reads back, and what zarr-python 2.x itself writes. */
  def dtypeV2(dt0: DataType): String = leafType(dt0)._1 match {
    case LongType => "<i8"
    case IntegerType => "<i4"
    case ShortType => "<i2"
    case ByteType => "|i1"
    case DoubleType => "<f8"
    case FloatType => "<f4"
    case BooleanType => "|b1"
    case StringType | BinaryType => "|O"
    case TimestampNTZType => "<M8[us]"
    case other => throw new ZarrException(s"zarr v2 write: unsupported column type $other")
  }

  /** v2 `filters` list: numcodecs vlen framing for object columns ([[
   *  encodeChunk]] already writes the VLen* u32-count header), else null. */
  def filtersV2Json(dt0: DataType): String = leafType(dt0)._1 match {
    case StringType => """[{"id":"vlen-utf8"}]"""
    case BinaryType => """[{"id":"vlen-bytes"}]"""
    case _ => "null"
  }

  /** v2 `compressor`: a numcodecs codec object. The compressed bytes are the
   *  same frames the v3 path stores (raw zstd / self-describing blosc1), so
   *  only the metadata spelling differs. */
  def compressorV2Json(dt: DataType, compression: String): String = compression match {
    case "zstd" => """{"id":"zstd","level":0}"""
    case "blosc" =>
      // numcodecs spells shuffle numerically: 0 none, 1 byte, 2 bit
      val shuf = if (dt == StringType || dt == BinaryType) 0 else 1
      s"""{"id":"blosc","cname":"lz4","clevel":5,"shuffle":$shuf,"blocksize":0}"""
    case other => throw new ZarrException(
      s"zarr v2 write: unsupported compression '$other' (use zstd or blosc)")
  }

  /** v2 `fill_value`: same encodings as the v3 [[fillJson]] except object
   *  (vlen) arrays, which use JSON null — zarr-python's own convention; the
   *  v2 read path defaults a null fill to ""/empty bytes. */
  def fillV2Json(dt0: DataType): String = leafType(dt0)._1 match {
    case StringType | BinaryType => "null"
    case other => fillJson(other)
  }

  /** The write-side mirror of [[graft.zarr.ZarrSchema.toField]]'s geo typing
   *  rule: a string column named `bbox` carries WKT geometry. */
  def isGeoColumn(f: StructField): Boolean =
    f.name == "bbox" && f.dataType == StringType

  /** Incremental per-chunk geometry envelope [minx, miny, maxx, maxy],
   *  fed one row at a time by [[ZarrDataWriter]]. The envelope is the union
   *  of the envelopes of the chunk's PARSEABLE rows only: [[graft.functions.Wkt.envelope]] maps
   *  malformed/non-2-D WKT to null (it never throws), and both scan-side
   *  predicates ([[graft.functions.Wkt.envelopeIntersects]] and the
   *  `bbox_envelope` expression) likewise treat unparseable WKT as
   *  no-match — a row that cannot parse can never satisfy an envelope
   *  predicate, so excluding it from the union cannot cause a false prune.
   *  A chunk with no parseable row records null ("unknown", never pruned). */
  final class ChunkEnvelopeAcc {
    private var minx = Double.PositiveInfinity
    private var miny = Double.PositiveInfinity
    private var maxx = Double.NegativeInfinity
    private var maxy = Double.NegativeInfinity
    private var any = false
    def observe(v: Any): Unit = v match {
      case s: String =>
        val e = graft.functions.Wkt.envelope(s)
        if (e != null) {
          if (e(0) < minx) minx = e(0)
          if (e(1) < miny) miny = e(1)
          if (e(2) > maxx) maxx = e(2)
          if (e(3) > maxy) maxy = e(3)
          any = true
        }
      case _ =>
    }
    def result(): Array[Double] =
      if (!any) null else Array(minx, miny, maxx, maxy)
  }

  /** Element byte width as recorded in blosc `typesize` (drives shuffle). */
  private def typeWidth(dt0: DataType): Int = leafType(dt0)._1 match {
    case LongType | DoubleType | TimestampNTZType => 8
    case IntegerType | FloatType => 4
    case ShortType => 2
    case _ => 1
  }

  def codecsJson(dt: DataType, compression: String = "zstd"): String = {
    val terminal = dt match {
      case StringType => """{"name":"vlen-utf8","configuration":{}}"""
      case BinaryType => """{"name":"vlen-bytes","configuration":{}}"""
      case _ => """{"name":"bytes","configuration":{"endian":"little"}}"""
    }
    val comp = compression match {
      case "zstd" => """{"name":"zstd","configuration":{"level":0,"checksum":false}}"""
      case "blosc" =>
        // shuffle pays on fixed-width lanes; vlen strings/bytes get
        // typesize 1 + noshuffle (zarr-python does the same for vlen data)
        val (ts, shuf) =
          if (dt == StringType || dt == BinaryType) (1, "noshuffle")
          else (typeWidth(dt), "shuffle")
        s"""{"name":"blosc","configuration":{"cname":"lz4","clevel":5,"shuffle":"$shuf","typesize":$ts,"blocksize":0}}"""
      case other => throw new ZarrException(
        s"zarr write: unsupported compression '$other' (use zstd or blosc)")
    }
    s"[$terminal,$comp]"
  }

  /** `sharding_indexed` codec document: each stored chunk object is a SHARD
   *  of `shardRows`-row inner chunks (the normal codecs become the inner
   *  codecs), with a little-endian + crc32c (offset, nbytes) index at the
   *  end — the zarr v3 sharding extension the read side already decodes
   *  lazily. */
  def codecsJsonSharded(dt: DataType, shardRows: Int, compression: String = "zstd"): String =
    s"""[{"name":"sharding_indexed","configuration":{
       |"chunk_shape":[$shardRows],
       |"codecs":${codecsJson(dt, compression)},
       |"index_codecs":[{"name":"bytes","configuration":{"endian":"little"}},{"name":"crc32c"}],
       |"index_location":"end"}}]""".stripMargin.replace("\n", "")

  /**
   * Incremental per-chunk (min, max, nullCount) of one column, fed one row
   * at a time by [[ZarrDataWriter]] and recorded per chunk into the
   * `_graft_stats.json` sidecar so the scan can prune chunk ranges from
   * pushed filters ([[graft.zarr.ZarrStats]]).
   *
   * Semantics (all load-bearing for pruning soundness):
   *  - binary columns carry no orderable bounds (no comparison filter is
   *    ever prunable for them), nulls written as empty bytes → non-null read;
   *  - stats must describe what a READER sees: nulls are encoded as fill
   *    values for every type except timestamp (NaT reads back as a real
   *    null), so null slots enter min/max as their fill and only timestamp
   *    chunks carry a null count — otherwise IsNotNull pruning would skip
   *    chunks whose fill-value rows are non-null on read;
   *  - NaN-aware total order (NaN largest), matching Spark's
   *    nanSafeCompareDoubles: primitive '<' would drop NaN from the
   *    recorded max, and pruning would then skip ranges for `col > v` that
   *    contain matching NaN rows — the Parquet NaN-stats hazard;
   *  - string order uses UTF8String binary comparison (a java.String
   *    compare would disagree on supplementary chars);
   *  - -0.0 normalizes to 0.0 in the recorded bound: Spark comparisons
   *    treat them as equal, but the NaN-aware compare orders -0.0 < 0.0 —
   *    a min/max of "-0.0" could prune a range whose -0.0 rows satisfy
   *    `col = 0.0`.
   */
  final class ChunkStatsAcc(dt: DataType) {
    // binary has no orderable bounds; k-D (array) columns carry no scalar
    // min/max either — both record nothing and no filter on them is ever
    // treated as prunable by the scan
    private val inert = dt == BinaryType || dt.isInstanceOf[ArrayType]
    private val nullSeenAs: Any = dt match {
      case TimestampNTZType => null
      case StringType => ""
      case DoubleType => 0.0
      case FloatType => 0f
      case BooleanType => java.lang.Boolean.FALSE
      case ShortType => java.lang.Short.valueOf(0.toShort)
      case ByteType => java.lang.Byte.valueOf(0.toByte)
      case IntegerType => java.lang.Integer.valueOf(0)
      case _ => java.lang.Long.valueOf(0L)
    }
    private def less(a: Any, b: Any): Boolean = dt match {
      case DoubleType => java.lang.Double.compare(
        a.asInstanceOf[Double], b.asInstanceOf[Double]) < 0
      case FloatType => java.lang.Float.compare(
        a.asInstanceOf[Float], b.asInstanceOf[Float]) < 0
      case StringType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a.toString)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.toString)) < 0
      case BooleanType => a == java.lang.Boolean.FALSE && b == java.lang.Boolean.TRUE
      case _ => a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue
    }
    private def enc(v: Any): String = if (v == null) null else dt match {
      case DoubleType =>
        val d = v.asInstanceOf[Double]; (if (d == 0.0) 0.0 else d).toString
      case FloatType => // read side compares as double
        val d = v.asInstanceOf[Float].toDouble; (if (d == 0.0) 0.0 else d).toString
      case StringType | BooleanType => v.toString
      case _ => v.asInstanceOf[Number].longValue.toString // ints + timestamp micros
    }
    private var nulls = 0L
    private var min: Any = null
    private var max: Any = null
    def observe(v0: Any): Unit = if (!inert) {
      val v = if (v0 == null) nullSeenAs else v0
      if (v == null) nulls += 1
      else {
        if (min == null || less(v, min)) min = v
        if (max == null || less(max, v)) max = v
      }
    }
    def result(): (String, String, Long) =
      if (inert) (null, null, 0L) else (enc(min), enc(max), nulls)
  }

  /** Per-column user attributes carried on the schema (the `zarr.attributes`
   *  metadata the READ side surfaces) — so read → transform → write keeps
   *  units/_ARRAY_DIMENSIONS on the new store. The JSON is embedded
   *  verbatim into metadata documents, so garbage fails typed here rather
   *  than corrupting the published zarr.json. */
  def attrsFromSchema(schema: StructType): Map[String, String] =
    schema.fields.flatMap { f =>
      if (!f.metadata.contains("zarr.attributes")) None
      else {
        val json =
          try f.metadata.getString("zarr.attributes")
          catch { case _: ClassCastException => throw new ZarrException(
            s"column '${f.name}' zarr.attributes metadata must be a JSON string") }
        // re-render through jackson: validates, and canonicalizes away any
        // raw newlines hand-written metadata could smuggle into the
        // single-line consolidated document
        val node = try graft.zarr.ZarrMeta.parseJson(json)
          catch { case _: Exception => null }
        if (node == null || !node.isObject) throw new ZarrException(
          s"column '${f.name}' carries non-object zarr.attributes metadata: $json")
        Some(f.name -> node.toString)
      }
    }.toMap

  /** Write the group + per-array `zarr.json` documents for a committed table
   *  (readers key off these, so writing them LAST makes commits atomic). */
  def writeTableMetadata(fs: org.apache.hadoop.fs.FileSystem, path: String,
      groupRel: String, dataSchema: StructType, totalRows: Long, chunkRows: Int,
      shardRows: Int = 0, compression: String = "zstd",
      attrsByName: Map[String, String] = Map.empty,
      dimsByName: Map[String, Seq[Int]] = Map.empty): Unit = {
    // atomic publish: the streaming sink REWRITES these documents on every
    // epoch while the micro-batch source polls them for growth — a truncate-
    // then-write create() lets the reader observe a partial document
    def writeJson(p: Path, text: String): Unit =
      graft.zarr.AtomicPublish.write(fs, p, text.getBytes(StandardCharsets.UTF_8))
    // array docs FIRST, the table group's doc LAST: the group doc is the
    // publish point, and it embeds a consolidated copy of every child array
    // document (zarr-python v3's consolidated_metadata convention) so a
    // planner on an object store reads ONE metadata object, not O(columns)
    val arrayDocs = dataSchema.fields.map { f =>
      // a k-D (ArrayType) column's trailing dims extend both shape and
      // chunk_shape (trailing dims unchunked — one grid cell per row block)
      val dims = dimsByName.getOrElse(f.name, Nil)
      val shapeJson = (totalRows +: dims.map(_.toLong)).mkString(",")
      val chunkJson = (chunkRows +: dims).mkString(",")
      val meta =
        s"""{"shape":[$shapeJson],"data_type":${dtypeJson(f.dataType)},
           |"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[$chunkJson]}},
           |"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},
           |"fill_value":${fillJson(f.dataType)},
           |"codecs":${if (shardRows > 0) codecsJsonSharded(f.dataType, shardRows, compression)
                       else codecsJson(f.dataType, compression)},
           |"attributes":${attrsByName.getOrElse(f.name, "{}")},"zarr_format":3,"node_type":"array","storage_transformers":[]}"""
          .stripMargin
      f.name -> meta
    }
    arrayDocs.foreach { case (name, meta) =>
      val arrayDir = if (groupRel.isEmpty) new Path(path, name)
        else new Path(new Path(path, groupRel), name)
      writeJson(new Path(arrayDir, "zarr.json"), meta)
    }
    val consolidated = arrayDocs
      .map { case (name, meta) => s""""$name":${meta.replace("\n", "")}""" }
      .mkString(",")
    // GROUP attributes are user data the engine never owns: every group
    // document this publish rewrites (root, ancestors, the table group)
    // keeps whatever attributes the existing document carried — a foreign
    // writer's dataset-level attrs (xarray title/history/conventions)
    // survive epoch republishes, and ANCESTOR/root docs survive overwrites
    // of a sibling table. (mode("overwrite") deletes the table group dir
    // itself first — replacing the table deliberately resets ITS attrs.)
    def existingGroupAttrs(dir: Path): String = {
      val p = new Path(dir, "zarr.json")
      // one open, no exists() probe (object-store RPC rule); failures
      // other than not-found PROPAGATE and fail the commit (retried) —
      // swallowing a torn/partial read as "{}" would wipe a foreign
      // writer's dataset-level metadata on one racy read. A document that
      // exists but does not parse is a broken store: fail loud, not wipe.
      val text =
        try {
          val in = fs.open(p)
          try new String(in.readAllBytes(), StandardCharsets.UTF_8)
          finally in.close()
        } catch { case _: java.io.FileNotFoundException => return "{}" }
      val attrs =
        try graft.zarr.ZarrMeta.parseJson(text).path("attributes")
        catch { case e: Exception => throw new ZarrException(
          s"cannot preserve attributes: unparseable group document $p", e) }
      if (attrs.isObject) attrs.toString else "{}"
    }
    def groupDocAt(dir: Path): String =
      s"""{"attributes":${existingGroupAttrs(dir)},"zarr_format":3,"node_type":"group"}"""
    def tableGroupDocAt(dir: Path): String =
      s"""{"attributes":${existingGroupAttrs(dir)},"zarr_format":3,"node_type":"group",
         |"consolidated_metadata":{"kind":"inline","must_understand":false,
         |"metadata":{$consolidated}}}""".stripMargin.replace("\n", "")
    if (groupRel.isEmpty) {
      val dir = new Path(path)
      writeJson(new Path(dir, "zarr.json"), tableGroupDocAt(dir))
    } else {
      writeJson(new Path(path, "zarr.json"), groupDocAt(new Path(path)))
      val segs = groupRel.split("/")
      var acc = new Path(path)
      segs.dropRight(1).foreach { seg =>
        acc = new Path(acc, seg)
        writeJson(new Path(acc, "zarr.json"), groupDocAt(acc))
      }
      val tableDir = new Path(acc, segs.last)
      writeJson(new Path(tableDir, "zarr.json"), tableGroupDocAt(tableDir))
    }
  }

  /**
   * Write the Zarr v2 metadata documents for a committed table: per-column
   * `.zarray` docs, `.zgroup` markers at the table group and every ancestor,
   * and a consolidated `.zmetadata` at the group root
   * (`zarr_consolidated_format` — the document [[graft.zarr.ZarrSchema
   * .listArrays]] plans from in ONE read). Order makes the commit atomic for
   * readers: `.zarray` docs first (invisible without a group marker), then
   * `.zgroup`s, `.zmetadata` last. Readable by zarr-python 2.x / xarray —
   * the write-side completion of this round's v2 READ support.
   */
  def writeTableMetadataV2(fs: org.apache.hadoop.fs.FileSystem, path: String,
      groupRel: String, dataSchema: StructType, totalRows: Long, chunkRows: Int,
      compression: String = "zstd",
      dimsByName: Map[String, Seq[Int]] = Map.empty): Unit = {
    def writeJson(p: Path, text: String): Unit =
      graft.zarr.AtomicPublish.write(fs, p, text.getBytes(StandardCharsets.UTF_8))
    val groupDir = if (groupRel.isEmpty) new Path(path) else new Path(path, groupRel)
    val arrayDocs = dataSchema.fields.map { f =>
      val dims = dimsByName.getOrElse(f.name, Nil)
      val shapeJson = (totalRows +: dims.map(_.toLong)).mkString(",")
      val chunkJson = (chunkRows +: dims).mkString(",")
      f.name ->
        (s"""{"zarr_format":2,"shape":[$shapeJson],"chunks":[$chunkJson],""" +
          s""""dtype":"${dtypeV2(f.dataType)}",""" +
          s""""compressor":${compressorV2Json(f.dataType, compression)},""" +
          s""""fill_value":${fillV2Json(f.dataType)},"order":"C",""" +
          s""""filters":${filtersV2Json(f.dataType)},"dimension_separator":"."}""")
    }
    // xarray's open_zarr requires the _ARRAY_DIMENSIONS attribute (its
    // netCDF-style dimension naming); zarr-python ignores unknown attrs,
    // so carrying it costs nothing and makes the store an xarray Dataset
    // of 1-D "row" variables out of the box. Schema-carried user attrs
    // (the read side's zarr.attributes metadata) merge in; OUR
    // _ARRAY_DIMENSIONS wins a conflict (this store's dimension is "row")
    val userAttrs = attrsFromSchema(dataSchema)
    // built ONCE per column: the .zattrs file and its consolidated copy
    // below come from the same string and can never diverge
    val attrsDocs: Map[String, String] = dataSchema.fields.map { f =>
      // k-D columns name their trailing dims dim_1..dim_k after the row axis
      val dimNames = "row" +:
        dimsByName.getOrElse(f.name, Nil).indices.map(j => s"dim_${j + 1}")
      f.name -> (userAttrs.get(f.name) match {
        case None =>
          s"""{"_ARRAY_DIMENSIONS":[${dimNames.map(d => s""""$d"""").mkString(",")}]}"""
        case Some(json) =>
          val node = graft.zarr.ZarrMeta.parseJson(json)
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          val arr = node.putArray("_ARRAY_DIMENSIONS")
          dimNames.foreach(arr.add)
          node.toString
      })
    }.toMap
    arrayDocs.foreach { case (name, doc) =>
      writeJson(new Path(new Path(groupDir, name), ".zarray"), doc)
      writeJson(new Path(new Path(groupDir, name), ".zattrs"), attrsDocs(name))
    }
    val groupDoc = """{"zarr_format":2}"""
    // ancestors root-down, table group last among the markers
    var acc = new Path(path)
    writeJson(new Path(acc, ".zgroup"), groupDoc)
    if (groupRel.nonEmpty) groupRel.split("/").foreach { seg =>
      acc = new Path(acc, seg)
      writeJson(new Path(acc, ".zgroup"), groupDoc)
    }
    val consolidated =
      (Seq(s"""".zgroup":$groupDoc""") ++
        arrayDocs.flatMap { case (n, d) =>
          Seq(s""""$n/.zarray":$d""", s""""$n/.zattrs":${attrsDocs(n)}""") }).mkString(",")
    writeJson(new Path(groupDir, ".zmetadata"),
      s"""{"zarr_consolidated_format":1,"metadata":{$consolidated}}""")
  }

  /** Encode `count` buffered values of one column into a compressed chunk. */
  def encodeChunk(dt: DataType, values: Array[Any], count: Int, chunkRows: Int,
      compression: String = "zstd"): Array[Byte] = {
    val raw: Array[Byte] = dt match {
      case StringType | BinaryType =>
        val bufs = new mutable.ArrayBuffer[Array[Byte]](chunkRows)
        var total = 4
        var i = 0
        while (i < chunkRows) {
          val b: Array[Byte] =
            if (i >= count || values(i) == null) Array.emptyByteArray
            else if (dt == BinaryType) values(i).asInstanceOf[Array[Byte]]
            else values(i).toString.getBytes(StandardCharsets.UTF_8)
          bufs += b; total += 4 + b.length
          i += 1
        }
        val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
        out.putInt(chunkRows) // numcodecs VLen* element-count header
        bufs.foreach(b => out.putInt(b.length).put(b))
        out.array()
      case _ =>
        val width = dt match {
          case LongType | DoubleType | TimestampNTZType => 8
          case IntegerType | FloatType => 4
          case ShortType => 2
          case ByteType | BooleanType => 1
          case other => throw new ZarrException(s"unsupported $other")
        }
        val out = ByteBuffer.allocate(width * chunkRows).order(ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < chunkRows) {
          val v = if (i < count) values(i) else null
          dt match {
            case LongType => out.putLong(if (v == null) 0L else v.asInstanceOf[Long])
            case TimestampNTZType =>
              out.putLong(if (v == null) Long.MinValue else v.asInstanceOf[Long]) // null → NaT
            case DoubleType => out.putDouble(if (v == null) 0.0 else v.asInstanceOf[Double])
            case IntegerType => out.putInt(if (v == null) 0 else v.asInstanceOf[Int])
            case FloatType => out.putFloat(if (v == null) 0f else v.asInstanceOf[Float])
            case ShortType => out.putShort(if (v == null) 0 else v.asInstanceOf[Short])
            case ByteType => out.put(if (v == null) 0.toByte else v.asInstanceOf[Byte])
            case BooleanType =>
              out.put(if (v != null && v.asInstanceOf[Boolean]) 1.toByte else 0.toByte)
            case _ => ()
          }
          i += 1
        }
        out.array()
    }
    compression match {
      case "zstd" => Zstd.compress(raw, 0)
      case "blosc" =>
        val (ts, shuf) =
          if (dt == StringType || dt == BinaryType) (1, "noshuffle")
          else (typeWidth(dt), "shuffle")
        graft.zarr.Blosc.encode(raw, ts, "lz4", 5, shuf)
      case other => throw new ZarrException(
        s"zarr write: unsupported compression '$other' (use zstd or blosc)")
    }
  }

  /**
   * Encode `count` buffered ROWS of a k-D array column into one chunk
   * object: each buffered value is the row's FLATTENED leaf block (an
   * `Array[Any]` of exactly `rowElems` Catalyst leaf values, produced by
   * [[flattenNdRow]]) or null (whole-row fill). The chunk is the dense
   * C-order block [chunkRows × rowElems] the k-D read path expects —
   * trailing dims unchunked, which is also the layout the reader's
   * contiguous fast path consumes. Null elements encode as the fill value
   * (NaT for timestamps) exactly like 1-D nulls.
   */
  def encodeChunkNd(dt0: DataType, rowElems: Int, values: Array[Any], count: Int,
      chunkRows: Int, compression: String = "zstd"): Array[Byte] = {
    val leaf = leafType(dt0)._1
    val width = leaf match {
      case LongType | DoubleType | TimestampNTZType => 8
      case IntegerType | FloatType => 4
      case ShortType => 2
      case ByteType | BooleanType => 1
      case other => throw new ZarrException(s"unsupported array element type $other")
    }
    val out = ByteBuffer.allocate(width * chunkRows * rowElems)
      .order(ByteOrder.LITTLE_ENDIAN)
    def putLeaf(v: Any): Unit = leaf match {
      case LongType => out.putLong(if (v == null) 0L else v.asInstanceOf[Long])
      case TimestampNTZType =>
        out.putLong(if (v == null) Long.MinValue else v.asInstanceOf[Long]) // null → NaT
      case DoubleType => out.putDouble(if (v == null) 0.0 else v.asInstanceOf[Double])
      case IntegerType => out.putInt(if (v == null) 0 else v.asInstanceOf[Int])
      case FloatType => out.putFloat(if (v == null) 0f else v.asInstanceOf[Float])
      case ShortType => out.putShort(if (v == null) 0 else v.asInstanceOf[Short])
      case ByteType => out.put(if (v == null) 0.toByte else v.asInstanceOf[Byte])
      case BooleanType =>
        out.put(if (v != null && v.asInstanceOf[Boolean]) 1.toByte else 0.toByte)
      case _ => ()
    }
    var i = 0
    while (i < chunkRows) {
      val flat = if (i < count) values(i).asInstanceOf[Array[Any]] else null
      var e = 0
      while (e < rowElems) { putLeaf(if (flat == null) null else flat(e)); e += 1 }
      i += 1
    }
    compression match {
      case "zstd" => Zstd.compress(out.array(), 0)
      case "blosc" =>
        graft.zarr.Blosc.encode(out.array(), width, "lz4", 5, "shuffle")
      case other => throw new ZarrException(
        s"zarr write: unsupported compression '$other' (use zstd or blosc)")
    }
  }

  /** Flatten one row's (possibly nested) ArrayData into `rowElems` leaf
   *  values in C order, validating the row's extents against the column's
   *  established trailing dims — ragged rows cannot be stored in a dense
   *  chunk grid and fail typed, naming the column. */
  def flattenNdRow(col: String, a: org.apache.spark.sql.catalyst.util.ArrayData,
      dims: Array[Int], leaf: DataType): Array[Any] = {
    var rowElems = 1
    var d = 0
    while (d < dims.length) { rowElems *= dims(d); d += 1 }
    val out = new Array[Any](rowElems)
    var written = 0
    def walk(v: org.apache.spark.sql.catalyst.util.ArrayData, level: Int): Unit = {
      if (v == null)
        throw new ZarrException(
          s"zarr write: array column '$col' has a null nested array — only " +
            "whole-row nulls are storable (they encode as fill values)")
      if (v.numElements() != dims(level))
        throw new ZarrException(
          s"zarr write: array column '$col' is ragged — a row has " +
            s"${v.numElements()} elements at depth $level, expected ${dims(level)} " +
            "(all rows of a k-D Zarr array share one trailing shape)")
      if (level == dims.length - 1) {
        var i = 0
        while (i < dims(level)) {
          out(written) = if (v.isNullAt(i)) null else v.get(i, leaf)
          written += 1
          i += 1
        }
      } else {
        var i = 0
        while (i < dims(level)) { walk(v.getArray(i), level + 1); i += 1 }
      }
    }
    walk(a, 0)
    out
  }

  /** Merge per-task k-D trailing-dims reports over a `seed` (the existing
   *  table's dims for streaming appends; empty for batch): tasks must agree
   *  with the seed and each other, and every ArrayType column must end up
   *  with SOME shape — the ONE dims-agreement definition shared by the
   *  batch and streaming commits. */
  def mergeDims(seed: Map[String, Seq[Int]],
      observed: Iterable[Map[String, Seq[Int]]], dataSchema: StructType,
      context: String): Map[String, Seq[Int]] = {
    val merged = scala.collection.mutable.Map.empty[String, Seq[Int]] ++ seed
    observed.foreach(_.foreach { case (n, d) =>
      merged.get(n) match {
        case Some(prev) if prev != d =>
          throw new ZarrException(
            s"$context: array column '$n' has trailing shape " +
              s"${prev.mkString("[", ",", "]")} (existing table or another " +
              s"task) but a task observed ${d.mkString("[", ",", "]")} — a " +
              "k-D Zarr array needs one shape")
        case _ => merged(n) = d
      }
    })
    dataSchema.fields.foreach { f =>
      if (leafType(f.dataType)._2 > 0 && !merged.contains(f.name))
        throw new ZarrException(
          s"$context: array column '${f.name}' has no non-null row " +
            "(or the table is empty) — cannot infer the k-D trailing " +
            "shape; fill nulls upstream")
    }
    merged.toMap
  }

  /** Trailing dims of one row's nested array value (used for the column's
   *  first non-null row; every later row is validated against it). */
  def discoverDims(col: String, a: org.apache.spark.sql.catalyst.util.ArrayData,
      depth: Int): Array[Int] = {
    val dims = new Array[Int](depth)
    var v = a
    var level = 0
    while (level < depth) {
      if (v == null)
        throw new ZarrException(
          s"zarr write: array column '$col' has a null nested array — only " +
            "whole-row nulls are storable")
      dims(level) = v.numElements()
      if (dims(level) == 0)
        throw new ZarrException(
          s"zarr write: array column '$col' has an empty array row — a k-D " +
            "Zarr array needs at least one element per trailing dim")
      level += 1
      if (level < depth) v = v.getArray(0)
    }
    dims
  }

  /**
   * Encode one stored chunk as a `sharding_indexed` SHARD: `chunkRows /
   * shardRows` inner chunks, each run through the normal [[encodeChunk]]
   * codecs, concatenated, with the (offset, nbytes) u64-LE index + crc32c
   * appended (index_location=end). The read side ([[graft.zarr.ZarrCodecs]]
   * decodeShard) fetches the whole object but decodes inner chunks lazily —
   * a scan that needs 1k rows of a 1M-row shard decodes one inner chunk.
   */
  def encodeShard(dt: DataType, values: Array[Any], count: Int,
      chunkRows: Int, shardRows: Int, compression: String = "zstd"): Array[Byte] = {
    require(shardRows > 0 && chunkRows % shardRows == 0,
      s"shard_rows=$shardRows must divide chunk_rows=$chunkRows")
    val nInner = chunkRows / shardRows
    val innerBuf = new Array[Any](shardRows)
    val parts = new Array[Array[Byte]](nInner)
    var i = 0
    while (i < nInner) {
      val from = i * shardRows
      var j = 0
      while (j < shardRows) {
        innerBuf(j) = if (from + j < count) values(from + j) else null
        j += 1
      }
      val innerCount = math.max(0, math.min(count - from, shardRows))
      parts(i) = encodeChunk(dt, innerBuf, innerCount, shardRows, compression)
      i += 1
    }
    val dataLen = parts.map(_.length).sum
    val idx = ByteBuffer.allocate(nInner * 16).order(ByteOrder.LITTLE_ENDIAN)
    var off = 0L
    parts.foreach { p => idx.putLong(off).putLong(p.length.toLong); off += p.length }
    val trailer = shardIndexTrailer(idx.array())
    val out = ByteBuffer.allocate(dataLen + trailer.length).order(ByteOrder.LITTLE_ENDIAN)
    parts.foreach(out.put)
    out.put(trailer)
    out.array()
  }

  /** The `sharding_indexed` shard trailer: the (offset, nbytes) u64-LE
   *  index entries followed by their little-endian crc32c
   *  (index_location=end, index_codecs bytes+crc32c) — the ONE definition
   *  shared by the buffered [[encodeShard]] and the streaming
   *  [[ZarrDataWriter]], so their bytes can never diverge. */
  def shardIndexTrailer(idxEntries: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32C()
    crc.update(idxEntries)
    ByteBuffer.allocate(idxEntries.length + 4).order(ByteOrder.LITTLE_ENDIAN)
      .put(idxEntries).putInt(crc.getValue.toInt).array()
  }
}

class ZarrWriteBuilder(
    path: String,
    group: String,
    schema: StructType,
    chunkRows: Int,
    rowIndexCol: Option[String],
    conf: Broadcast[SerializableHadoopConf],
    shardRows: Int = 0,
    compression: String = "zstd",
    zarrFormat: Int = 3)
  extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write =
    new ZarrWrite(path, group, schema, chunkRows, rowIndexCol, doTruncate, conf,
      shardRows, compression, zarrFormat)
}

/** Per-chunk column stats computed task-side: min/max/nulls aligned with the
 *  data schema's field order (null min/max = all-null chunk). `envs` carries
 *  per-column geometry envelopes (null for non-geo columns / unknown). */
case class ZarrChunkStatsMsg(
    chunk: Long, min: Array[String], max: Array[String], nulls: Array[Long],
    envs: Array[Array[Double]] = null)


/** One task's report, from a batch write and a streaming epoch alike: the
 *  chunks it wrote (id → rows now in that chunk, merged tail rows
 *  included), their stats, the row count the table reaches through this
 *  task's chunks, whether the task was the replay of an epoch already
 *  committed (it then wrote nothing), and the trailing dims it saw for k-D
 *  (ArrayType) columns — the driver checks that tasks and the existing
 *  table agree before publishing shape metadata. */
case class ZarrTaskCommit(
    chunks: Seq[(Long, Int)],
    stats: Seq[ZarrChunkStatsMsg],
    totalRows: Long,
    replayed: Boolean,
    dims: Map[String, Seq[Int]] = Map.empty) extends WriterCommitMessage

/**
 * Where a Zarr write goes and how its chunks are cut and encoded: what the
 * one writer factory, the one data writer and the one driver commit share.
 * A batch write is the epoch that starts at row 0 in an empty group; a
 * streaming epoch starts at the committed row count (zstd, v3 keys, and
 * the existing table's shard grid).
 */
case class ZarrLayout(
    path: String,
    groupRel: String,
    schema: StructType,
    dataSchema: StructType,
    chunkRows: Int,
    idxOrdinal: Option[Int],
    conf: Broadcast[SerializableHadoopConf],
    shardRows: Int = 0,
    compression: String = "zstd",
    zarrFormat: Int = 3) {

  def group: String = if (groupRel.isEmpty) "/" else s"/$groupRel"
  def store: ZarrStore = new ZarrStore(path, conf.value.value)

  /** The factory of both write kinds. Without `row_index`, positions are
   *  arrival order, so one task must see every row. */
  def factory(numPartitions: Int): ZarrWriterFactory = {
    if (idxOrdinal.isEmpty && numPartitions > 1)
      throw new ZarrException(
        s"zarr write with $numPartitions partitions needs option row_index " +
          "(a GLOBAL dense 0-based position column, rows routed per chunk) — " +
          "or coalesce(1) the input")
    new ZarrWriterFactory(this)
  }

  /**
   * The one driver commit. `startRows` is the committed row count (0 for
   * a batch write), `attrs` and `tableDims` the existing table's per-array
   * attributes and k-D dims, and `epoch` the streaming epoch, if any.
   * Steps, in this order:
   *
   *  1. chunk coverage: dense from the chunk holding row `startRows`, no
   *     chunk written by two tasks, every chunk full except the last —
   *     published metadata must never claim rows a gap would fake;
   *  2. the stats sidecar: fresh for a batch write, merged with the old
   *     sidecar for an epoch;
   *  3. streaming only: the commit marker with the k-D dims;
   *  4. the table metadata, which readers key off.
   *
   * Chunk objects past the published shape are invisible, so a crash at
   * any point leaves a consistent table. The marker precedes the shape
   * publish so that a crash in between is healed by a replayed epoch
   * ([[ZarrStreamingWrite.commit]]); metadata before the marker on a
   * marker-less table would instead replay into duplicates. A batch commit
   * reads neither marker nor old sidecar: its group is empty.
   */
  def commit(msgs: Seq[ZarrTaskCommit], startRows: Long, attrs: Map[String, String],
      tableDims: Map[String, Seq[Int]], epoch: Option[Long]): Unit = {
    val chunks = msgs.flatMap(_.chunks).sortBy(_._1)
    val totalRows =
      if (chunks.isEmpty) startRows
      else {
        val startChunk = startRows / chunkRows
        chunks.zipWithIndex.foreach { case ((id, _), i) =>
          if (id != startChunk + i) throw new ZarrException(
            if (chunks.count(_._1 == id) > 1)
              s"zarr write: chunk $id written by two tasks — route rows " +
                "with repartition(row_index div chunk_rows)"
            else
              s"zarr write: coverage gap (expected chunk ${startChunk + i}, " +
                s"saw $id) — row_index must be the global dense 0-based position")
        }
        chunks.dropRight(1).foreach { case (id, n) =>
          if (n != chunkRows) throw new ZarrException(
            s"zarr write: chunk $id has $n rows (expected $chunkRows) — a chunk " +
              "was split across tasks; route rows with " +
              "repartition(row_index div chunk_rows)")
        }
        chunks.last._1 * chunkRows + chunks.last._2
      }
    val dims = ZarrWriteSupport.mergeDims(tableDims, msgs.map(_.dims), dataSchema,
      "zarr write")
    val fs = new Path(path).getFileSystem(conf.value.value)
    // atomic publish for the sidecar and especially the marker: a torn
    // marker wedges the stream by design (ZarrStreamCommit.read)
    def writeFile(rel: String, text: String): Unit =
      AtomicPublish.write(fs, new Path(path, rel), text.getBytes(StandardCharsets.UTF_8))
    val stats = msgs.flatMap(_.stats).sortBy(_.chunk)
    if (stats.nonEmpty) {
      val sidecar = ZarrStats.relPath(groupRel)
      mergeStats(stats, totalRows, if (epoch.isEmpty) None else ZarrStats.read(store, group))
        match {
          case Some(s) => writeFile(sidecar, ZarrStats.toJson(s))
          case None => fs.delete(new Path(path, sidecar), false)
        }
    }
    epoch.foreach { e =>
      writeFile(ZarrStreamCommit.relPath(groupRel),
        s"""{"epoch":$e,"rows":$totalRows,"dims":${ZarrStreamCommit.dimsJson(dims)}}""")
    }
    if (zarrFormat == 2)
      ZarrWriteSupport.writeTableMetadataV2(fs, path, groupRel, dataSchema, totalRows,
        chunkRows, compression, dimsByName = dims)
    else
      ZarrWriteSupport.writeTableMetadata(fs, path, groupRel, dataSchema, totalRows,
        chunkRows, shardRows, compression, attrsByName = attrs, dimsByName = dims)
  }

  /** Fold the written chunks' stats into the `old` sidecar (a rewritten tail
   *  chunk replaces its entry). Stats are advisory: None — drop the file —
   *  when chunks before the first written one have no entry to vouch for
   *  them. */
  private def mergeStats(stats: Seq[ZarrChunkStatsMsg], totalRows: Long,
      old: Option[StoreChunkStats]): Option[StoreChunkStats] = {
    val nChunks = ((totalRows + chunkRows - 1) / chunkRows).toInt
    val first = stats.head.chunk
    val oldOk = old.filter(o => o.chunkRows == chunkRows && first <= o.nChunks)
    if (first > 0 && oldOk.isEmpty) return None
    val byChunk = stats.map(s => s.chunk -> s).toMap
    val fields = dataSchema.fields
    val cols = fields.indices.map { ci =>
      val oldCol = oldOk.flatMap(_.columns.get(fields(ci).name))
      def pick[T](i: Int, fromNew: ZarrChunkStatsMsg => T,
          fromOld: ColumnChunkStats => T, zero: T): T =
        byChunk.get(i.toLong).map(fromNew)
          .orElse(oldCol.collect { case o if i < o.nulls.length => fromOld(o) })
          .getOrElse(zero)
      fields(ci).name -> ColumnChunkStats(
        Array.tabulate(nChunks)(i => pick[String](i, _.min(ci), _.min(i), null)),
        Array.tabulate(nChunks)(i => pick[String](i, _.max(ci), _.max(i), null)),
        Array.tabulate(nChunks)(i => pick[Long](i, _.nulls(ci), _.nulls(i), 0L)))
    }.toMap
    // geometry envelopes merge the same way; a REWRITTEN chunk (tail merge)
    // whose fresh envelope is unknown stays unknown — never the stale entry
    val envMap = fields.indices
      .filter(ci => ZarrWriteSupport.isGeoColumn(fields(ci)))
      .map { ci =>
        val oldEnv = oldOk.flatMap(_.envelopes.get(fields(ci).name))
        fields(ci).name -> Array.tabulate(nChunks) { i =>
          byChunk.get(i.toLong)
            .map(m => if (m.envs == null) null else m.envs(ci))
            .orElse(oldEnv.collect { case e if i < e.length => e(i) })
            .orNull
        }
      }.toMap
    Some(StoreChunkStats(chunkRows, nChunks, totalRows, cols, envMap))
  }
}

class ZarrWrite(
    path: String,
    group: String,
    schema: StructType,
    chunkRows: Int,
    rowIndexCol: Option[String],
    doTruncate: Boolean,
    conf: Broadcast[SerializableHadoopConf],
    shardRows: Int = 0,
    compression: String = "zstd",
    zarrFormat: Int = 3)
  extends Write with BatchWrite
  with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  private val groupRel = group.stripPrefix("/").stripSuffix("/")
  private val layout = ZarrLayout(path, groupRel, schema,
    StructType(schema.fields.filterNot(f => rowIndexCol.contains(f.name))), chunkRows,
    rowIndexCol.map(schema.fieldIndex), conf, shardRows, compression, zarrFormat)
  private def validate(streaming: Boolean): Unit = ZarrWriteSupport.validate(
    layout.dataSchema, chunkRows, shardRows, compression, zarrFormat, streaming)

  // Without row_index Spark plans the single-partition metadata-scale write
  // itself (so CTAS and plain df.write just work); with row_index it sorts
  // rows by position within each partition — the caller only routes chunks.
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (rowIndexCol.isEmpty)
      // all rows in one cluster (constant clustering key) + numPartitions=1
      // → Spark plans the single-partition shuffle itself
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        Array(org.apache.spark.sql.connector.expressions.Expressions.literal(1)))
    else
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
  override def requiredNumPartitions(): Int =
    if (rowIndexCol.isEmpty) 1 else 0
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    rowIndexCol.map { c =>
      Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    }.getOrElse(Array.empty)

  override def toBatch: BatchWrite = {
    // Spark maps mode("append") to a plain (non-truncating) BATCH write —
    // but a batch Zarr write is whole-table by construction (chunk 0 starts
    // at row 0), so "append" onto existing arrays would silently overwrite
    // them. Only a fresh group or an explicit overwrite is meaningful.
    // (Continuous APPEND is exactly what the STREAMING sink is for.)
    if (!doTruncate) {
      val existing =
        try graft.zarr.ZarrSchema.listArrays(layout.store, layout.group)
        catch { case _: ZarrException => Seq.empty }
      if (existing.nonEmpty)
        throw new ZarrException(
          s"zarr sink: group '/$groupRel' at $path already holds a table; " +
            "batch-appending is not supported — use mode(\"overwrite\") " +
            "or the streaming sink (writeStream) to append")
    }
    this
  }

  // With row_index the sink appends MULTI-PARTITION epochs: the column is
  // the GLOBAL dense 0-based row position (the store's chunk grid is
  // global, so only a global index can route whole chunks once the
  // committed row count stops being chunk-aligned), and the caller
  // repartitions on (row_index div chunk_rows) exactly like the
  // distributed batch write. Without it: arrival order, one task.
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    validate(streaming = true)
    if (doTruncate)
      throw new ZarrException(
        "zarr streaming sink is append-only — use outputMode(\"append\")")
    new ZarrStreamingWrite(path, groupRel, schema, layout.dataSchema, chunkRows, conf,
      shardRows, layout.idxOrdinal)
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // every check runs before the overwrite below deletes the old table
    validate(streaming = false)
    val factory = layout.factory(info.numPartitions)
    if (doTruncate) {
      val fs = new Path(path).getFileSystem(conf.value.value)
      val g = if (groupRel.isEmpty) new Path(path) else new Path(path, groupRel)
      if (fs.exists(g)) fs.delete(g, true)
      // root-group overwrite deletes the whole store dir (incl. .zmetadata)
      if (groupRel.nonEmpty)
        ZarrWriteSupport.invalidateRootConsolidation(fs, path)
    }
    factory
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    layout.commit(messages.toSeq.map(_.asInstanceOf[ZarrTaskCommit]), 0L,
      ZarrWriteSupport.attrsFromSchema(layout.dataSchema), Map.empty, None)

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  // no zarr.json is written until commit, so aborted chunk objects are
  // invisible to readers; a subsequent overwrite clears them
}

/** The one writer factory, for batch tasks and streaming epochs. A streaming
 *  task reads the committed row count and whether its epoch is a replay
 *  from the store, as every task of the epoch and the driver commit do. */
class ZarrWriterFactory(layout: ZarrLayout)
  extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ZarrDataWriter(layout, startRows = 0L, replay = false)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val (lastEpoch, startRows) = ZarrStreamCommit.resolveStart(layout.store, layout.groupRel)
    new ZarrDataWriter(layout, startRows, replay = lastEpoch >= epochId)
  }
}

/**
 * The one Zarr data writer. It places rows on the global chunk grid — from
 * the `row_index` column, or by arrival order from `startRows` — streams
 * them into one open chunk per column (bounded memory), feeds each row to
 * the chunk's stats and envelope accumulators, and reports every chunk it
 * wrote. A batch write starts at row 0 of an empty group; a streaming
 * epoch starts at the committed row count, and the task that writes the
 * partial tail chunk first merges the rows it already holds. A `replay`
 * writes nothing.
 *
 * Sharded chunks stream too: one INNER chunk of values is buffered per
 * column, and each is encoded and appended to the open shard object as it
 * fills. Task memory is O(ncols × (shard_rows values + one open output
 * stream's buffer)), not O(ncols × chunk_rows values + a whole compressed
 * shard), which for 1 GiB shards was gigabytes per column per task.
 */
class ZarrDataWriter(layout: ZarrLayout, startRows: Long, replay: Boolean)
  extends DataWriter[InternalRow] {
  import layout.{chunkRows, compression, conf, dataSchema, groupRel, idxOrdinal, path, schema,
    shardRows, zarrFormat}

  private val fs = new Path(path).getFileSystem(conf.value.value)
  private val fields = dataSchema.fields
  private val dataOrdinals: Array[Int] = fields.map(f => schema.fieldIndex(f.name))
  private val ncols = fields.length
  // k-D (ArrayType) columns: leaf element type + trailing depth, and the
  // trailing dims discovered from the first non-null row (all later rows,
  // merged tail rows included, validate against them)
  private val leafInfo: Array[(DataType, Int)] =
    fields.map(f => ZarrWriteSupport.leafType(f.dataType))
  private val colDims: Array[Array[Int]] = new Array(ncols)
  private val sharded = shardRows > 0
  private val nInner = if (sharded) chunkRows / shardRows else 0
  private val buffers: Array[Array[Any]] =
    fields.map(_ => new Array[Any](if (sharded) shardRows else chunkRows))
  private val tailChunk = startRows / chunkRows
  private val tailFill = (startRows % chunkRows).toInt
  private var currentChunk = -1L
  private var count = 0 // rows of the current chunk so far
  private var innerDone = 0 // inner chunks of the current shard written
  private var synthesized = startRows // arrival-order positions
  private var localTotal = startRows
  private val written = mutable.ArrayBuffer.empty[(Long, Int)]
  private val stats = mutable.ArrayBuffer.empty[ZarrChunkStatsMsg]
  // per open chunk and column
  private val accs = new Array[ZarrWriteSupport.ChunkStatsAcc](ncols)
  private val envAccs = new Array[ZarrWriteSupport.ChunkEnvelopeAcc](ncols)
  private val outs = new Array[FSDataOutputStream](ncols)
  private val finals = new Array[Path](ncols)
  private val tmps = new Array[Path](ncols)
  private val idxBufs: Array[ByteBuffer] =
    fields.map(_ => ByteBuffer.allocate(nInner * 16).order(ByteOrder.LITTLE_ENDIAN))
  private val offs = new Array[Long](ncols)

  /** Only the partial tail chunk holds rows that readers can already see. */
  private def rewritesTail: Boolean = tailFill > 0 && currentChunk == tailChunk

  private def chunkPath(c: Int): Path = {
    val arrayDir = if (groupRel.isEmpty) new Path(path, fields(c).name)
      else new Path(new Path(path, groupRel), fields(c).name)
    // v3 default chunk-key encoding "c/<i>" vs v2's bare "<i>"; a k-D
    // column's trailing dims are unchunked (one grid cell), so its keys
    // carry `depth` trailing zero indices — "c/<i>/0" (v3) / "<i>.0" (v2)
    val depth = leafInfo(c)._2
    if (zarrFormat == 2)
      new Path(arrayDir, (currentChunk.toString +: Seq.fill(depth)("0")).mkString("."))
    else
      (0 until depth).foldLeft(
        new Path(new Path(arrayDir, "c"), currentChunk.toString))((p, _) => new Path(p, "0"))
  }

  /** Open column `c`'s chunk object. A chunk past the published shape is
   *  created in place — no reader can see it, and on an object store a
   *  rename is a copy. The tail chunk is staged aside and renamed over the
   *  old object when closed, so its readers see the old or the new bytes,
   *  never a partial object. */
  private def openObject(c: Int): Unit = {
    finals(c) = chunkPath(c)
    if (rewritesTail) {
      val (tmp, out) = AtomicPublish.stage(fs, finals(c))
      tmps(c) = tmp
      outs(c) = out
    } else outs(c) = fs.create(finals(c), true)
  }

  private def closeObject(c: Int): Unit = {
    outs(c).close()
    outs(c) = null
    if (tmps(c) != null) {
      AtomicPublish.publish(fs, tmps(c), finals(c))
      tmps(c) = null
    }
  }

  private def open(chunk: Long): Unit = {
    currentChunk = chunk
    count = 0
    innerDone = 0
    var c = 0
    while (c < ncols) {
      accs(c) = new ZarrWriteSupport.ChunkStatsAcc(fields(c).dataType)
      envAccs(c) =
        if (ZarrWriteSupport.isGeoColumn(fields(c))) new ZarrWriteSupport.ChunkEnvelopeAcc
        else null
      if (sharded) {
        openObject(c)
        idxBufs(c).clear()
        offs(c) = 0L
      }
      c += 1
    }
    if (rewritesTail) mergeTail()
  }

  /** Store column `c`'s value of the current row — the one ingest for live
   *  rows and merged tail rows, so both encode alike. k-D values are
   *  flattened now (Spark reuses a row's buffers, so a kept ArrayData would
   *  change under us), which also checks their extents. */
  private def put(c: Int, v0: Any): Unit = {
    val v = v0 match {
      case a: ArrayData =>
        val (leaf, depth) = leafInfo(c)
        if (colDims(c) == null)
          colDims(c) = ZarrWriteSupport.discoverDims(fields(c).name, a, depth)
        ZarrWriteSupport.flattenNdRow(fields(c).name, a, colDims(c), leaf)
      case u: UTF8String => u.toString
      case other => other
    }
    buffers(c)(count - innerDone * shardRows) = v
    accs(c).observe(v)
    if (envAccs(c) != null) envAccs(c).observe(v)
  }

  private def endRow(): Unit = {
    count += 1
    if (sharded && count - innerDone * shardRows == shardRows) writeInner(shardRows)
    if (count == chunkRows) flush()
  }

  /** Merge the existing partial tail chunk so its rewrite keeps the old
   *  rows — through [[put]] like live rows, with bounded memory even for a
   *  multi-GiB sharded tail (fetchChunk's ranged path + one inner chunk of
   *  buffered values). Only one task may write the tail chunk (whole-chunk
   *  routing). */
  private def mergeTail(): Unit = {
    val store = layout.store
    val arrays = ZarrSchema.listArrays(store, layout.group)
    val old: Array[ColumnChunk] = fields.map { f =>
      val meta = arrays.find(_.name == f.name).getOrElse(
        throw new ZarrException(s"no existing array for streamed column '${f.name}'"))
      ZarrCodecs.fetchChunk(store, meta, tailChunk)
    }
    try {
      var i = 0
      while (i < tailFill) {
        var c = 0
        while (c < ncols) { put(c, old(c).get(i)); c += 1 }
        endRow()
        i += 1
      }
    } finally old.foreach(_.close())
  }

  /** Encode and append one inner chunk of `n` buffered rows (0 = all-fill
   *  padding, exactly what the buffered encodeShard emits). */
  private def writeInner(n: Int): Unit = {
    var c = 0
    while (c < ncols) {
      val bytes = ZarrWriteSupport.encodeChunk(
        fields(c).dataType, buffers(c), n, shardRows, compression)
      outs(c).write(bytes)
      idxBufs(c).putLong(offs(c)).putLong(bytes.length.toLong)
      offs(c) += bytes.length
      c += 1
    }
    innerDone += 1
  }

  override def write(row: InternalRow): Unit = {
    if (replay) return
    val pos = idxOrdinal match {
      case Some(o) =>
        if (row.isNullAt(o)) // getLong on a null slot silently yields 0
          throw new ZarrException(
            "zarr write: row_index is NULL — the position column must be a " +
              "non-null global dense 0-based index")
        row.getLong(o)
      case None => val p = synthesized; synthesized += 1; p
    }
    if (pos < startRows)
      throw new ZarrException(
        s"zarr write: row_index $pos is behind the committed row count " +
          s"$startRows — row_index must be the GLOBAL dense 0-based position " +
          "(a log offset), not a per-epoch index")
    val chunk = pos / chunkRows
    if (chunk != currentChunk) {
      flush()
      open(chunk)
    }
    if (pos % chunkRows != count)
      throw new ZarrException(
        s"zarr write: row at position $pos arrived out of order (expected " +
          s"offset $count in chunk $chunk) — row_index must be dense with " +
          "whole chunks per task (repartition(row_index div chunk_rows))")
    var c = 0
    while (c < ncols) {
      val o = dataOrdinals(c)
      put(c, if (row.isNullAt(o)) null else row.get(o, fields(c).dataType))
      c += 1
    }
    endRow()
  }

  private def flush(): Unit = {
    if (currentChunk >= 0 && count > 0) {
      val mins = new Array[String](ncols)
      val maxs = new Array[String](ncols)
      val nulls = new Array[Long](ncols)
      val envs = new Array[Array[Double]](ncols)
      if (sharded) {
        val residual = count - innerDone * shardRows
        if (residual > 0) writeInner(residual)
        while (innerDone < nInner) writeInner(0) // trailing all-fill inners
      }
      var c = 0
      while (c < ncols) {
        val f = fields(c)
        if (sharded) outs(c).write(ZarrWriteSupport.shardIndexTrailer(idxBufs(c).array()))
        else {
          val bytes =
            if (leafInfo(c)._2 > 0) {
              if (colDims(c) == null)
                throw new ZarrException(
                  s"zarr write: array column '${f.name}' has only null rows in " +
                    "a chunk before any non-null row established its trailing " +
                    "dims — fill nulls upstream (a k-D chunk grid needs a shape)")
              ZarrWriteSupport.encodeChunkNd(f.dataType, colDims(c).product,
                buffers(c), count, chunkRows, compression)
            } else ZarrWriteSupport.encodeChunk(f.dataType, buffers(c), count,
              chunkRows, compression)
          openObject(c)
          outs(c).write(bytes)
        }
        closeObject(c)
        val (mn, mx, nl) = accs(c).result()
        mins(c) = mn; maxs(c) = mx; nulls(c) = nl
        if (envAccs(c) != null) envs(c) = envAccs(c).result()
        c += 1
      }
      written += ((currentChunk, count))
      stats += ZarrChunkStatsMsg(currentChunk, mins, maxs, nulls, envs)
      localTotal = math.max(localTotal, currentChunk * chunkRows + count)
    }
    currentChunk = -1
    count = 0
  }

  /** Close any open chunk object (failed task) and remove a staged tail
   *  rewrite: the old tail object stays, and fresh objects past the
   *  published shape stay invisible. */
  private def releaseStreams(): Unit = {
    var c = 0
    while (c < ncols) {
      if (outs(c) != null) {
        try outs(c).close() catch { case _: java.io.IOException => }
        outs(c) = null
      }
      if (tmps(c) != null) {
        try fs.delete(tmps(c), false) catch { case _: java.io.IOException => }
        tmps(c) = null
      }
      c += 1
    }
  }

  override def commit(): WriterCommitMessage = {
    flush()
    val dims = fields.indices
      .filter(c => colDims(c) != null)
      .map(c => fields(c).name -> colDims(c).toSeq)
      .toMap
    ZarrTaskCommit(written.toSeq, stats.toSeq, localTotal, replay, dims)
  }
  override def abort(): Unit = releaseStreams()
  override def close(): Unit = releaseStreams()
}
