package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.github.luben.zstd.Zstd

import org.apache.hadoop.fs.Path

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.zarr.{SerializableHadoopConf, ZarrException}

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
 * synthesized) — the metadata-scale path.
 *
 * Dtype mapping (write side of SURVEY §1.3): long→int64, int→int32,
 * short→int16, byte→int8, double→float64, float→float32, bool→bool,
 * string→vlen-utf8 (numcodecs framing), timestamp_ntz→datetime64[us]
 * (null → NaT). All columns zstd(0)-compressed.
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

  /** Column names are interpolated into zarr.json / consolidated-metadata
   *  JSON and become directory names: a quote or backslash would commit
   *  unparseable metadata AFTER all chunk data is written; a slash or
   *  control char breaks the object layout. Names that collide with the
   *  store's own metadata objects (v3 zarr.json, v2 dot-files, the graft
   *  sidecars) would shadow them with a chunk DIRECTORY — the commit's
   *  atomic rename onto a non-empty dir then fails after every chunk was
   *  already written, or worse leaves an unreadable store. Fail before any
   *  task runs. */
  def validateColumnNames(schema: StructType): Unit =
    schema.fieldNames.foreach { n =>
      if (n.isEmpty || n.exists(c => c == '"' || c == '\\' || c == '/' || c.isControl))
        throw new ZarrException(
          s"zarr write: column name '$n' cannot be stored " +
            "(empty, or contains quote/backslash/slash/control characters)")
      if (n == "zarr.json" || n.startsWith(".") ||
          n == graft.zarr.ZarrStats.FileName || n == ZarrStreamCommit.FileName)
        throw new ZarrException(
          s"zarr write: column name '$n' is reserved for store metadata " +
            "(zarr.json, dot-prefixed v2 documents, graft sidecars) — rename it")
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

  /** Array columns must have fixed-width leaves: Zarr k-D chunks are dense
   *  C-order blocks, and a vlen element type has no per-element extent. */
  def validateArrayLeaf(f: StructField): Unit = {
    val (leaf, depth) = leafType(f.dataType)
    if (depth > 0) leaf match {
      case StringType | BinaryType | _: StructType | _: MapType =>
        throw new ZarrException(
          s"zarr write: array column '${f.name}' has ${leaf.simpleString} " +
            "elements — only fixed-width numeric/boolean/timestamp elements " +
            "can be stored as a k-D Zarr array")
      case _ => ()
    }
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

  /**
   * Union envelope [minx, miny, maxx, maxy] of a chunk's parseable WKT
   * values, or null when unknown (malformed text, or no geometry at all).
   * Rows whose WKT yields no envelope evaluate `bbox_intersects` to false,
   * so omitting them from the union never over-prunes.
   */
  def chunkEnvelope(values: Array[Any], count: Int): Array[Double] = {
    val acc = new ChunkEnvelopeAcc
    var i = 0
    while (i < count) { acc.observe(values(i)); i += 1 }
    acc.result()
  }

  /** Incremental per-chunk geometry envelope — the single definition behind
   *  [[chunkEnvelope]]. The envelope is the union of the envelopes of the
   *  chunk's PARSEABLE rows only: [[graft.functions.Wkt.envelope]] maps
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
   * (min, max, nullCount) of the `count` buffered values of one column —
   * recorded per chunk into the `_graft_stats.json` sidecar so the scan can
   * prune chunk ranges from pushed filters ([[graft.zarr.ZarrStats]]).
   * String order uses UTF8String binary comparison (Spark's own string
   * ordering — a java.String compare would disagree on supplementary chars
   * and make pruning unsound). min/max are null when every value is null.
   */
  def chunkColumnStats(dt: DataType, values: Array[Any], count: Int): (String, String, Long) = {
    val acc = new ChunkStatsAcc(dt)
    var i = 0
    while (i < count) { acc.observe(values(i)); i += 1 }
    acc.result()
  }

  /**
   * Incremental per-chunk (min, max, nullCount) — the single definition
   * behind [[chunkColumnStats]], usable row-by-row so the streaming sharded
   * write path needs no whole-chunk value buffer.
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
   *  [[ZarrDataWriter]] so the two writers can never diverge. */
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

/** One task's report: the chunks it wrote, their row counts, stats, and the
 *  trailing dims observed for k-D (ArrayType) columns — the driver needs
 *  them to write shape/chunk metadata, and validates tasks agree. */
case class ZarrCommit(chunks: Seq[(Long, Int)], stats: Seq[ZarrChunkStatsMsg],
    dims: Map[String, Seq[Int]] = Map.empty)
  extends WriterCommitMessage

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
  private def dataSchema: StructType =
    StructType(schema.fields.filterNot(f => rowIndexCol.contains(f.name)))
  ZarrWriteSupport.validateColumnNames(dataSchema)

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
        try graft.zarr.ZarrSchema.listArrays(
          new graft.zarr.ZarrStore(path, conf.value.value), s"/$groupRel")
        catch { case _: ZarrException => Seq.empty }
      if (existing.nonEmpty)
        throw new ZarrException(
          s"zarr sink: group '/$groupRel' at $path already holds a table; " +
            "batch-appending is not supported — use mode(\"overwrite\") " +
            "or the streaming sink (writeStream) to append")
    }
    this
  }

  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    if (zarrFormat == 2)
      throw new ZarrException(
        "zarr streaming sink writes Zarr v3 stores only (its epoch commits " +
          "republish v3 consolidated metadata) — drop option zarr_format=2, " +
          "or batch-write v2 tables with df.write")
    if (doTruncate)
      throw new ZarrException(
        "zarr streaming sink is append-only — use outputMode(\"append\")")
    if (shardRows > 0 && chunkRows % shardRows != 0)
      throw new ZarrException(
        s"option shard_rows=$shardRows must divide chunk_rows=$chunkRows " +
          "(a shard holds whole inner chunks)")
    // With row_index the sink appends MULTI-PARTITION epochs: the column is
    // the GLOBAL dense 0-based row position (not per-epoch — the store's
    // chunk grid is global, so only a global index can route whole chunks
    // once the committed row count stops being chunk-aligned), and the
    // caller repartitions on (row_index div chunk_rows) exactly like the
    // distributed batch write. Without it: arrival order, one task.
    ZarrWriteSupport.attrsFromSchema(dataSchema) // fail-fast, as in batch
    dataSchema.fields.foreach(ZarrWriteSupport.validateArrayLeaf)
    if (shardRows > 0 &&
        dataSchema.fields.exists(f => ZarrWriteSupport.leafType(f.dataType)._2 > 0))
      throw new ZarrException(
        "shard_rows with an array (k-D) column is not supported — " +
          "sharding covers the 1-D row layout; drop shard_rows")
    // the sink encodes zstd (its epoch metadata republish and tail rewrites
    // assume one codec for the table's lifetime); silently dropping a
    // requested codec is the bug class the catalog's TBLPROPERTIES
    // validation exists for — reject loudly instead
    if (compression != "zstd")
      throw new ZarrException(
        s"zarr streaming sink writes zstd-compressed chunks only (got " +
          s"compression '$compression') — batch-write $compression tables " +
          "with df.write")
    new ZarrStreamingWrite(path, groupRel, schema, dataSchema, chunkRows, conf,
      shardRows, rowIndexCol.map(c => schema.fieldIndex(c)))
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // fail-fast on garbage zarr.attributes metadata BEFORE any task runs —
    // commit-time rejection would discard a whole distributed write's work
    ZarrWriteSupport.attrsFromSchema(dataSchema)
    // overwrite: clear existing array dirs under the group BEFORE tasks write
    if (doTruncate) {
      val fs = new Path(path).getFileSystem(conf.value.value)
      val g = if (groupRel.isEmpty) new Path(path) else new Path(path, groupRel)
      if (fs.exists(g)) fs.delete(g, true)
      // root-group overwrite deletes the whole store dir (incl. .zmetadata)
      if (groupRel.nonEmpty)
        ZarrWriteSupport.invalidateRootConsolidation(fs, path)
    }
    if (rowIndexCol.isEmpty && info.numPartitions > 1)
      throw new ZarrException(
        s"zarr write with ${info.numPartitions} partitions needs option row_index " +
          "(a dense 0-based position column, rows routed per chunk) — or coalesce(1)")
    if (shardRows > 0 && chunkRows % shardRows != 0)
      throw new ZarrException(
        s"option shard_rows=$shardRows must divide chunk_rows=$chunkRows " +
          "(a shard holds whole inner chunks)")
    if (zarrFormat == 2 && shardRows > 0)
      throw new ZarrException(
        "zarr v2 has no sharding extension — drop shard_rows or write zarr_format=3")
    dataSchema.fields.foreach(ZarrWriteSupport.validateArrayLeaf)
    if (shardRows > 0 &&
        dataSchema.fields.exists(f => ZarrWriteSupport.leafType(f.dataType)._2 > 0))
      throw new ZarrException(
        "shard_rows with an array (k-D) column is not supported — " +
          "sharding covers the 1-D row layout; drop shard_rows")
    // fail fast on unknown compression / unsupported v2 dtypes before any task runs
    if (zarrFormat == 2) {
      ZarrWriteSupport.compressorV2Json(StringType, compression)
      dataSchema.fields.foreach(f => ZarrWriteSupport.dtypeV2(f.dataType))
    } else ZarrWriteSupport.codecsJson(StringType, compression)
    new ZarrWriterFactory(path, groupRel, schema, dataSchema, chunkRows,
      rowIndexCol.map(c => schema.fieldIndex(c)), conf, shardRows, compression,
      v2Keys = zarrFormat == 2)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val all = messages.flatMap(_.asInstanceOf[ZarrCommit].chunks).sortBy(_._1)
    // validate dense full coverage: chunk ids 0..m, all full except the last
    all.zipWithIndex.foreach { case ((id, _), i) =>
      if (id != i) throw new ZarrException(
        s"zarr write: chunk $i missing or duplicated (saw chunk id $id) — " +
          "row_index must be dense 0..n-1 with whole chunks per task")
    }
    all.dropRight(1).foreach { case (id, n) =>
      if (n != chunkRows) throw new ZarrException(
        s"zarr write: chunk $id has $n rows (expected $chunkRows) — " +
          "a chunk was split across tasks; repartition on (row_index div chunk_rows)")
    }
    val totalRows = all.map(_._2.toLong).sum
    // k-D columns: every task that saw rows reports the trailing dims it
    // validated against; tasks must agree (ragged data already failed
    // task-side, but two tasks CAN each be self-consistent with different
    // shapes), and an ArrayType column with zero non-null rows anywhere
    // has no storable shape at all
    val dimsByName: Map[String, Seq[Int]] = ZarrWriteSupport.mergeDims(
      Map.empty, messages.map(_.asInstanceOf[ZarrCommit].dims).toSeq,
      dataSchema, "zarr write")
    val fs = new Path(path).getFileSystem(conf.value.value)
    def writeJson(p: Path, text: String): Unit =
      graft.zarr.AtomicPublish.write(fs, p, text.getBytes(StandardCharsets.UTF_8))
    // chunk-stats sidecar, merged from the tasks' per-chunk reports; written
    // BEFORE zarr.json so a table is never readable with stats still missing
    // (stats-less is fine — the scan treats them as advisory — but this
    // ordering makes the commit all-or-nothing for readers)
    val allStats = messages.flatMap(_.asInstanceOf[ZarrCommit].stats).sortBy(_.chunk)
    if (allStats.length == all.length && dataSchema.fields.nonEmpty) {
      val fields = dataSchema.fields
      val cols = fields.indices.map { c =>
        fields(c).name -> graft.zarr.ColumnChunkStats(
          allStats.map(_.min(c)).toArray,
          allStats.map(_.max(c)).toArray,
          allStats.map(_.nulls(c)).toArray)
      }.toMap
      val envMap = fields.indices
        .filter(c => ZarrWriteSupport.isGeoColumn(fields(c)))
        .map { c =>
          fields(c).name ->
            allStats.map(s => if (s.envs == null) null else s.envs(c)).toArray
        }.toMap
      val sidecar = graft.zarr.StoreChunkStats(chunkRows, allStats.length, totalRows, cols,
        envMap)
      val p = if (groupRel.isEmpty) new Path(path, graft.zarr.ZarrStats.FileName)
        else new Path(new Path(path, groupRel), graft.zarr.ZarrStats.FileName)
      writeJson(p, graft.zarr.ZarrStats.toJson(sidecar))
    }
    if (zarrFormat == 2)
      ZarrWriteSupport.writeTableMetadataV2(fs, path, groupRel, dataSchema, totalRows,
        chunkRows, compression, dimsByName = dimsByName)
    else
      ZarrWriteSupport.writeTableMetadata(fs, path, groupRel, dataSchema, totalRows,
        chunkRows, shardRows, compression,
        attrsByName = ZarrWriteSupport.attrsFromSchema(dataSchema),
        dimsByName = dimsByName)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  // no zarr.json is written until commit, so aborted chunk objects are
  // invisible to readers; a subsequent overwrite clears them
}

class ZarrWriterFactory(
    path: String,
    groupRel: String,
    schema: StructType,
    dataSchema: StructType,
    chunkRows: Int,
    idxOrdinal: Option[Int],
    conf: Broadcast[SerializableHadoopConf],
    shardRows: Int = 0,
    compression: String = "zstd",
    v2Keys: Boolean = false)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ZarrDataWriter(path, groupRel, schema, dataSchema, chunkRows, idxOrdinal,
      conf, shardRows, compression, v2Keys)
}

class ZarrDataWriter(
    path: String,
    groupRel: String,
    schema: StructType,
    dataSchema: StructType,
    chunkRows: Int,
    idxOrdinal: Option[Int],
    conf: Broadcast[SerializableHadoopConf],
    shardRows: Int = 0,
    compression: String = "zstd",
    v2Keys: Boolean = false)
  extends DataWriter[InternalRow] {

  private val fs = new Path(path).getFileSystem(conf.value.value)
  private val dataOrdinals: Array[Int] =
    dataSchema.fields.map(f => schema.fieldIndex(f.name))
  private val ncols = dataOrdinals.length
  private val sharded = shardRows > 0
  // k-D (ArrayType) columns: leaf element type + trailing depth, and the
  // trailing dims discovered from the first non-null row (all later rows
  // validate against them — a dense chunk grid cannot hold ragged rows)
  private val leafInfo: Array[(DataType, Int)] =
    dataSchema.fields.map(f => ZarrWriteSupport.leafType(f.dataType))
  private val colDims: Array[Array[Int]] = new Array(ncols)
  // sharded writes STREAM: buffer one INNER chunk of values, encode and
  // append it to the open shard object as it fills, and accumulate chunk
  // stats row-by-row — the write-side mirror of the reader's ranged shard
  // path. Task memory is O(ncols × (shard_rows values + one open output
  // stream's buffer)): rows arrive row-wise across all columns, so every
  // column's shard object stays open for the chunk's lifetime (on s3a
  // fast-upload that is one multipart buffer per column). Still far below
  // the buffered path's O(ncols × chunk_rows values + whole compressed
  // shard), which for 1 GiB shards was gigabytes per column per task.
  private val bufRows = if (sharded) shardRows else chunkRows
  private val nInner = if (sharded) chunkRows / shardRows else 0
  private val buffers: Array[Array[Any]] =
    dataSchema.fields.map(_ => new Array[Any](bufRows))
  private var currentChunk = -1L
  private var count = 0 // rows of the current chunk seen so far
  private var synthesized = 0L
  private val written = mutable.ArrayBuffer.empty[(Long, Int)]
  private val stats = mutable.ArrayBuffer.empty[ZarrChunkStatsMsg]
  // streaming shard state (sharded only), reset per chunk
  private var outs: Array[org.apache.hadoop.fs.FSDataOutputStream] = _
  private var idxBufs: Array[ByteBuffer] = _
  private var offs: Array[Long] = _
  private var innerDone = 0
  private var accs: Array[ZarrWriteSupport.ChunkStatsAcc] = _
  private var envAccs: Array[ZarrWriteSupport.ChunkEnvelopeAcc] = _

  private def chunkPathOf(name: String, depth: Int = 0): Path = {
    val arrayDir = if (groupRel.isEmpty) new Path(path, name)
      else new Path(new Path(path, groupRel), name)
    // v3 default chunk-key encoding "c/<i>" vs v2's bare "<i>"; a k-D
    // column's trailing dims are unchunked (one grid cell), so its keys
    // carry `depth` trailing zero indices — "c/<i>/0" (v3) / "<i>.0" (v2)
    if (v2Keys)
      new Path(arrayDir, (currentChunk.toString +: Seq.fill(depth)("0")).mkString("."))
    else
      (0 until depth).foldLeft(
        new Path(new Path(arrayDir, "c"), currentChunk.toString))((p, _) => new Path(p, "0"))
  }

  private def openShardChunk(): Unit = {
    outs = new Array(ncols)
    idxBufs = new Array(ncols)
    offs = new Array(ncols)
    accs = new Array(ncols)
    envAccs = new Array(ncols)
    innerDone = 0
    var c = 0
    while (c < ncols) {
      val f = dataSchema.fields(c)
      outs(c) = fs.create(chunkPathOf(f.name), true)
      idxBufs(c) = ByteBuffer.allocate(nInner * 16).order(ByteOrder.LITTLE_ENDIAN)
      accs(c) = new ZarrWriteSupport.ChunkStatsAcc(f.dataType)
      if (ZarrWriteSupport.isGeoColumn(f))
        envAccs(c) = new ZarrWriteSupport.ChunkEnvelopeAcc
      c += 1
    }
  }

  /** Encode and append one inner chunk of `n` buffered rows (0 = all-fill
   *  padding, exactly what the buffered encodeShard emitted). */
  private def writeInner(n: Int): Unit = {
    var c = 0
    while (c < ncols) {
      val bytes = ZarrWriteSupport.encodeChunk(
        dataSchema.fields(c).dataType, buffers(c), n, shardRows, compression)
      outs(c).write(bytes)
      idxBufs(c).putLong(offs(c)).putLong(bytes.length.toLong)
      offs(c) += bytes.length
      c += 1
    }
    innerDone += 1
  }

  override def write(row: InternalRow): Unit = {
    val pos = idxOrdinal match {
      case Some(o) =>
        if (row.isNullAt(o)) // getLong on a null slot silently yields 0
          throw new ZarrException(
            "zarr write: row_index is NULL — the position column must be a " +
              "non-null dense 0-based index")
        row.getLong(o)
      case None => val p = synthesized; synthesized += 1; p
    }
    val chunk = pos / chunkRows
    val off = (pos % chunkRows).toInt
    if (chunk != currentChunk) {
      flush()
      currentChunk = chunk
      if (sharded) openShardChunk()
    }
    if (off != count)
      throw new ZarrException(
        s"zarr write: row at position $pos arrived out of order (expected offset " +
          s"$count in chunk $chunk) — sortWithinPartitions(row_index) required")
    val slot = if (sharded) count - innerDone * shardRows else count
    var c = 0
    while (c < ncols) {
      val f = dataSchema.fields(c)
      val (leaf, depth) = leafInfo(c)
      val v =
        if (row.isNullAt(dataOrdinals(c))) null
        else if (depth > 0) {
          // flatten NOW: Spark reuses the incoming row's backing buffer, so
          // a raw ArrayData reference would be invalid by flush time — and
          // flattening validates the row's extents in the same pass
          val a = row.get(dataOrdinals(c), f.dataType)
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          if (colDims(c) == null)
            colDims(c) = ZarrWriteSupport.discoverDims(f.name, a, depth)
          ZarrWriteSupport.flattenNdRow(f.name, a, colDims(c), leaf)
        }
        else row.get(dataOrdinals(c), f.dataType) match {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
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
    if (count == chunkRows) flush()
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
        var c = 0
        while (c < ncols) {
          outs(c).write(ZarrWriteSupport.shardIndexTrailer(idxBufs(c).array()))
          outs(c).close(); outs(c) = null
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
                  s"zarr write: array column '${f.name}' has only null rows in " +
                    "a chunk before any non-null row established its trailing " +
                    "dims — fill nulls upstream (a k-D chunk grid needs a shape)")
              ZarrWriteSupport.encodeChunkNd(f.dataType, colDims(c).product,
                buffers(c), count, chunkRows, compression)
            } else ZarrWriteSupport.encodeChunk(f.dataType, buffers(c), count,
              chunkRows, compression)
          val out = fs.create(chunkPathOf(f.name, leafInfo(c)._2), true)
          try out.write(bytes) finally out.close()
          c += 1
        }
      }
      written += ((currentChunk, count))
      stats += ZarrChunkStatsMsg(currentChunk, mins, maxs, nulls, envs)
      count = 0
    }
    currentChunk = -1
  }

  /** Close any open shard streams (failed task): released, never published —
   *  the commit protocol only exposes tables via metadata written at commit. */
  private def releaseStreams(): Unit = if (outs != null) {
    var c = 0
    while (c < ncols) {
      if (outs(c) != null) {
        try outs(c).close() catch { case _: java.io.IOException => }
        outs(c) = null
      }
      c += 1
    }
  }

  override def commit(): WriterCommitMessage = {
    flush()
    val dims = dataSchema.fields.indices
      .filter(c => colDims(c) != null)
      .map(c => dataSchema.fields(c).name -> colDims(c).toSeq)
      .toMap
    ZarrCommit(written.toSeq, stats.toSeq, dims)
  }
  override def abort(): Unit = releaseStreams()
  override def close(): Unit = releaseStreams()
}
