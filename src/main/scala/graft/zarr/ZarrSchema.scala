package graft.zarr

import org.apache.spark.sql.types._

/**
 * Zarr group → Spark schema inference.
 *
 * Semantics match the reference (src/schema.rs:16-41): list the child arrays
 * of a group, map each dtype to a Catalyst type, sort fields by name, mark
 * everything non-nullable. The `bbox` string column additionally carries
 * GeoArrow-style WKT metadata (src/schema.rs:57-74) — Spark has no Arrow
 * extension types, so the annotation lives in `StructField.metadata` and the
 * spatial semantics come from `graft.functions.GeoFunctions`.
 *
 * Type widenings (documented; Spark's type lattice is narrower than Arrow's):
 * uint8→short, uint16→int, uint32→long, uint64→decimal(20,0), float16→float.
 * Unlike the reference (src/schema.rs:97-98 drops it), datetime64
 * `scale_factor` is honored during decode.
 */
object ZarrSchema {

  val BboxMetadata: Metadata = new MetadataBuilder()
    .putString("geoarrow.type", "wkt")
    .putString("crs", "EPSG:4326")
    .build()

  def catalystType(dt: ZarrType): DataType = {
    import ZarrType._
    dt match {
      case ZBool             => BooleanType
      case ZInt8             => ByteType
      case ZInt16            => ShortType
      case ZInt32            => IntegerType
      case ZInt64            => LongType
      case ZUInt8            => ShortType
      case ZUInt16           => IntegerType
      case ZUInt32           => LongType
      case ZUInt64           => DecimalType(20, 0)
      case ZFloat16          => FloatType
      case ZFloat32          => FloatType
      case ZFloat64          => DoubleType
      case ZString           => StringType
      case ZBytes            => BinaryType
      case ZRaw(_)           => BinaryType
      case ZDatetime64(_, _) => TimestampNTZType
    }
  }

  /** The full Catalyst column type of an array, nesting included: a k-D
   *  array maps to one nested-ArrayType column — dim 0 is the row axis,
   *  each trailing dim adds one ArrayType level. Elements are only nullable
   *  for datetime64 (NaT); the arrays themselves always exist. The ONE
   *  definition shared by schema inference and the columnar reader's
   *  vector allocation. */
  def columnType(meta: ZarrArrayMeta): DataType = {
    val leaf = catalystType(meta.dtype)
    meta.trailingShape.foldLeft(leaf)((inner, _) =>
      ArrayType(inner, containsNull = leaf == TimestampNTZType))
  }

  def toField(meta: ZarrArrayMeta): StructField = {
    val dt = columnType(meta)
    // user attributes (v3 `attributes` / v2 `.zattrs`) ride on the column
    // as Spark metadata under "zarr.attributes" (raw JSON) — units,
    // _ARRAY_DIMENSIONS etc. survive into DataFrame schemas
    def withAttrs(base: Metadata): Metadata =
      if (meta.attrsJson == null) base
      else new MetadataBuilder().withMetadata(base)
        .putString("zarr.attributes", meta.attrsJson).build()
    // the WKT-geometry special case is a 1-D convention (one WKT string per
    // row); a k-D array named "bbox" (e.g. a numeric [n,4] box table — the
    // standard layout in geo/ML datasets) is a plain nested column, not an
    // error
    if (meta.name == "bbox" && meta.rank == 1) {
      if (dt != StringType)
        throw new ZarrException(s"bbox column must be a string array, got ${meta.dtype}")
      StructField("bbox", StringType, nullable = false,
        metadata = withAttrs(BboxMetadata))
    } else {
      // Deviation from the reference's blanket nullable=false
      // (src/schema.rs:64): datetime64 columns are nullable because numpy's
      // NaT sentinel (i64.MIN) decodes to null rather than a garbage
      // timestamp (see ZarrCodecs datetime decode).
      val nullable = dt == TimestampNTZType
      StructField(meta.name, dt, nullable = nullable,
        metadata = withAttrs(Metadata.empty))
    }
  }

  /** List + parse the child arrays of `group` in `store`, sorted by name.
   *  Zarr v3 (`zarr.json`) and v2 (`.zgroup`/`.zarray`) stores both resolve
   *  — v2 is the majority of public stores in the wild. A v3 `zarr.json`
   *  wins when both exist (a store migrated in place).
   *
   *  CONSOLIDATED metadata is preferred on both paths — v3
   *  `consolidated_metadata` in the group document (zarr-python 3
   *  convention; our own write path emits it) and v2 `.zmetadata`
   *  (`zarr_consolidated_format`) — collapsing planning on an object store
   *  to ONE metadata read instead of a LIST + one read per column. */
  def listArrays(store: ZarrStore, group: String): Seq[ZarrArrayMeta] = {
    val groupRel = group.stripPrefix("/").stripSuffix("/")
    def rel(name: String) = if (groupRel.isEmpty) name else s"$groupRel/$name"
    def arrayDir(child: String) = if (groupRel.isEmpty) child else s"$groupRel/$child"
    val v3Group = store.readBytesIfExists(rel("zarr.json"))
    if (v3Group != null) {
      val groupNode = ZarrMeta.parseJson(
        new String(v3Group, java.nio.charset.StandardCharsets.UTF_8))
      if (!ZarrMeta.isGroup(groupNode))
        throw new ZarrException(s"'$group' is not a Zarr group")
      // consolidation is an OPTIMIZATION: a malformed/stale consolidated
      // block must degrade to listing the per-array documents, not fail a
      // store whose real metadata is fine. zarr-python 3.x layout:
      // `consolidated_metadata: {kind: "inline", must_understand: false,
      // metadata: {<path relative to THIS group>: <node document>}}` —
      // `zarr.consolidate_metadata(store)` defaults to the ROOT group with
      // keys like "meta/collection", so when the table group's own doc
      // carries no consolidation we also probe the root document for
      // group-prefixed keys (the same fallback the v2 .zmetadata path has).
      def consolidatedV3(docNode: com.fasterxml.jackson.databind.JsonNode,
          keyPrefix: String): Option[Seq[ZarrArrayMeta]] =
        try {
          val cons = docNode.path("consolidated_metadata").path("metadata")
          if (!cons.isObject) return None
          val it = cons.fieldNames()
          val names = Seq.newBuilder[String]
          while (it.hasNext) names += it.next()
          val out = names.result()
            .collect { case k if k.startsWith(keyPrefix) =>
              (k, k.stripPrefix(keyPrefix)) }
            .filter { case (_, child) => child.nonEmpty && !child.contains("/") }
            .sortBy(_._2)
            .flatMap { case (k, child) =>
              val node = cons.get(k)
              if (node.path("node_type").asText() == "array")
                Some(ZarrMeta.parseArray(arrayDir(child), child, node.toString))
              else None
            }
          if (out.nonEmpty) Some(out) else None // empty/group-only → list
        } catch { case _: Exception => None } // malformed → list instead
      consolidatedV3(groupNode, "").orElse {
        if (groupRel.isEmpty) None
        else {
          val rootDoc = store.readBytesIfExists("zarr.json")
          if (rootDoc == null) None
          else try consolidatedV3(ZarrMeta.parseJson(
            new String(rootDoc, java.nio.charset.StandardCharsets.UTF_8)),
            s"$groupRel/")
          catch { case _: Exception => None }
        }
      } match { case Some(out) => return out; case None => }
    } else {
      // group-level .zmetadata first; zarr-python consolidates at the STORE
      // ROOT with group-prefixed keys ("meta/id/.zarray"), so fall back to
      // that for nested groups — the standard layout in the wild
      def consolidatedV2(zmetaRel: String, keyPrefix: String): Option[Seq[ZarrArrayMeta]] = {
        val zmeta = store.readBytesIfExists(zmetaRel)
        if (zmeta == null) return None
        try {
          val md = ZarrMeta.parseJson(
            new String(zmeta, java.nio.charset.StandardCharsets.UTF_8)).path("metadata")
          if (!md.isObject) return None
          val it = md.fieldNames()
          val names = Seq.newBuilder[String]
          while (it.hasNext) names += it.next()
          val out = names.result()
            .collect { case k if k.startsWith(keyPrefix) && k.endsWith("/.zarray") =>
              (k, k.stripPrefix(keyPrefix).dropRight("/.zarray".length)) }
            .filter { case (_, child) => child.nonEmpty && !child.contains("/") }
            .sortBy(_._2)
            .map { case (k, child) =>
              val meta = ZarrMeta.parseArrayV2(arrayDir(child), child, md.get(k).toString)
              // v2 keeps user attributes in a sibling .zattrs document —
              // consolidated stores carry it inline, zero extra RPCs
              val attrs = ZarrMeta.attrsJsonOf(md.path(s"$keyPrefix$child/.zattrs"))
              if (attrs != null) meta.copy(attrsJson = attrs) else meta
            }
          if (out.nonEmpty) Some(out) else None
        } catch { case _: Exception => None } // malformed → list instead
      }
      val cons = consolidatedV2(rel(".zmetadata"), "").orElse {
        if (groupRel.isEmpty) None
        else consolidatedV2(".zmetadata", s"$groupRel/")
      }
      cons match { case Some(out) => return out; case None => }
      if (store.readBytesIfExists(rel(".zgroup")) == null)
        throw new ZarrException(
          s"'$group' is not a Zarr group (no zarr.json or .zgroup)")
    }
    store.listChildren(groupRel).sorted.flatMap { child =>
      val arrayDir = if (groupRel.isEmpty) child else s"$groupRel/$child"
      val metaText = store.readBytesIfExists(s"$arrayDir/zarr.json")
      if (metaText != null) {
        val node = ZarrMeta.parseJson(new String(metaText, java.nio.charset.StandardCharsets.UTF_8))
        if (ZarrMeta.isGroup(node)) None // nested group, not a column
        else Some(ZarrMeta.parseArray(arrayDir, child, node.toString))
      } else {
        val v2Text = store.readBytesIfExists(s"$arrayDir/.zarray")
        if (v2Text == null) None // not a zarr node; skip
        else {
          val meta = ZarrMeta.parseArrayV2(arrayDir, child,
            new String(v2Text, java.nio.charset.StandardCharsets.UTF_8))
          // one extra read per column, on the LISTING path only — object
          // stores plan through consolidated metadata and never get here
          val za = store.readBytesIfExists(s"$arrayDir/.zattrs")
          val attrs =
            if (za == null) null
            else try ZarrMeta.attrsJsonOf(ZarrMeta.parseJson(
              new String(za, java.nio.charset.StandardCharsets.UTF_8)))
            catch { case _: Exception => null } // malformed attrs → none
          Some(if (attrs == null) meta else meta.copy(attrsJson = attrs))
        }
      }
    }
  }

  def infer(store: ZarrStore, group: String): StructType =
    schemaOf(listArrays(store, group), group)

  /** The table schema of `group`'s listed child arrays; they must be
   *  non-empty and share one length. */
  def schemaOf(arrays: Seq[ZarrArrayMeta], group: String): StructType = {
    if (arrays.isEmpty) throw new ZarrException(s"group '$group' has no child arrays")
    val n = arrays.head.length
    arrays.find(_.length != n).foreach { a =>
      throw new ZarrException(
        s"child arrays must share one length: '${a.name}' has ${a.length}, expected $n")
    }
    StructType(arrays.map(toField))
  }
}
