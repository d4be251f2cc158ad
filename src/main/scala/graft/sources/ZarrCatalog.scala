package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.zarr._

/**
 * A DSv2 `TableCatalog` exposing one Zarr v3 store as a catalog namespace:
 * every child group with 1-D child arrays is a table, every child group
 * without arrays is a namespace. Register with
 *
 * {{{
 *   spark.sql.catalog.<name>      = graft.sources.ZarrCatalog
 *   spark.sql.catalog.<name>.root = <store uri>   // any Hadoop FS scheme
 * }}}
 *
 * and the store's groups become first-class SQL citizens:
 * `SHOW TABLES IN <name>`, `SELECT * FROM <name>.<group>`,
 * `CREATE TABLE <name>.<group> AS SELECT ...` (CTAS runs through the same
 * crash-safe DSv2 write path as `df.write.format("zarr")`).
 *
 * Extension beyond the reference (which exposes a single table per Python
 * call, reference: python/src/table.rs:21-47): the hierarchy surface is how
 * a 100 TB store with hundreds of collections would actually be organized.
 *
 * Schema lives in the store itself (array metadata), not in the catalog, so
 * a plain `CREATE TABLE` (no AS) has nothing to persist a schema into until
 * data arrives — tables materialize on first write, which is why only CTAS
 * and `df.writeTo(...).create()` are supported creation paths.
 */
class ZarrCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var rootUri: String = _
  private var targetRows: Long = 1L << 20
  private var chunkRows: Int = 1 << 20

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    rootUri = Option(options.get("root")).getOrElse(throw new ZarrException(
      s"zarr catalog '$name' requires spark.sql.catalog.$name.root=<store uri>"))
    // validated parses: a catalog-level chunk_rows=0 would otherwise flow
    // through createTable's default path unchecked and reach the writer as
    // a divide-by-zero inside tasks
    targetRows = ZarrDataSource.numericOption(options, "target_partition_rows", 1L << 20, 1)
    chunkRows = ZarrDataSource.numericIntOption(options, "chunk_rows", 1 << 20, 1)
  }

  override def name(): String = catalogName

  private def hadoopConf: Configuration = SparkSession.active.sessionState.newHadoopConf()
  private def store: ZarrStore = new ZarrStore(rootUri, hadoopConf)

  /** Relative store path of an identifier/namespace ("" = store root).
   *  Segments become literal path components under the configured root, so
   *  anything path-syntactic is rejected: a backquoted name like `..` or
   *  `/other/store` would otherwise ESCAPE the root — Hadoop Path does not
   *  normalize dot-segments — letting DROP TABLE recursively delete data
   *  outside the store. Dot-prefixed names would collide with v2 metadata
   *  objects (.zgroup/.zmetadata). */
  private def rel(parts: Seq[String]): String = {
    parts.foreach { s =>
      if (s.isEmpty || s.startsWith(".") ||
          s.exists(c => c == '/' || c == '\\' || c.isControl))
        throw new ZarrException(
          s"zarr catalog: illegal identifier segment '$s' " +
            "(empty, dot-prefixed, or contains slash/backslash/control characters)")
    }
    parts.mkString("/")
  }

  private def isGroup(relPath: String): Boolean = {
    val metaPath = if (relPath.isEmpty) "zarr.json" else s"$relPath/zarr.json"
    val b = store.readBytesIfExists(metaPath)
    if (b != null) ZarrMeta.isGroup(ZarrMeta.parseJson(new String(b, UTF_8)))
    else { // Zarr v2 group (.zgroup) — v2 stores mount as catalogs too
      val zg = if (relPath.isEmpty) ".zgroup" else s"$relPath/.zgroup"
      store.readBytesIfExists(zg) != null
    }
  }

  private def arraysOf(relPath: String): Seq[ZarrArrayMeta] =
    try ZarrSchema.listArrays(store, "/" + relPath)
    catch { case _: ZarrException => Seq.empty }

  private def childGroups(relPath: String): Seq[String] =
    (try store.listChildren(relPath) catch { case _: ZarrException => Seq.empty })
      .filter(c => isGroup(if (relPath.isEmpty) c else s"$relPath/$c")).sorted

  // ---- TableCatalog -------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = rel(namespace.toSeq)
    if (!isGroup(ns)) throw new NoSuchNamespaceException(namespace)
    childGroups(ns)
      .filter(c => arraysOf(if (ns.isEmpty) c else s"$ns/$c").nonEmpty)
      .map(Identifier.of(namespace, _)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val relG = rel(ident.namespace.toSeq :+ ident.name)
    val arrays = if (isGroup(relG)) arraysOf(relG) else Seq.empty
    if (arrays.isEmpty) throw new NoSuchTableException(ident)
    val group = "/" + relG
    // schema from the listing already in hand — ZarrSchema.infer would
    // re-list the group's metadata (one LIST + O(columns) reads on an
    // object store, ~10-100ms each), doubling planning latency per load
    new ZarrTable(rootUri, group, arrays, ZarrSchema.schemaOf(arrays, group),
      targetRows, chunkRows, None)
  }

  override def tableExists(ident: Identifier): Boolean = {
    val relG = rel(ident.namespace.toSeq :+ ident.name)
    isGroup(relG) && arraysOf(relG).nonEmpty
  }

  /** CTAS entry: materialize the group metadata, return a write-capable
   *  table with the declared schema (arrays appear on first commit).
   *  Per-table write options arrive as table properties
   *  (`TBLPROPERTIES('zarr_format'='2', 'compression'='blosc', ...)` or
   *  `.tableProperty(...)`) and are honored exactly like `df.write`
   *  options — silently dropping zarr_format would hand the user a store
   *  their v2 reader cannot open. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    if (partitions.nonEmpty)
      throw new UnsupportedOperationException("zarr tables do not support partitioning transforms")
    val opts = new CaseInsensitiveStringMap(properties)
    val tChunkRows = ZarrDataSource.numericIntOption(opts, "chunk_rows", chunkRows, 1)
    val tShardRows = ZarrDataSource.numericIntOption(opts, "shard_rows", 0, 0)
    val compression = Option(opts.get("compression")).getOrElse("zstd")
    val zarrFormat = ZarrDataSource.numericIntOption(opts, "zarr_format", 3, 2)
    ZarrWriteSupport.validate(schema, tChunkRows, tShardRows, compression, zarrFormat,
      streaming = false)
    val relG = rel(ident.namespace.toSeq :+ ident.name)
    // NO group docs are written here: the CTAS commit writes all metadata
    // (ancestors included) atomically-last, so a FAILED write leaves
    // nothing behind — pre-writing them leaked phantom namespaces because
    // post-failure dropTable sees no arrays and refuses. The exists-check
    // above is best-effort: two concurrent CTAS of one name race to the
    // commit, last metadata write wins (same as two df.write overwrites).
    new ZarrTable(rootUri, "/" + relG, Seq.empty, schema, targetRows, tChunkRows, None,
      tShardRows, compression, zarrFormat)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("zarr catalog does not support ALTER TABLE")

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    val fs = new Path(rootUri).getFileSystem(hadoopConf)
    val dropped = fs.delete(new Path(rootUri, rel(ident.namespace.toSeq :+ ident.name)), true)
    // a root .zmetadata would still describe the dropped table (see helper)
    if (dropped) ZarrWriteSupport.invalidateRootConsolidation(fs, rootUri)
    dropped
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("zarr catalog does not support RENAME TABLE")

  // ---- SupportsNamespaces -------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    childGroups("").filter(c => arraysOf(c).isEmpty).map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val ns = rel(namespace.toSeq)
    if (!isGroup(ns)) throw new NoSuchNamespaceException(namespace)
    childGroups(ns)
      .filter(c => arraysOf(if (ns.isEmpty) c else s"$ns/$c").isEmpty)
      .map(c => namespace :+ c).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    isGroup(rel(namespace.toSeq))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    writeGroupDocs(rel(namespace.toSeq))

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("zarr catalog does not support ALTER NAMESPACE")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val ns = rel(namespace.toSeq)
    if (ns.isEmpty || !isGroup(ns)) return false
    if (!cascade && childGroups(ns).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(namespace)
    val fs = new Path(rootUri).getFileSystem(hadoopConf)
    val dropped = fs.delete(new Path(rootUri, ns), true)
    if (dropped) ZarrWriteSupport.invalidateRootConsolidation(fs, rootUri)
    dropped
  }

  /** Write group `zarr.json` docs for every level root → relPath, through
   *  the store's Hadoop FS (scheme-generic, unlike the fixture writer). */
  private def writeGroupDocs(relPath: String): Unit = {
    val fs = new Path(rootUri).getFileSystem(hadoopConf)
    val doc = """{"attributes":{},"zarr_format":3,"node_type":"group"}""".getBytes(UTF_8)
    def put(dir: Path): Unit = {
      val p = new Path(dir, "zarr.json")
      if (!fs.exists(p)) {
        val out = fs.create(p, true)
        try out.write(doc) finally out.close()
      }
    }
    var acc = new Path(rootUri)
    put(acc)
    relPath.split("/").filter(_.nonEmpty).foreach { seg =>
      acc = new Path(acc, seg)
      put(acc)
    }
  }
}
