package graft.zarr

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}
import java.lang.ref.WeakReference

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/**
 * Store access over Hadoop `FileSystem` — one code path for `file://`,
 * `s3a://`, `gs://`, `abfs://` etc., replacing the reference's sync/async
 * backend split (reference: src/table_provider.rs:97-168). Spark tasks are
 * already parallel threads on executors, so blocking reads are idiomatic.
 */
final class ZarrStore(rootUri: String, conf: Configuration) {
  private val root = new Path(rootUri)
  private val fs: FileSystem = root.getFileSystem(conf)

  def readBytesIfExists(relPath: String): Array[Byte] = {
    val p = new Path(root, relPath)
    try {
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => null
    }
  }

  /** Whole-object read bounded at `limit` bytes: returns the bytes if the
   *  object fits, null if missing, and [[ZarrStore.TooLarge]] if the object
   *  exceeds the limit — one RPC either way, so a caller with a size
   *  ESTIMATE can read opportunistically and only fall back to
   *  stat + ranged reads when the object proves bigger than plausible
   *  (a hostile store serving a multi-GiB object under small-chunk
   *  metadata must never reach an unbounded readAllBytes). */
  def readBytesIfExistsUpTo(relPath: String, limit: Long): Array[Byte] = {
    val p = new Path(root, relPath)
    val cap = math.min(limit, Int.MaxValue.toLong - 16).toInt
    try {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream(8192)
        val buf = new Array[Byte](65536)
        var total = 0L
        var n = in.read(buf)
        while (n >= 0) {
          total += n
          if (total > cap) return ZarrStore.TooLarge
          out.write(buf, 0, n)
          n = in.read(buf)
        }
        out.toByteArray
      } finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => null
    }
  }

  def readString(relPath: String): String = {
    val b = readBytesIfExists(relPath)
    if (b == null) throw new ZarrException(s"missing object: $rootUri/$relPath")
    new String(b, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Object size in bytes, or -1 if missing — one stat RPC. */
  def objectLengthIfExists(relPath: String): Long =
    try fs.getFileStatus(new Path(root, relPath)).getLen
    catch { case _: java.io.FileNotFoundException => -1L }

  /** Open the object for positioned reads (ranged GETs on object stores).
   *  ONE held-open stream per shard is what makes ranged shard reads
   *  snapshot-consistent: on POSIX filesystems the open inode survives a
   *  rename-replace, so a shard rewritten mid-scan keeps serving the bytes
   *  its index was read from; s3a pins the object version by ETag and
   *  fails a changed object with an error instead of silently mixing a
   *  stale index with new data. */
  def openStream(relPath: String): org.apache.hadoop.fs.FSDataInputStream =
    try fs.open(new Path(root, relPath))
    catch {
      case e: java.io.IOException =>
        throw new ZarrException(s"cannot open object: $rootUri/$relPath", e)
    }

  def exists(relPath: String): Boolean = fs.exists(new Path(root, relPath))

  /** Names of child directories of a group dir (candidate child arrays).
   *  One LIST call — no exists() probe first: on an object store every
   *  round-trip is ~10-100 ms, so the missing-dir case is the thrown
   *  exception, not a second RPC on every success. */
  def listChildren(relPath: String): Seq[String] = {
    val dir = if (relPath.isEmpty) root else new Path(root, relPath)
    try fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    catch {
      case _: java.io.FileNotFoundException =>
        throw new ZarrException(s"no such group dir: $dir")
    }
  }
}

object ZarrStore {
  /** Sentinel returned by [[ZarrStore.readBytesIfExistsUpTo]] when the
   *  object exceeds the caller's limit (distinct from null = missing). */
  val TooLarge: Array[Byte] = new Array[Byte](0)
}

/**
 * The payload of [[HadoopConfBroadcast]]: the session's Hadoop
 * `Configuration` (FS credentials and settings) in a form Spark can
 * broadcast to executors. Built only by that holder; tasks and the driver
 * read the conf through the broadcast and never change it.
 */
final class SerializableHadoopConf private[zarr] (@transient var value: Configuration)
    extends Serializable {
  @throws[IOException]
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  @throws[IOException]
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/**
 * The session's Hadoop conf as one broadcast, shared by every Zarr task the
 * session launches. A task then carries the broadcast's handle, not the
 * conf's entries (about 115 KB in a default local session, serialized into
 * and deserialized out of every task binary).
 *
 * Each call builds `sessionState.newHadoopConf()` and broadcasts it again
 * only when its entries differ from the cached one's (a
 * `sparkContext.hadoopConfiguration` edit or any `spark.conf.set`, since
 * the conf copies every SQL conf) or the `SparkContext` differs or has
 * stopped. A replaced broadcast is never destroyed, because a running query
 * may still hold it; `ContextCleaner` frees it once unreferenced. The
 * context is held weakly, so a stopped one can be collected.
 */
object HadoopConfBroadcast {
  private final class Cached(
      val context: WeakReference[SparkContext],
      val entries: java.util.Map[String, String],
      val conf: Broadcast[SerializableHadoopConf])

  private var cached: Cached = _

  def apply(spark: SparkSession): Broadcast[SerializableHadoopConf] = {
    val conf = spark.sessionState.newHadoopConf()
    val entries = new java.util.HashMap[String, String]
    conf.forEach(e => entries.put(e.getKey, e.getValue))
    val sc = spark.sparkContext
    synchronized {
      val c = cached
      if (c != null && (c.context.get eq sc) && !sc.isStopped && c.entries == entries) c.conf
      else {
        val b = sc.broadcast(new SerializableHadoopConf(conf))
        cached = new Cached(new WeakReference(sc), entries, b)
        b
      }
    }
  }
}
