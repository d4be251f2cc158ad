package perfbench

import java.io.OutputStream
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, FSDataOutputStream,
  FileStatus, Path, PositionedReadable, RawLocalFileSystem, Seekable}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/**
 * The benchmark's view of the Hadoop `FileSystem` boundary: a local
 * filesystem under the scheme `benchfs://` that counts every request and
 * can add a fixed delay to each open and positioned read, standing in for
 * an object store's first-byte latency.
 *
 * Address a local directory as `benchfs:///abs/dir`. Counters are global
 * to the JVM, which in `local[N]` mode holds the driver and every executor
 * thread, so one snapshot before and one after an operation gives that
 * operation's I/O.
 */
object BenchFs {
  val Scheme = "benchfs"

  final class Counters {
    val opens = new AtomicLong
    val preads = new AtomicLong
    val bytesRead = new AtomicLong
    val fetchNanos = new AtomicLong
    val lists = new AtomicLong
    val creates = new AtomicLong
    val bytesWritten = new AtomicLong
    val renames = new AtomicLong
    val deletes = new AtomicLong

    def snapshot(): Snapshot = Snapshot(opens.get, preads.get, bytesRead.get,
      fetchNanos.get, lists.get, creates.get, bytesWritten.get, renames.get, deletes.get)
  }

  final case class Snapshot(opens: Long, preads: Long, bytesRead: Long, fetchNanos: Long,
      lists: Long, creates: Long, bytesWritten: Long, renames: Long, deletes: Long) {
    /** Requests that would each pay object-store latency. */
    def requests: Long = opens + preads
    def fetchMs: Double = fetchNanos / 1e6
    def -(o: Snapshot): Snapshot = Snapshot(opens - o.opens, preads - o.preads,
      bytesRead - o.bytesRead, fetchNanos - o.fetchNanos, lists - o.lists,
      creates - o.creates, bytesWritten - o.bytesWritten, renames - o.renames,
      deletes - o.deletes)
  }

  val counters = new Counters

  /** Delay added to each open and positioned read, in milliseconds. */
  @volatile var delayMs: Long = 0L

  /** Receives (start, end) nanos of every open and read when tracing. */
  @volatile var onFetch: (Long, Long) => Unit = null

  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[BenchFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[BenchAbstractFs].getName)
  }

  def uri(localDir: String): String = s"$Scheme://" + new java.io.File(localDir).getAbsolutePath

  private[perfbench] def timedFetch[T](body: => T): T = {
    val t0 = System.nanoTime()
    if (delayMs > 0) Thread.sleep(delayMs)
    try body
    finally {
      val t1 = System.nanoTime()
      counters.fetchNanos.addAndGet(t1 - t0)
      val f = onFetch
      if (f != null) f(t0, t1)
    }
  }
}

class BenchFileSystem extends RawLocalFileSystem {
  import BenchFs.counters

  override def getScheme: String = BenchFs.Scheme
  override def getUri: URI = URI.create(s"${BenchFs.Scheme}:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    counters.opens.incrementAndGet()
    BenchFs.timedFetch(new FSDataInputStream(new BenchInputStream(super.open(f, bufferSize))))
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    counters.lists.incrementAndGet()
    super.listStatus(f)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    counters.creates.incrementAndGet()
    counted(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    counters.creates.incrementAndGet()
    counted(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  }

  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    counters.creates.incrementAndGet()
    counted(super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    counters.creates.incrementAndGet()
    counted(super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize,
      progress))
  }

  override def rename(src: Path, dst: Path): Boolean = {
    counters.renames.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    counters.deletes.incrementAndGet()
    super.delete(p, recursive)
  }

  private def counted(out: FSDataOutputStream): FSDataOutputStream =
    new FSDataOutputStream(new OutputStream {
      override def write(b: Int): Unit = { out.write(b); counters.bytesWritten.incrementAndGet() }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); counters.bytesWritten.addAndGet(len)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }, null)
}

/** `FileContext` binding for the scheme (the Zarr writer publishes chunk
 *  objects with `FileContext.rename`). */
class BenchAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new BenchFileSystem, conf, BenchFs.Scheme, false)

/** Counts bytes and positioned reads; each positioned read pays the delay. */
private class BenchInputStream(in: FSDataInputStream)
    extends java.io.InputStream with Seekable with PositionedReadable {
  import BenchFs.counters
  private def add(n: Int): Int = { if (n > 0) counters.bytesRead.addAndGet(n); n }
  private def pread[T](body: => T): T = {
    counters.preads.incrementAndGet()
    BenchFs.timedFetch(body)
  }
  override def read(): Int = {
    val b = in.read()
    if (b >= 0) counters.bytesRead.incrementAndGet()
    b
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int = add(in.read(b, off, len))
  override def read(pos: Long, buf: Array[Byte], off: Int, len: Int): Int =
    add(pread(in.read(pos, buf, off, len)))
  override def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
    pread(in.readFully(pos, buf, off, len)); counters.bytesRead.addAndGet(len)
  }
  override def readFully(pos: Long, buf: Array[Byte]): Unit = {
    pread(in.readFully(pos, buf)); counters.bytesRead.addAndGet(buf.length)
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
  override def available(): Int = in.available()
  override def skip(n: Long): Long = in.skip(n)
  override def close(): Unit = in.close()
}
