package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AtRest
import graft.zarr.AtomicPublish

/**
 * The one publish path for small objects ([[AtomicPublish]]): a file that
 * is being replaced stays readable, whole and checksum-consistent at every
 * moment, on a POSIX store, on `file:` with its `.crc` files, and on a
 * store whose rename will not replace a file.
 */
class AtomicPublishSpec extends AnyFunSuite {
  import AtomicPublishSpec._

  private def dir(prefix: String): java.io.File =
    java.nio.file.Files.createTempDirectory(prefix).toFile

  private def fsFor(scheme: String, impl: Class[_], afs: Class[_]): FileSystem = {
    val conf = new Configuration()
    conf.set(s"fs.$scheme.impl", impl.getName)
    conf.set(s"fs.$scheme.impl.disable.cache", "true")
    conf.set(s"fs.AbstractFileSystem.$scheme.impl", afs.getName)
    FileSystem.get(URI.create(s"$scheme:///"), conf)
  }

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private val publishers: Seq[(String, (FileSystem, Path, Array[Byte]) => Unit)] = Seq(
    "AtRest.writeFile" -> (AtRest.writeFile _),
    "the Zarr writers' publish" -> (AtomicPublish.write _))

  test("publishing over an existing file never deletes or hides the target") {
    val fs = fsFor(RecordingFs.Scheme, classOf[RecordingFs], classOf[RecordingAbstractFs])
    for ((name, publish) <- publishers) {
      val p = new Path(s"${RecordingFs.Scheme}://${dir("publish_rec").getPath}/_current")
      publish(fs, p, "1".getBytes(UTF_8))
      RecordingFs.watched = p
      RecordingFs.events.clear()
      publish(fs, p, "2".getBytes(UTF_8))
      RecordingFs.watched = null
      val events = RecordingFs.events.asScala.toSeq
      assert(!events.exists(_.startsWith("delete")) && !events.exists(_.startsWith("missing")),
        s"$name: ${events.mkString(", ")}")
      assert(read(fs, p) == "2", name)
    }
  }

  test("a reader polling a file: object never misses it or fails its checksum mid-publish") {
    val fs = FileSystem.getLocal(new Configuration())
    val p = new Path(dir("publish_poll").getPath, "zarr.json")
    AtomicPublish.write(fs, p, "v0".getBytes(UTF_8))
    @volatile var done = false
    val failures = new ConcurrentLinkedQueue[String]
    val reader = new Thread(() =>
      while (!done) {
        try {
          val s = read(fs, p)
          if (!s.startsWith("v")) failures.add(s"torn read '$s'")
        } catch { case e: java.io.IOException => failures.add(e.toString) }
      })
    reader.start()
    // bodies of changing length, so a stale checksum cannot match by luck
    try (1 to 150).foreach(i => AtomicPublish.write(fs, p, ("v" + "x" * (i % 7)).getBytes(UTF_8)))
    finally { done = true; reader.join() }
    assert(failures.isEmpty, failures.asScala.take(3).mkString("; "))
  }

  test("on file:, publishing over a checksummed file reads back the new bytes, no temp left") {
    val fs = FileSystem.getLocal(new Configuration())
    val d = dir("publish_crc")
    val p = new Path(d.getPath, "_graft_stats.json")
    val out = fs.create(p, true)
    try out.write("an older, longer document".getBytes(UTF_8)) finally out.close()
    assert(new java.io.File(d, "._graft_stats.json.crc").exists())
    for ((name, publish) <- publishers) {
      publish(fs, p, s"new: $name".getBytes(UTF_8))
      // a checksum file left over from the old bytes would fail this read
      assert(read(fs, p) == s"new: $name")
      assert(d.list().toSet.subsetOf(Set("_graft_stats.json", "._graft_stats.json.crc")),
        s"$name left ${d.list().mkString(",")}")
    }
  }

  test("a store whose rename refuses to replace a file falls back to FileContext OVERWRITE") {
    val fs = fsFor(NoOverwriteFs.Scheme, classOf[NoOverwriteFs], classOf[NoOverwriteAbstractFs])
    val d = dir("publish_noover")
    val p = new Path(s"${NoOverwriteFs.Scheme}://${d.getPath}/zarr.json")
    AtomicPublish.write(fs, p, "first".getBytes(UTF_8))
    NoOverwriteFs.refused.set(0)
    AtomicPublish.write(fs, p, "second".getBytes(UTF_8))
    assert(NoOverwriteFs.refused.get == 1)
    assert(read(fs, p) == "second")
    assert(d.list().toSeq == Seq("zarr.json"), d.list().mkString(","))
  }
}

object AtomicPublishSpec {

  /** A local store that records every create, delete and rename, and
   *  whether the watched path was missing right after one. */
  class RecordingFs extends RawLocalFileSystem {
    override def getScheme: String = RecordingFs.Scheme
    override def getUri: URI = URI.create(s"${RecordingFs.Scheme}:///")
    private def record[T](op: String)(body: => T): T = {
      RecordingFs.events.add(op)
      val r = body
      val w = RecordingFs.watched
      if (w != null && !pathToFile(w).exists()) RecordingFs.events.add(s"missing after $op")
      r
    }
    override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
        blockSize: Long, progress: Progressable): FSDataOutputStream =
      record(s"create ${f.getName}")(
        super.create(f, overwrite, bufferSize, replication, blockSize, progress))
    override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
      record(s"create ${f.getName}")(
        super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
    override def delete(f: Path, recursive: Boolean): Boolean =
      record(s"delete ${f.getName}")(super.delete(f, recursive))
    override def rename(src: Path, dst: Path): Boolean =
      record(s"rename ${src.getName} -> ${dst.getName}")(super.rename(src, dst))
  }
  object RecordingFs {
    val Scheme = "publishrec"
    val events = new ConcurrentLinkedQueue[String]
    @volatile var watched: Path = _
  }
  class RecordingAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RecordingFs, conf, RecordingFs.Scheme, false)

  /** A local store whose rename, like HDFS's, will not replace a file. */
  class NoOverwriteFs extends RawLocalFileSystem {
    override def getScheme: String = NoOverwriteFs.Scheme
    override def getUri: URI = URI.create(s"${NoOverwriteFs.Scheme}:///")
    override def rename(src: Path, dst: Path): Boolean =
      if (pathToFile(dst).exists()) { NoOverwriteFs.refused.incrementAndGet(); false }
      else super.rename(src, dst)
  }
  object NoOverwriteFs {
    val Scheme = "publishnoover"
    val refused = new java.util.concurrent.atomic.AtomicInteger
  }
  class NoOverwriteAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoOverwriteFs, conf, NoOverwriteFs.Scheme, false)
}
