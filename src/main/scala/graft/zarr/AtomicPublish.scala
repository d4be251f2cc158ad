package graft.zarr

import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataOutputStream, FileAlreadyExistsException,
  FileContext, FileSystem, Options, Path}

/**
 * The one way a small object is published over one that readers may be
 * fetching — Zarr metadata documents, the stats sidecar, rewritten tail
 * chunks, and the at-rest tables' pointers, markers and sidecars: write a
 * writer-unique sibling temp file, then rename it over the target. A
 * reader sees the old bytes or the new ones, never a partial object and
 * never a missing one.
 *
 *  - `FileSystem.rename` first: on a POSIX store (`file:`) it is one
 *    atomic replace. `FileContext.rename(OVERWRITE)` is not: on a
 *    `DelegateToFileSystem` store it is `AbstractFileSystem`'s generic
 *    overwrite (stat both paths, delete the target, rename), which opens
 *    a missing-object window and, without libhadoop, forks four processes.
 *  - A store whose rename refuses to replace an existing target (HDFS)
 *    gets `FileContext.rename(OVERWRITE)`, its atomic-replace API; if that
 *    fails too the publish fails loudly rather than fall back to
 *    delete-then-rename.
 *  - On a `ChecksumFileSystem` the temp file is written and renamed through
 *    the raw filesystem, after the target's `.crc` is deleted: its own
 *    rename moves the data before the checksum, so a reader could pair the
 *    new bytes with the old checksum. A published object carries no
 *    checksum file.
 */
object AtomicPublish {

  /** Write `bytes` to `p` atomically. */
  def write(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val (tmp, out) = stage(fs, p)
    try out.write(bytes) finally out.close()
    publish(fs, tmp, p)
  }

  /** A fresh temp path beside `p` and a stream open on it, for an object
   *  too large to hold as one array; [[publish]] it once closed. The
   *  name is dot-prefixed, so listings that skip hidden files skip it. */
  def stage(fs: FileSystem, p: Path): (Path, FSDataOutputStream) = {
    val tmp = new Path(p.getParent,
      s".tmp-${p.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
    (tmp, raw(fs).create(tmp, true))
  }

  /** Rename the [[stage]]d `tmp` over `p`. */
  def publish(fs: FileSystem, tmp: Path, p: Path): Unit = {
    fs match {
      case c: ChecksumFileSystem => c.getRawFileSystem.delete(c.getChecksumFile(p), false)
      case _ =>
    }
    val replaced = try raw(fs).rename(tmp, p)
      catch { case _: FileAlreadyExistsException => false }
    if (!replaced)
      try FileContext.getFileContext(p.toUri, fs.getConf).rename(tmp, p, Options.Rename.OVERWRITE)
      catch { case e: java.io.IOException =>
        try raw(fs).delete(tmp, false) catch { case _: java.io.IOException => }
        throw new IllegalStateException(s"cannot atomically publish $p: rename refused " +
          "and FileContext.rename(OVERWRITE) failed", e)
      }
  }

  private def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case _ => fs
  }
}
