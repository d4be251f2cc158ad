package perfbench

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.scalatest.funsuite.AnyFunSuite

class BenchFsSpec extends AnyFunSuite {

  private def fs(dir: java.io.File) = {
    val conf = new Configuration()
    BenchFs.register(conf)
    new Path(BenchFs.uri(dir.getPath)).getFileSystem(conf)
  }

  test("the wrapper counts every request and byte exactly") {
    val dir = Files.createTempDirectory("benchfs").toFile
    val f = fs(dir)
    val before = BenchFs.counters.snapshot()
    val p = new Path(BenchFs.uri(dir.getPath), "a.bin")
    val out = f.create(p, true)
    out.write(new Array[Byte](1000))
    out.write(7)
    out.close()
    val in = f.open(p)
    val buf = new Array[Byte](1001)
    in.readFully(buf)
    in.readFully(10L, new Array[Byte](100))
    in.read(500L, new Array[Byte](50), 0, 50)
    in.close()
    f.listStatus(new Path(BenchFs.uri(dir.getPath)))
    val q = new Path(BenchFs.uri(dir.getPath), "b.bin")
    assert(f.rename(p, q))
    assert(f.delete(q, false))
    val d = BenchFs.counters.snapshot() - before
    assert(d.creates == 1 && d.bytesWritten == 1001)
    assert(d.opens == 1 && d.preads == 2 && d.requests == 3)
    assert(d.bytesRead == 1001 + 100 + 50)
    assert(d.lists == 1 && d.renames == 1 && d.deletes == 1)
  }

  test("an overwriting FileContext rename is counted as the Zarr writer publishes") {
    val dir = Files.createTempDirectory("benchfs").toFile
    val f = fs(dir)
    val p = new Path(BenchFs.uri(dir.getPath), "c.0")
    val tmp = new Path(BenchFs.uri(dir.getPath), "c.0.tmp")
    def stage(n: Int): Unit = {
      val out = f.create(tmp, true)
      out.write(new Array[Byte](n))
      out.close()
    }
    val fc = FileContext.getFileContext(p.toUri, f.getConf)
    // the first publish has nothing to replace: one create, one rename
    val s0 = BenchFs.counters.snapshot()
    stage(10)
    fc.rename(tmp, p, Options.Rename.OVERWRITE)
    val first = BenchFs.counters.snapshot() - s0
    assert(first == BenchFs.Snapshot(opens = 0, preads = 0, bytesRead = 0, fetchNanos = 0,
      lists = 0, creates = 1, bytesWritten = 10, renames = 1, deletes = 0))
    // replacing a published object: FileContext turns the overwrite into a
    // delete of the target and a plain rename, and both reach the wrapper
    val s1 = BenchFs.counters.snapshot()
    stage(20)
    fc.rename(tmp, p, Options.Rename.OVERWRITE)
    val second = BenchFs.counters.snapshot() - s1
    assert(second == BenchFs.Snapshot(opens = 0, preads = 0, bytesRead = 0, fetchNanos = 0,
      lists = 0, creates = 1, bytesWritten = 20, renames = 1, deletes = 1))
    assert(f.getFileStatus(p).getLen == 20 && !f.exists(tmp))
  }

  test("each open and positioned read pays the delay") {
    val dir = Files.createTempDirectory("benchfs").toFile
    val f = fs(dir)
    val p = new Path(BenchFs.uri(dir.getPath), "a.bin")
    val out = f.create(p, true)
    out.write(new Array[Byte](64))
    out.close()
    BenchFs.delayMs = 30L
    try {
      val before = BenchFs.counters.snapshot()
      val t0 = System.nanoTime()
      val in = f.open(p)
      in.readFully(0L, new Array[Byte](8))
      in.close()
      val wallMs = (System.nanoTime() - t0) / 1e6
      val d = BenchFs.counters.snapshot() - before
      assert(d.requests == 2)
      assert(wallMs >= 60 && d.fetchMs >= 60)
    } finally BenchFs.delayMs = 0L
  }
}
