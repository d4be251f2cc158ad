package graft

import org.apache.spark.sql.functions._

/**
 * Exercises the Hadoop-FileSystem-generic code path of ZarrStore with a
 * NON-file:// scheme (the reference demos S3 via obstore,
 * reference: python/src/table.rs:29-42; our single Hadoop-FS path claims
 * s3a://gs://abfs:// support). Covers scheme dispatch AND the full e2e
 * surface through the foreign scheme: batch read, DSv2 write, and the
 * micro-batch streaming source.
 */
class ObjectStoreSpec extends SparkSpec {

  test("zarr source reads through a custom (non-file) Hadoop scheme") {
    val dir = tempDir("zarr_mockfs")
    graft.zarr.ZarrWriter.writeGroup(dir, "/meta")
    graft.zarr.ZarrWriter.writeStringArray(dir, "/meta", "collection",
      Seq("collection_a", "collection_b", "collection_c"), 3)
    graft.zarr.ZarrWriter.writeLongArray(dir, "/meta", "v", Seq(1L, 2L, 3L), 3)
    // register scheme mockfs:// backed by the local filesystem (on the
    // context's hadoopConfiguration — newHadoopConf() derives from it)
    spark.sparkContext.hadoopConfiguration.set("fs.mockfs.impl",
      classOf[MockObjectStoreFileSystem].getName)
    val df = spark.read.format("zarr").option("group", "/meta").load(s"mockfs://$dir")
    assert(df.schema.fieldNames.toSeq == Seq("collection", "v"))
    assert(df.orderBy("v").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("collection_a", 1L), ("collection_b", 2L), ("collection_c", 3L)))
    // predicate + projection still work across the scheme boundary
    assert(df.filter(col("collection") === "collection_b").select("v")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("scan RPC profile: one open per chunk object, no exists() probes") {
    val dir = tempDir("zarr_mockfs_rpc")
    // 2 columns × 10 chunks (100 rows, chunk 10), written with a sidecar
    spark.range(100).select(col("id"), (col("id") % 7).as("v"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "10").mode("overwrite").save(dir)
    spark.sparkContext.hadoopConfiguration.set("fs.mockfs.impl",
      classOf[MockObjectStoreFileSystem].getName)
    val m = MockObjectStoreFileSystem
    m.reset()
    val df = spark.read.format("zarr").option("group", "/t")
      .option("target_partition_rows", "10").load(s"mockfs://$dir")
    assert(df.selectExpr("sum(v)").collect().head.getLong(0) ==
      (0L until 100L).map(_ % 7).sum)
    val (opens, chunks, lists, probes) =
      (m.opens.get, m.chunkOpens.get, m.lists.get, m.existsProbes.get)
    // column pruning reaches the OBJECT STORE: sum(v) reads only v's 10
    // chunk objects (not 2 cols × 10), and each is opened EXACTLY once — a
    // double-read or an exists-then-read would double real S3 round-trips
    assert(chunks == 10L, s"chunk opens: $chunks")
    assert(probes == 0L, s"exists() probes on the read path: $probes")
    // CONSOLIDATED metadata (embedded in the group zarr.json by the write
    // path) makes planning O(1), not O(columns): one group doc + the stats
    // sidecar, and NO children LIST at all
    assert(lists <= 1L, s"LIST calls: $lists")
    assert(opens - chunks <= 4L, s"metadata opens: ${opens - chunks}")
    // measured with injected per-op latency for SCALE.md: ops × latency
    // dominates; planning metadata is the serial part
    m.reset(); m.latencyMs = 5
    val t0 = System.nanoTime()
    spark.read.format("zarr").option("group", "/t")
      .option("target_partition_rows", "10").load(s"mockfs://$dir")
      .selectExpr("sum(v)").collect()
    val ms = (System.nanoTime() - t0) / 1e6
    m.latencyMs = 0
    info(f"5ms/op injected: ${m.opens.get} opens + ${m.lists.get} lists → $ms%.0f ms wall")
    assert(ms < 5000, s"latency amplification: $ms ms") // not O(rows) round-trips
  }

  test("one load() + collect() opens the group document once") {
    val dir = tempDir("zarr_mockfs_group")
    spark.range(100).select(col("id"), (col("id") % 7).as("v"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "10").mode("overwrite").save(dir)
    spark.sparkContext.hadoopConfiguration.set("fs.mockfs.impl",
      classOf[MockObjectStoreFileSystem].getName)
    val m = MockObjectStoreFileSystem
    def groupDocOpens = m.openedPaths.toArray.count(_.toString.endsWith("/t/zarr.json"))
    m.reset()
    // schema inference lists the group; the table reuses that listing
    assert(spark.read.format("zarr").option("group", "/t").load(s"mockfs://$dir")
      .collect().length == 100)
    assert(groupDocOpens == 1, s"group document opens: $groupDocOpens")
    // a user-supplied schema skips inference, so the table lists it
    m.reset()
    assert(spark.read.format("zarr").option("group", "/t").schema("id LONG, v LONG")
      .load(s"mockfs://$dir").collect().length == 100)
    assert(groupDocOpens == 1, s"group document opens with a schema: $groupDocOpens")
  }

  test("e2e non-file scheme: DSv2 write, read-back, and streaming through mockfs://") {
    val dir = tempDir("zarr_mockfs_e2e")
    spark.sparkContext.hadoopConfiguration.set("fs.mockfs.impl",
      classOf[MockObjectStoreFileSystem].getName)
    import spark.implicits._

    // write path: the crash-safe DSv2 commit runs entirely through the
    // foreign scheme (task temp objects + rename-based commit)
    val src = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("k", "name")
    val out = s"mockfs://$dir/out.zarr"
    src.coalesce(1).write.format("zarr").option("group", "/meta")
      .mode("overwrite").save(out)
    val back = spark.read.format("zarr").option("group", "/meta").load(out)
      .select("k", "name")
    assert(back.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")))

    // streaming path: micro-batch offsets tracked against the foreign scheme;
    // appended rows surface in the next trigger
    val sdir = s"$dir/stream.zarr"
    graft.zarr.ZarrWriter.writeGroup(sdir, "/g")
    graft.zarr.ZarrWriter.writeLongArray(sdir, "/g", "x", Seq(0L, 1L), chunkLen = 2)
    val q = spark.readStream.format("zarr").option("group", "/g").load(s"mockfs://$sdir")
      .writeStream.format("memory").queryName("mockfs_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("mockfs_stream").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(0L, 1L))
      graft.zarr.ZarrWriter.writeLongArray(sdir, "/g", "x", 0L until 4L, chunkLen = 2)
      q.processAllAvailable()
      assert(spark.table("mockfs_stream").collect().map(_.getLong(0)).sorted.toSeq ==
        (0L until 4L).toSeq)
    } finally q.stop()
  }
}

/** file-backed FileSystem registered under the scheme `mockfs://`, with
 *  per-operation counters and injectable latency so specs can pin the READ
 *  PATH'S RPC PROFILE — on a real object store every one of these calls is
 *  a ~10-100 ms round-trip, so the counts ARE the latency model. */
object MockObjectStoreFileSystem {
  import java.util.concurrent.atomic.AtomicLong
  val opens = new AtomicLong
  val chunkOpens = new AtomicLong // opens of .../c/<i> or bare-index objects
  val lists = new AtomicLong
  val existsProbes = new AtomicLong
  val openedPaths = new java.util.concurrent.ConcurrentLinkedQueue[String]
  /** Conf key whose value, as this instance's conf holds it, each open and
   *  create records with the path: which conf the caller's task carried. */
  val ProbeKey = "graft.test.mockfs.probe"
  val seenConf = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
  @volatile var latencyMs: Long = 0
  def reset(): Unit = {
    opens.set(0); chunkOpens.set(0); lists.set(0); existsProbes.set(0); openedPaths.clear()
    seenConf.clear()
  }
  private[graft] def lag(): Unit = if (latencyMs > 0) Thread.sleep(latencyMs)
}

class MockObjectStoreFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import MockObjectStoreFileSystem._
  override def getScheme: String = "mockfs"
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int) = {
    opens.incrementAndGet()
    openedPaths.add(f.toString)
    seenConf.add((f.toString, getConf.get(ProbeKey)))
    if (f.getParent != null && (f.getParent.getName == "c" || f.getName.forall(_.isDigit)))
      chunkOpens.incrementAndGet()
    lag()
    super.open(f, bufferSize)
  }
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: org.apache.hadoop.util.Progressable) = {
    seenConf.add((f.toString, getConf.get(ProbeKey)))
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def listStatus(f: org.apache.hadoop.fs.Path) = {
    lists.incrementAndGet(); lag(); super.listStatus(f)
  }
  override def exists(f: org.apache.hadoop.fs.Path): Boolean = {
    existsProbes.incrementAndGet(); lag(); super.exists(f)
  }
}
