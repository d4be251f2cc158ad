package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import graft.sources.ZarrPartitionReaderFactory
import graft.zarr.HadoopConfBroadcast

/**
 * Zarr tasks get the session's Hadoop conf through one broadcast
 * ([[HadoopConfBroadcast]]): a search's reader factory carries its handle,
 * not the conf, searches share it while the conf is unchanged, and a
 * changed conf still reaches the next read's and write's tasks.
 */
class ZarrConfBroadcastSpec extends SparkSpec {

  private lazy val store: String = {
    val dir = tempDir("zconf_bc") + "/store.zarr"
    spark.range(100).select(col("id"), (col("id") % 7).as("v"))
      .coalesce(1).write.format("zarr").option("group", "/t")
      .option("chunk_rows", "10").mode("overwrite").save(dir)
    dir
  }

  private def search(uri: String, v: Long): DataFrame =
    spark.read.format("zarr").option("group", "/t")
      .option("target_partition_rows", "10").load(uri).filter(col("v") === v)

  /** The reader factory the search's scan hands to its tasks. */
  private def factoryOf(df: DataFrame): ZarrPartitionReaderFactory =
    df.queryExecution.optimizedPlan.collectFirst { case r: DataSourceV2ScanRelation => r.scan }
      .get.toBatch.createReaderFactory().asInstanceOf[ZarrPartitionReaderFactory]

  test("a search's reader factory ships a broadcast handle, the same for every search") {
    val (a, b) = (search(store, 3), search(store, 5))
    val fa = factoryOf(a)
    val bytes = SparkEnv.get.closureSerializer.newInstance().serialize(fa).limit()
    assert(bytes < 8 * 1024, s"serialized reader factory: $bytes bytes")
    assert(factoryOf(b).conf.id == fa.conf.id)
    assert(a.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L).filter(_ % 7 == 3))
    assert(b.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L).filter(_ % 7 == 5))
  }

  /** Runs `body` with `mockfs://` registered and uncached (so each store
   *  opens a FileSystem from its task's conf) and returns the probe value
   *  each chunk object was opened or created with. */
  private def chunkConfs(body: => Unit): Set[String] = {
    val m = MockObjectStoreFileSystem
    m.reset()
    body
    m.seenConf.asScala.collect { case (p, v) if p.contains("/c/") => String.valueOf(v) }.toSet
  }

  private def withMockfs(body: org.apache.hadoop.conf.Configuration => Unit): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mockfs.impl", classOf[MockObjectStoreFileSystem].getName)
    hc.setBoolean("fs.mockfs.impl.disable.cache", true)
    try body(hc)
    finally {
      hc.unset(MockObjectStoreFileSystem.ProbeKey)
      hc.unset("fs.mockfs.impl.disable.cache")
    }
  }

  test("a sparkContext.hadoopConfiguration edit reaches the next read's tasks") {
    withMockfs { hc =>
      val uri = s"mockfs://$store"
      hc.set(MockObjectStoreFileSystem.ProbeKey, "one")
      assert(chunkConfs(assert(search(uri, 3).collect().length == 14)) == Set("one"))
      hc.set(MockObjectStoreFileSystem.ProbeKey, "two")
      assert(chunkConfs(assert(search(uri, 3).collect().length == 14)) == Set("two"))
    }
  }

  test("a sparkContext.hadoopConfiguration edit reaches the next write's tasks") {
    withMockfs { hc =>
      val uri = s"mockfs://${tempDir("zconf_bc_write")}/out.zarr"
      def write(): Unit = spark.range(30).coalesce(1).write.format("zarr")
        .option("group", "/t").option("chunk_rows", "10").mode("overwrite").save(uri)
      hc.set(MockObjectStoreFileSystem.ProbeKey, "one")
      assert(chunkConfs(write()) == Set("one"))
      hc.set(MockObjectStoreFileSystem.ProbeKey, "two")
      assert(chunkConfs(write()) == Set("two"))
      assert(spark.read.format("zarr").option("group", "/t").load(uri).count() == 30)
    }
  }

  test("a new SparkContext never gets the stopped context's broadcast") {
    // stopping the suites' shared context is not an option, so a child JVM
    // runs HadoopConfBroadcastRestart and reports through its exit code
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens="))
    val cmd = Seq(javaBin, "-Xmx512m") ++ opens ++ Seq("-cp", System.getProperty("java.class.path"),
      "graft.HadoopConfBroadcastRestart", tempDir("zconf_bc_restart") + "/store.zarr")
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(code == 0, s"child JVM exited $code:\n$out")
    assert(out.toString.contains("restart ok"), out.toString)
  }
}

/** Reads a Zarr store on one SparkContext, stops it, and reads again on a
 *  new one: the second read's tasks must get a broadcast of the new
 *  context (one of the stopped context cannot be read at all). */
object HadoopConfBroadcastRestart {
  private def session(): SparkSession = SparkSession.builder().master("local[1]")
    .config("spark.ui.enabled", "false").getOrCreate()

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    def roundTrip(s: SparkSession): Long = {
      s.range(20).coalesce(1).write.format("zarr").option("group", "/t")
        .option("chunk_rows", "5").mode("overwrite").save(dir)
      s.read.format("zarr").option("group", "/t").load(dir).filter(col("id") > 4).count()
    }
    val first = session()
    require(roundTrip(first) == 15L)
    val stale = HadoopConfBroadcast(first)
    first.stop()
    val second = session()
    require(second.sparkContext ne first.sparkContext)
    require(HadoopConfBroadcast(second) ne stale, "handed out the stopped context's broadcast")
    require(roundTrip(second) == 15L)
    second.stop()
    println("restart ok")
  }
}
