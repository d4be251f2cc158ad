package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/**
 * The benchmark's entry point:
 *
 * {{{
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  --work <scratch dir> --out <output dir>
 * }}}
 *
 * One driver JVM runs Spark at `local[N]` (N = min(4, cores)) with one
 * closed-loop client: each operation is submitted only after the previous
 * one's result has been collected. The last line printed is the result
 * object; the line before it reports every end-to-end metric of the
 * workload under its own name.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, out: File)

  val Workloads = Seq("stac_search", "scan_remote", "dedup_lifecycle")
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = get("workload")
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.mkString(", ")}")
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = get("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Args(w, get("seed").toLong, seconds, trace, new File(get("work")).getAbsoluteFile,
      new File(get("out")).getAbsoluteFile)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .config(s"spark.hadoop.fs.${BenchFs.Scheme}.impl", classOf[BenchFileSystem].getName)
      .config(s"spark.hadoop.fs.AbstractFileSystem.${BenchFs.Scheme}.impl",
        classOf[BenchAbstractFs].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val spark = session(a)
    log("session up")
    val result =
      try a.workload match {
        case "stac_search" => new ZarrWorkload(spark, a, ZarrWorkload.StacSearch).run()
        case "scan_remote" => new ZarrWorkload(spark, a, ZarrWorkload.ScanRemote).run()
        case "dedup_lifecycle" => new LifecycleWorkload(spark, a).run()
      } finally {
        log(s"workload done; JVM GC time ${gcMs()} ms")
        spark.stop()
        deleteRecursively(a.work)
      }
    result.print()
  }

  /** Progress on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(
    f"perfbench: ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs $msg")

  /** Milliseconds the JVM's collectors have spent since it started. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def du(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the R-7 / numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The driver JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Whether the i-th operation of a traced run is traced. Traced and
   *  untraced operations alternate in pairs (untraced, traced, traced,
   *  untraced, ...), so warm-up and drift over the run fall on both alike
   *  and the difference of their medians is the cost of tracing. */
  def tracedTurn(i: Long): Boolean = i % 4 == 1 || i % 4 == 2

  /** A closed loop: run `op(k)` for k = 0, 1, ... until `seconds` have
   *  passed and at least `minOps` operations ran. Returns each operation's
   *  latency in ms; an operation that throws counts as failed. */
  def closedLoop(seconds: Double, minOps: Int, first: Long, stats: OpStats)(op: Long => Unit)
      : Seq[Double] = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = first
    while (System.nanoTime() < deadline || lat.length < minOps) {
      stats.attempted += 1
      val t0 = System.nanoTime()
      try op(k)
      catch { case NonFatal(e) => stats.fail(s"operation $k", e) }
      lat += (System.nanoTime() - t0) / 1e6
      k += 1
    }
    lat.toSeq
  }
}

/** Attempted and failed operations; a wrong answer is a failure. */
final class OpStats {
  var attempted = 0L
  var failed = 0L
  def fail(what: String, e: Throwable = null): Unit = {
    failed += 1
    System.err.println(s"perfbench: FAILED $what" + Option(e).fold("")(x => s": $x"))
  }
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)
}

/** Sums of per-layer quantities over the traced operations. */
final class LayerAcc {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  def add(name: String, v: Double): Unit = sums(name) = sums.getOrElse(name, 0.0) + v
  def apply(name: String): Double = sums.getOrElse(name, 0.0)
  def ratio(num: String, den: String): Double =
    if (apply(den) == 0) 0.0 else apply(num) / apply(den)
}

final case class Metric(name: String, value: Double, unit: String)

final case class Result(stats: OpStats, metrics: Seq[Metric], report: Seq[Metric],
    extra: Seq[(String, String)] = Nil) {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  private def obj(ms: Seq[Metric]): String = ms.map(m =>
    s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString("{", ", ", "}")

  def print(): Unit = {
    extra.foreach { case (k, json) => println(s"""{"$k": $json}""") }
    println(s"""{"report": ${obj(report)}}""")
    println(s"""{"correct": ${stats.failed == 0}, "attempted": ${stats.attempted}, """ +
      s""""failed": ${stats.failed}, "metrics": ${obj(metrics)}}""")
  }
}
