package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval at a layer boundary. Times are epoch microseconds;
 *  `parent` is 0 for a root; spans of one operation share `op`. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
  def json: String =
    s"""{"id":$id,"parent":$parent,"op":$op,"name":"$name","start_us":$startUs,"end_us":$endUs}"""
}

/**
 * The traced mode's recorder. Spans are kept in memory and written out
 * when the run ends. Benchmark code opens driver spans around each call
 * into a layer; a Spark listener adds job, stage and task spans and sums
 * task metrics; the filesystem wrapper adds one span per request, parented
 * to the task that issued it, under the name `fetchSpan`. Only work inside
 * an operation's spans is recorded, so untraced operations can run between
 * traced ones while the recorder is started.
 */
final class Tracer(spark: SparkSession, fetchSpan: String) {
  private val sc = spark.sparkContext
  private val spans = new ConcurrentLinkedQueue[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
  private def nanosToUs(n: Long): Long = epochUs0 + (n - nano0) / 1000L

  // listener-side span ids live in their own ranges, so a fetch span can
  // name its task before the task's end event has been processed
  private def taskSpanId(taskId: Long): Long = (1L << 50) + taskId
  private def stageSpanId(stage: Int, attempt: Int): Long = (2L << 50) + stage * 1000L + attempt
  private def jobSpanId(job: Int): Long = (3L << 50) + job

  @volatile private var current: (Long, Long) = (0L, 0L) // (span, op) on the driver thread
  private val PropSpan = "perfbench.span"
  private val PropOp = "perfbench.op"

  /** Spark task totals, summed over every task that ended while tracing. */
  final class Totals {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuMs = 0.0
    var gcMs = 0L; var shuffleBytes = 0L
    def copy(): Totals = { val t = new Totals; t.jobs = jobs; t.tasks = tasks; t.runMs = runMs
      t.cpuMs = cpuMs; t.gcMs = gcMs; t.shuffleBytes = shuffleBytes; t }
  }
  val totals = new Totals

  private val jobOf = new ConcurrentHashMap[Int, (Long, Long, Long)] // stage -> (job span, op, jobStartUs)
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long, Long)] // job -> (parent, op, startUs)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(PropSpan))).map(_.toLong).getOrElse(0L)
      val op = props.flatMap(p => Option(p.getProperty(PropOp))).map(_.toLong).getOrElse(0L)
      if (op != 0) {
        jobStart.put(e.jobId, (parent, op, e.time * 1000L))
        e.stageIds.foreach(s => jobOf.put(s, (jobSpanId(e.jobId), op, e.time * 1000L)))
        totals.synchronized(totals.jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (parent, op, start) =>
        spans.add(Span(jobSpanId(e.jobId), parent, op, "spark.job", start, e.time * 1000L))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(jobOf.get(si.stageId)).foreach { case (job, op, _) =>
        for (s <- si.submissionTime; c <- si.completionTime)
          spans.add(Span(stageSpanId(si.stageId, si.attemptNumber()), job, op, "spark.stage",
            s * 1000L, c * 1000L))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(jobOf.get(e.stageId)).foreach { case (_, op, _) =>
        val ti = e.taskInfo
        spans.add(Span(taskSpanId(ti.taskId), stageSpanId(e.stageId, e.stageAttemptId), op,
          "spark.task", ti.launchTime * 1000L, ti.finishTime * 1000L))
        Option(e.taskMetrics).foreach { m =>
          totals.synchronized {
            totals.tasks += 1
            totals.runMs += m.executorRunTime
            totals.cpuMs += m.executorCpuTime / 1e6
            totals.gcMs += m.jvmGCTime
            totals.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    BenchFs.onFetch = (t0, t1) => {
      val tc = TaskContext.get()
      val (parent, op) =
        if (tc != null) (taskSpanId(tc.taskAttemptId()),
          Option(tc.getLocalProperty(PropOp)).map(_.toLong).getOrElse(0L))
        else current
      if (op != 0)
        spans.add(Span(nextId.getAndIncrement(), parent, op, fetchSpan,
          nanosToUs(t0), nanosToUs(t1)))
    }
  }

  def stop(): Unit = {
    drain()
    BenchFs.onFetch = null
    sc.removeSparkListener(listener)
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.waitForListeners(sc)

  def newOp(): Long = nextId.getAndIncrement()

  /** Run `body` inside a driver span; jobs it submits name this span as
   *  their parent. */
  def span[T](name: String, op: Long)(body: => T): T =
    spanWithId(nextId.getAndIncrement(), name, op)(body)

  /** The root span of an operation, whose span id is the operation id. */
  def opSpan[T](op: Long)(body: => T): T = spanWithId(op, "op", op)(body)

  private def spanWithId[T](id: Long, name: String, op: Long)(body: => T): T = {
    val saved = current
    val parent = if (saved._2 == op) saved._1 else 0L
    current = (id, op)
    val savedSpan = sc.getLocalProperty(PropSpan)
    val savedOp = sc.getLocalProperty(PropOp)
    sc.setLocalProperty(PropSpan, id.toString)
    sc.setLocalProperty(PropOp, op.toString)
    val t0 = nowUs()
    try body
    finally {
      spans.add(Span(id, parent, op, name, t0, nowUs()))
      current = saved
      sc.setLocalProperty(PropSpan, savedSpan)
      sc.setLocalProperty(PropOp, savedOp)
    }
  }

  /** Record an interval measured elsewhere (e.g. a Catalyst phase) as a
   *  child of operation `op`'s root span. */
  def record(name: String, op: Long, startUs: Long, endUs: Long): Unit =
    spans.add(Span(nextId.getAndIncrement(), op, op, name, startUs, endUs))

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startUs).foreach(s => w.println(s.json)) finally w.close()
  }
}

object Tracer {
  /** Length of the union of intervals, each first clipped to [lo, hi). */
  private def coveredUs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
    if (curB > curA) covered += curB - curA
    covered
  }

  /** Self time per span name, in ms: each span's duration minus the part
   *  of it its children cover, summed over the spans of that name. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
        (s.durUs - coveredUs(kids, s.startUs, s.endUs)) / 1000.0
      }.sum
    }
  }

  /** Wall time inside the `ops` intervals not covered by any `stages`
   *  interval, in ms. */
  def uncoveredMs(ops: Seq[(Long, Long)], stages: Seq[(Long, Long)]): Double =
    ops.map { case (o0, o1) => (o1 - o0 - coveredUs(stages, o0, o1)) / 1000.0 }.sum
}
