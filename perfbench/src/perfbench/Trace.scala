package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** A timed region around one call into a layer. `op` is the op index
  * it ran under (-1 for set-up and checks).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      layer: String, startMs: Long, nanos: Long)

/** One Spark job as the listener saw it, with its tasks' metrics summed. */
final class JobRec(val id: Int, val startMs: Long, val module: String) {
  var endMs: Long = -1L
  var tasks = 0L
  var failures = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var gcMs = 0L
}

/** Spans around the benchmark's calls into the program, plus a Spark
  * listener that records jobs and task metrics from outside it. Spans
  * always run (two clock reads each); the listener is attached only
  * while a traced op runs.
  */
final class Trace(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 0
  var op: Int = -1

  def span[T](name: String, layer: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val open = Span(nextId, parent, op, name, layer, startMs, 0L)
    nextId += 1
    stack.push(open)
    try body
    finally {
      stack.pop()
      spans += open.copy(nanos = System.nanoTime() - t0)
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Seconds of every span called `name` under op `i`. */
  def seconds(i: Int, name: String): Double =
    spans.iterator.filter(s => s.op == i && s.name == name).map(_.nanos).sum / 1e9

  // ---- Spark listener -----------------------------------------------------

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val Module = "graft\\.(pipeline|services|llmops|io|expr|html|ops|streaming)\\.".r

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.long"))).getOrElse("")
      val module = Module.findFirstMatchIn(site).map(_.group(1)).getOrElse("")
      val rec = new JobRec(e.jobId, e.time, module)
      Trace.this.synchronized {
        jobs(e.jobId) = rec
        e.stageIds.foreach(s => stageJob(s) = rec)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized(stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.reason != Success) j.failures += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.inputRows += m.inputMetrics.recordsRead
          j.outputBytes += m.outputMetrics.bytesWritten
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.gcMs += m.jvmGCTime
        }
      })
  }

  def attach(): Unit = spark.sparkContext.addSparkListener(listener)

  /** Waits until the listener has seen every event, then detaches it. */
  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  def jobsIn(startMs: Long, endMs: Long): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.startMs >= startMs && j.startMs <= endMs).toSeq
  }

  def allJobs: Seq[JobRec] = synchronized(jobs.values.toSeq)

  /** The module a job ran for: the first program frame on its call
    * site, or else — when the action was the benchmark's own collect of
    * a program result — the layer of the innermost span open when the
    * job started.
    */
  def moduleOf(j: JobRec): String =
    if (j.module.nonEmpty) j.module
    else spans.iterator
      .filter(s => s.startMs <= j.startMs && j.startMs <= s.startMs + s.nanos / 1000000L)
      .maxByOption(_.startMs).map(_.layer).getOrElse("bench")
}

object Trace {
  /** (compiles, compile nanoseconds) so far in this JVM. */
  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Length of the union of [start, end] intervals, clipped to the window. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var curS = -1L
    var curE = -1L
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) covered += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) covered += curE - curS
    covered
  }
}
