package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: a name, its interval, the span that caused it and the
  * run (iteration) it belongs to. `counts` holds numbers the caller knows
  * at the boundary (datasets returned, rows changed, ...).
  */
final case class Span(id: Int, name: String, parent: Int, run: Int,
                      start: Long, startMs: Long, var end: Long = 0L,
                      var endMs: Long = 0L) {
  val counts: mutable.Map[String, Double] = mutable.Map.empty
  def seconds: Double = (end - start) / 1e9
}

/** Spark task metrics summed over a set of tasks. */
final class TaskSums {
  var tasks, failed = 0L
  var runNs, cpuNs, gcMs, schedDelayMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inBytes, inRows, outBytes, outRows = 0L
  var peakExecBytes = 0L

  def add(o: TaskSums): Unit = {
    tasks += o.tasks; failed += o.failed; runNs += o.runNs; cpuNs += o.cpuNs
    gcMs += o.gcMs; schedDelayMs += o.schedDelayMs; fetchWaitMs += o.fetchWaitMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inBytes += o.inBytes; inRows += o.inRows
    outBytes += o.outBytes; outRows += o.outRows
    peakExecBytes = math.max(peakExecBytes, o.peakExecBytes)
  }
}

/** A Spark job as the recorder saw it, with the span that submitted it. */
final case class JobRec(id: Int, span: Int, startMs: Long, stages: Seq[Int],
                        var endMs: Long = -1L)

/** The trace recorder: spans around the benchmark's calls into each engine
  * module, plus a SparkListener and a QueryExecutionListener that attribute
  * Spark's own job, stage, task and planning metrics to those spans. A job
  * finds its span through the SparkContext local property [[SpanKey]],
  * which [[Trace.span]] sets around each call. Nothing is recorded unless a
  * recorder is attached, and one is attached only in the traced run.
  */
final class Recorder(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Recorder._

  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var run = -1

  // Written by the listener bus thread, read on the driver after drain().
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageSpan = mutable.Map.empty[Int, Int]
  val stageTasks = mutable.Map.empty[Int, Int]
  val spanTasks = mutable.Map.empty[Int, TaskSums]
  /** (epoch ms when planning started, ns spent planning) per query. */
  val plans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blockMem = mutable.Map.empty[String, Long]
  private var storageNow = 0L
  var storagePeak = 0L
  var stages = 0L

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain.drain(sc)

  /** Starts run `r`; its spans get run id `r`. */
  def beginRun(r: Int): Unit = synchronized { run = r; storagePeak = storageNow }

  def open(name: String): Span = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      run, System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.end = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    stack = stack.tail
    sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
  }

  def count(name: String, v: Double): Unit =
    stack.headOption.foreach(s => s.counts(name) = s.counts.getOrElse(name, 0d) + v)

  // ---------------------------------------------------------- SparkListener

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
      .getOrElse(-1)
    jobs(e.jobId) = JobRec(e.jobId, span, e.time, e.stageIds)
    e.stageInfos.foreach { si =>
      stageSpan(si.stageId) = span
      stageTasks(si.stageId) = si.numTasks
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = new TaskSums
    t.tasks = 1
    if (!e.taskInfo.successful) t.failed = 1
    Option(e.taskMetrics).foreach { m =>
      t.runNs = m.executorRunTime * 1000000L
      t.cpuNs = m.executorCpuTime
      t.gcMs = m.jvmGCTime
      val info = e.taskInfo
      t.schedDelayMs = math.max(0L, (info.finishTime - info.launchTime) -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      t.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime
      t.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead = m.shuffleReadMetrics.totalBytesRead
      t.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      t.inBytes = m.inputMetrics.bytesRead
      t.inRows = m.inputMetrics.recordsRead
      t.outBytes = m.outputMetrics.bytesWritten
      t.outRows = m.outputMetrics.recordsWritten
      t.peakExecBytes = m.peakExecutionMemory
    }
    spanTasks.getOrElseUpdate(stageSpan.getOrElse(e.stageId, -1), new TaskSums)
      .add(t)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val id = e.blockUpdatedInfo.blockId.name
    val mem = if (e.blockUpdatedInfo.storageLevel.isValid)
      e.blockUpdatedInfo.memSize else 0L
    storageNow += mem - blockMem.getOrElse(id, 0L)
    if (mem == 0L) blockMem.remove(id) else blockMem(id) = mem
    storagePeak = math.max(storagePeak, storageNow)
  }

  // ------------------------------------------------ QueryExecutionListener

  // The callback runs on the listener bus thread, after the query, so the
  // query is matched to its span by time: the phases record wall-clock ms.
  private def planned(qe: QueryExecution): Unit = synchronized {
    val phases = PlanPhases.flatMap(qe.tracker.phases.get)
    if (phases.nonEmpty) plans += ((phases.map(_.startTimeMs).min,
      phases.map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum))
  }

  /** Planning ns of the queries whose planning began inside span `s`. */
  def planNsIn(s: Span): Long =
    plans.collect { case (t, ns) if t >= s.startMs && t <= s.endMs => ns }.sum

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = planned(qe)
}

object Recorder {
  val SpanKey = "perfbench.span"
  val PlanPhases = Seq(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
}

/** The benchmark's one tracing entry point: a no-op unless a recorder is
  * attached (single driver thread, so a plain var suffices).
  */
object Trace {
  var recorder: Option[Recorder] = None

  def span[T](name: String)(body: => T): T = recorder match {
    case None => body
    case Some(r) =>
      val s = r.open(name)
      try body finally r.close(s)
  }

  /** Adds `v` to counter `name` of the innermost open span. */
  def count(name: String, v: Double): Unit = recorder.foreach(_.count(name, v))
}
