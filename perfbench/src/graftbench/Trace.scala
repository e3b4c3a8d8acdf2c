package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One clock for a run: every span, job and progress record is
  * expressed in milliseconds since the run's anchor, whether it was
  * read from `System.nanoTime` (driver-side spans) or from an epoch
  * timestamp (listener events, other processes).
  */
final class Clock {
  val nano0: Long = System.nanoTime()
  val epochMs0: Long = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - nano0) / 1e6
  def fromNano(ns: Long): Double = (ns - nano0) / 1e6
  def fromEpochMs(ms: Long): Double = (ms - epochMs0).toDouble
}

/** A closed interval of work: name, start, end, and the span it ran
  * under (-1 = a root). `key` ties an operation span to the job group
  * its Spark jobs carry. All spans of one run share the run id the
  * artifact carries.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double,
    key: String) {
  def json: Map[String, Any] = Map("id" -> id, "name" -> name, "parent" -> parent,
    "start_ms" -> startMs, "end_ms" -> endMs, "key" -> key)
}

/** In-memory span recorder; written out once, when the run ends. */
final class Spans(val clock: Clock) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def newId(): Int = synchronized { nextId += 1; nextId }

  def add(id: Int, name: String, parent: Int, startMs: Double, endMs: Double,
      key: String = ""): Unit =
    synchronized { done += Span(id, name, parent, startMs, endMs, key) }

  /** Run `body` inside a span when `on`; the body gets the span id so
    * nested calls can name it as their parent.
    */
  def around[T](on: Boolean, name: String, parent: Int)(body: Int => T): T =
    if (!on) body(parent)
    else {
      val id = newId()
      val start = clock.nowMs
      try body(id) finally add(id, name, parent, start, clock.nowMs)
    }

  def all: Seq[Span] = synchronized(done.toList)
}

/** Per-job totals gathered from the scheduler's events. */
final class JobRecord(val jobId: Int, val key: String, val startMs: Double) {
  var endMs: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  def json: Map[String, Any] = Map(
    "job" -> jobId, "key" -> key, "start_ms" -> startMs, "end_ms" -> endMs,
    "stages" -> stages, "tasks" -> tasks, "task_cpu_ms" -> cpuNs / 1e6,
    "task_run_ms" -> runMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes)
}

/** Scheduler listener keyed by the job group the benchmark sets
  * around each batch operation, or by (streaming query, batch id) for
  * micro-batch jobs. Jobs whose key `accept` rejects are ignored, so
  * untraced operations in a traced run pay only the bus posting that
  * Spark does anyway. All callbacks run on the listener-bus thread;
  * records are read only after the bus is drained.
  */
final class JobListener(clock: Clock, accept: String => Boolean) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageToJob = mutable.HashMap.empty[Int, JobRecord]

  // micro-batch jobs also carry a job group (the query's run id), so the
  // streaming properties are looked at first
  private def keyOf(props: java.util.Properties): String =
    if (props == null) null
    else Option(props.getProperty("sql.streaming.queryId"))
      .map(query => s"$query/${props.getProperty("streaming.sql.batchId")}")
      .getOrElse(props.getProperty("spark.jobGroup.id"))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = keyOf(e.properties)
    if (key != null && accept(key)) {
      val rec = new JobRecord(e.jobId, key, clock.fromEpochMs(e.time))
      jobs(e.jobId) = rec
      e.stageIds.foreach(stageToJob(_) = rec)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageToJob.get(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageToJob.get(e.stageId).foreach { r =>
      r.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.cpuNs += m.executorCpuTime
        r.runMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.inputBytes += m.inputMetrics.bytesRead
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = clock.fromEpochMs(e.time))

  def records: Seq[JobRecord] = jobs.values.toList
}

/** Collects every micro-batch progress report (as Spark's own JSON)
  * and keeps a running input-row total per query, which the live
  * workload polls to know when an offered backlog has been read.
  */
final class ProgressListener extends StreamingQueryListener {
  private val reports = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val rows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  @volatile var lastReportNs: Long = System.nanoTime()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    lastReportNs = System.nanoTime()
    reports.add(e.progress.json)
    rows.merge(e.progress.name, e.progress.numInputRows, (a: java.lang.Long, b: java.lang.Long) => a + b)
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def rowsRead(query: String): Long = Option(rows.get(query)).map(_.longValue).getOrElse(0L)

  def json: Seq[String] = {
    import scala.jdk.CollectionConverters._
    reports.asScala.toList
  }
}
