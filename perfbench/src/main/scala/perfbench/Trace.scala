package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional for the
  * benchmark's own spans, whole for Spark's listener events).
  */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      start: Double, end: Double, run: String)

/** Spans and counters of one run, kept in memory and written out once at
  * exit. With tracing off it only hands out wall-clock readings; no
  * listener is installed.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Long](0L)
  /** Local property a job listener reads back to find its parent span. */
  val ParentProp = "perfbench.span"

  private def add(s: Span): Unit = spans.synchronized { spans += s; () }

  /** Time `body` as a child of the innermost open span; returns (value,
    * seconds). Jobs launched inside inherit the span as their parent.
    */
  def span[T](spark: SparkSession, name: String, kind: String)(body: => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val parent = stack.top
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ParentProp)
    if (enabled) sc.setLocalProperty(ParentProp, id.toString)
    stack.push(id)
    val start = nowMs
    try {
      val v = body
      (v, (nowMs - start) / 1e3)
    } finally {
      val end = nowMs
      stack.pop()
      if (enabled) {
        sc.setLocalProperty(ParentProp, prev)
        add(Span(id, parent, name, kind, start, end, runId))
      }
    }
  }

  def record(parent: Long, name: String, kind: String, start: Double, end: Double): Unit =
    if (enabled) add(Span(ids.incrementAndGet(), parent, name, kind, start, end, runId))

  val counters = mutable.LinkedHashMap.empty[String, Double]
  def count(name: String, v: Double): Unit = counters.synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }
  def set(name: String, v: Double): Unit = counters.synchronized { counters(name) = v }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new JobListener(this))
    spark.listenerManager.register(new PhaseListener(this))
    spark.streams.addListener(new StreamListener(this))
  }
}

/** Jobs become spans under the benchmark span that launched them, stages
  * spans that name their job; task metrics are summed into counters.
  */
final class JobListener(tr: Tracer) extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, (Double, Long, String)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(tr.ParentProp))).map(_.toLong).getOrElse(0L)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobStart(e.jobId) = (e.time.toDouble, parent, desc)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    tr.count("spark.driver.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (start, parent, desc) =>
      tr.record(parent, s"job:${e.jobId}:$desc", "job", start, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    tr.count("spark.driver.stages", 1)
    if (m != null) {
      tr.count("spark.exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      tr.count("spark.exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      tr.count("spark.exec.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      tr.count("spark.exec.spill_mem_mb", m.memoryBytesSpilled / 1e6)
      tr.count("spark.exec.spill_disk_mb", m.diskBytesSpilled / 1e6)
      tr.count("sources.bytes_read_mb", m.inputMetrics.bytesRead / 1e6)
      tr.count("sinks.bytes_written_mb", m.outputMetrics.bytesWritten / 1e6)
    }
    val durs = stageTasks.remove(si.stageId).getOrElse(mutable.ArrayBuffer.empty[Double])
    for (s <- si.submissionTime; c <- si.completionTime) {
      // the longest stage of the pass names the task skew
      val wall = (c - s).toDouble
      if (wall > tr.counters.getOrElse("__longest_stage_ms", -1.0) && durs.nonEmpty) {
        val sorted = durs.sorted
        tr.set("__longest_stage_ms", wall)
        tr.set("spark.exec.task_skew", sorted.last / math.max(1.0, sorted(sorted.size / 2)))
      }
      tr.record(0L, s"stage:${si.stageId}:job:${stageJob.getOrElse(si.stageId, -1)}",
        "stage", s.toDouble, c.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tr.count("spark.driver.tasks", 1)
    val info = e.taskInfo
    if (!info.successful) tr.count("spark.exec.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      tr.count("spark.exec.task_s", m.executorRunTime / 1e3)
      tr.count("spark.exec.cpu_s", m.executorCpuTime / 1e9)
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime
      tr.count("spark.driver.sched_delay_s", math.max(0L, delay) / 1e3)
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime.toDouble
      val job = stageJob.getOrElse(e.stageId, -1)
      tr.count(s"__job_task_s:$job", m.executorRunTime / 1e3)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockId.name
      val size = b.memSize + b.diskSize
      blockBytes += size - blocks.getOrElse(key, 0L)
      if (size == 0) blocks.remove(key) else blocks(key) = size
      if (blockBytes / 1e6 > tr.counters.getOrElse("cache.peak_mb", 0.0))
        tr.set("cache.peak_mb", blockBytes / 1e6)
    }
  }
}

/** Driver phases of every executed query, from its planning tracker. */
final class PhaseListener(tr: Tracer) extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      tr.record(0L, s"phase:$phase", "phase", s.startTimeMs.toDouble, s.endTimeMs.toDouble)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
}

/** Per-trigger durations of streaming rounds. */
final class StreamListener(tr: Tracer) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    val now = tr.nowMs
    tr.record(0L, "stream:started", "event", now, now)
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs.asScala
    Seq("addBatch" -> "add_batch_s", "queryPlanning" -> "query_planning_s",
        "walCommit" -> "wal_commit_s", "latestOffset" -> "latest_offset_s")
      .foreach { case (k, name) => d.get(k).foreach(v => tr.count(s"streaming.$name", v / 1e3)) }
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
