package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, monotonic within the process (one
  * epoch anchor, nanoTime deltas) so spans and Spark's epoch-millisecond
  * event times share one time axis. */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowUs(): Long = anchorMs * 1000L + (System.nanoTime() - anchorNs) / 1000L
}

/** In-memory tracer for the traced run.
  *
  * A span wraps one call the benchmark makes into a module's public
  * function. It records name, start, end, parent span and request id
  * (the Spark job group active on the calling thread). Spans stay in
  * memory and are written out with the run record; self time is derived
  * offline from the parent links.
  *
  * Alongside the spans it registers Spark's own observers: a
  * `SparkListener` (jobs, stages, task metrics), a
  * `QueryExecutionListener` (the `QueryPlanningTracker` phases of every
  * query execution) and a `StreamingQueryListener` (every
  * `StreamingQueryProgress`). With tracing off, `span` is a plain call
  * and no listener is registered. */
object Trace {
  @volatile private var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def enabled: Boolean = on

  /** Time `body` as span `name` when tracing is on. */
  def span[A](name: String)(body: => A): A = {
    if (!on) return body
    val id = ids.incrementAndGet()
    val parents = stack.get()
    val group = Option(SparkSession.active.sparkContext
      .getLocalProperty("spark.jobGroup.id")).getOrElse("")
    stack.set(id :: parents)
    val start = Clock.nowUs()
    try body
    finally {
      val end = Clock.nowUs()
      stack.set(parents)
      spans.add(Map("id" -> id, "parent" -> parents.headOption.getOrElse(0L),
        "name" -> name, "request_id" -> group, "start_us" -> start,
        "end_us" -> end))
    }
  }

  private val listener = new Listener
  private val qeListener = new PlanListener
  private val streamListener = new ProgressListener

  def start(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def stop(spark: SparkSession): Unit = {
    on = false
    // let the listener bus drain before detaching (events are async)
    waitForBus(spark)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private def waitForBus(spark: SparkSession): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    var last = -1L
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val n = listener.events.get() + qeListener.events.get()
      if (n == last) stable += 1 else stable = 0
      last = n
    }
  }

  def record(): Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq.sortBy(s => s("start_us").asInstanceOf[Long]),
    "jobs" -> listener.jobRecords,
    "stages" -> listener.stageRecords,
    "plans" -> qeListener.records.asScala.toSeq,
    "progress" -> streamListener.records.asScala.toSeq)

  private final class Listener extends SparkListener {
    val events = new AtomicLong(0)
    private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
    private val stages = mutable.LinkedHashMap[(Int, Int), mutable.Map[String, Any]]()

    def jobRecords: Seq[Map[String, Any]] = synchronized(jobs.values.map(_.toMap).toSeq)
    def stageRecords: Seq[Map[String, Any]] = synchronized(stages.values.map(_.toMap).toSeq)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      events.incrementAndGet()
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = mutable.Map("job_id" -> e.jobId, "group" -> group,
        "start_us" -> e.time * 1000L, "stage_ids" -> e.stageIds)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      events.incrementAndGet()
      jobs.get(e.jobId).foreach(_("end_us") = e.time * 1000L)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      events.incrementAndGet()
      val i = e.stageInfo
      val m = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), newStage(i.stageId))
      m("num_tasks") = i.numTasks
      m("submit_us") = i.submissionTime.map(_ * 1000L).getOrElse(0L)
      m("complete_us") = i.completionTime.map(_ * 1000L).getOrElse(0L)
      m("failed") = i.failureReason.isDefined
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      events.incrementAndGet()
      val m = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), newStage(e.stageId))
      def add(k: String, v: Long): Unit = m(k) = m(k).asInstanceOf[Long] + v
      add("tasks", 1L)
      Option(e.taskMetrics).foreach { t =>
        add("run_ms", t.executorRunTime)
        add("cpu_ns", t.executorCpuTime)
        add("gc_ms", t.jvmGCTime)
        add("shuffle_write_bytes", t.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_bytes", t.shuffleReadMetrics.totalBytesRead)
        add("fetch_wait_ms", t.shuffleReadMetrics.fetchWaitTime)
        add("spill_bytes", t.memoryBytesSpilled + t.diskBytesSpilled)
      }
    }

    private def newStage(id: Int): mutable.Map[String, Any] = mutable.Map(
      "stage_id" -> id, "tasks" -> 0L, "run_ms" -> 0L, "cpu_ns" -> 0L,
      "gc_ms" -> 0L, "shuffle_write_bytes" -> 0L, "shuffle_read_bytes" -> 0L,
      "fetch_wait_ms" -> 0L, "spill_bytes" -> 0L, "num_tasks" -> 0,
      "submit_us" -> 0L, "complete_us" -> 0L, "failed" -> false)
  }

  private final class PlanListener extends QueryExecutionListener {
    val events = new AtomicLong(0)
    val records = new ConcurrentLinkedQueue[Map[String, Any]]()
    private def rec(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
      events.incrementAndGet()
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> Map("start_us" -> p.startTimeMs * 1000L, "end_us" -> p.endTimeMs * 1000L)
      }
      records.add(Map("func" -> funcName, "ok" -> ok, "phases" -> phases))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      rec(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      rec(funcName, qe, ok = false)
  }

  private final class ProgressListener extends StreamingQueryListener {
    val records = new ConcurrentLinkedQueue[Map[String, Any]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      records.add(Map(
        "batch_id" -> p.batchId,
        "timestamp_us" -> java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L,
        "num_input_rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state" -> p.stateOperators.toSeq.map(s => Map(
          "rows_total" -> s.numRowsTotal, "memory_bytes" -> s.memoryUsedBytes,
          "commit_ms" -> s.commitTimeMs))))
    }
  }
}
