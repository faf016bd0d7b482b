package perfbench

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-trigger progress of every streaming query (Spark's
  * `StreamingQueryListener`). Attached for the whole run: one event per
  * trigger, which is what the `trigger_*` latencies are made of. */
final class StreamListener(clock: Clock) extends StreamingQueryListener {
  private val rows = mutable.ArrayBuffer.empty[ObjectNode]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val o = Harness.obj()
      .put("run_id", p.runId.toString)
      .put("start_ms", java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
      .put("input_rows", p.numInputRows)
    val d = o.putObject("durations")
    p.durationMs.asScala.foreach { case (k, v) => d.put(k, v.longValue) }
    o.put("state_rows", p.stateOperators.map(_.numRowsTotal).sum)
      .put("state_memory_bytes", p.stateOperators.map(_.memoryUsedBytes).sum)
      .put("state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum)
    rows.synchronized(rows += o)
  }

  def json = rows.synchronized(Harness.arr(rows.toSeq))
}

/** The listeners of a traced pass: scheduler events (jobs, stages, task
  * metrics summed per stage) and the planning phases of every executed
  * query. Records are kept in memory and written when the run ends. */
final class Tracer(spark: SparkSession, clock: Clock) {
  private val jobs = mutable.LinkedHashMap.empty[Int, ObjectNode]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), ObjectNode]
  private val plans = mutable.ArrayBuffer.empty[ObjectNode]
  private val windows = mutable.ArrayBuffer.empty[ObjectNode]
  @volatile private var drained = 0

  private def stage(id: Int, attempt: Int): ObjectNode =
    stages.getOrElseUpdate((id, attempt), Harness.obj().put("stage_id", id).put("attempt", attempt)
      .put("tasks", 0).put("run_ms", 0L).put("cpu_ms", 0.0).put("gc_ms", 0L)
      .put("shuffle_read_bytes", 0L).put("shuffle_write_bytes", 0L).put("fetch_wait_ms", 0L)
      .put("input_bytes", 0L).put("input_records", 0L)
      .put("output_bytes", 0L).put("output_records", 0L).put("max_task_read_bytes", 0L))

  private def add(o: ObjectNode, k: String, v: Long): Unit = o.put(k, o.get(k).asLong + v)

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs.synchronized {
        jobs(e.jobId) = Harness.obj().put("job_id", e.jobId).put("group", group)
          .put("start_ms", e.time.toDouble).put("stages", e.stageIds.size)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.put("end_ms", e.time.toDouble)
        if (j.path("group").asText == "perfbench:drain") drained += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.synchronized {
      val i = e.stageInfo
      stage(i.stageId, i.attemptNumber)
        .put("start_ms", i.submissionTime.getOrElse(0L).toDouble)
        .put("end_ms", i.completionTime.getOrElse(0L).toDouble)
        .put("failed", i.failureReason.isDefined)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
      val m = e.taskMetrics
      stages.synchronized {
        val s = stage(e.stageId, e.stageAttemptId)
        val read = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        add(s, "tasks", 1)
        add(s, "run_ms", m.executorRunTime)
        s.put("cpu_ms", s.get("cpu_ms").asDouble + m.executorCpuTime / 1e6)
        add(s, "gc_ms", m.jvmGCTime)
        add(s, "shuffle_read_bytes", read)
        add(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(s, "fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add(s, "input_bytes", m.inputMetrics.bytesRead)
        add(s, "input_records", m.inputMetrics.recordsRead)
        add(s, "output_bytes", m.outputMetrics.bytesWritten)
        add(s, "output_records", m.outputMetrics.recordsWritten)
        if (read > s.get("max_task_read_bytes").asLong) s.put("max_task_read_bytes", read)
      }
    }
  }

  private val planning = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
      val o = Harness.obj().put("func", func).put("ok", ok).put("start_ms", start.toDouble)
        .put("analysis_ms", ms("analysis")).put("optimization_ms", ms("optimization"))
        .put("planning_ms", ms("planning"))
      plans.synchronized(plans += o)
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, ok = false)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(planning)
    windows += Harness.obj().put("start_ms", clock.nowMs)
  }

  /** Waits until the listener bus has delivered this pass's events (a marker
    * job's end has arrived; the planning queue gets a short grace period),
    * then detaches the listeners. */
  def detach(): Unit = {
    windows.last.put("end_ms", clock.nowMs)
    val before = drained
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench:drain", "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 10_000_000_000L
    while (drained == before && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(200)
    sc.removeSparkListener(scheduler)
    spark.listenerManager.unregister(planning)
  }

  def json: ObjectNode = {
    val o = Harness.obj()
    o.set("windows", Harness.arr(windows.toSeq))
    o.set("jobs", jobs.synchronized(Harness.arr(jobs.values.toSeq)))
    o.set("stages", stages.synchronized(Harness.arr(stages.values.toSeq)))
    o.set("plans", plans.synchronized(Harness.arr(plans.toSeq)))
    o
  }
}
