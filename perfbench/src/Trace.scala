package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are nanoseconds since the run started.
  * `parent` is -1 for a root, or for a span recorded by a listener, whose
  * parent the analysis infers from interval containment (`infer`).
  */
final class Span(val id: Int, val name: String, val layer: String,
    val start: Long, val parent: Int, val infer: Boolean) {
  @volatile var end: Long = -1L
}

/** In-memory span store plus the measurement window. With tracing off it
  * keeps no spans, so the timed code pays one branch per call site.
  */
final class Tracer(val on: Boolean) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val nanoBase = System.nanoTime()
  private val epochBaseNs = System.currentTimeMillis() * 1000000L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val off = new Span(-1, "", "", 0L, -1, false)

  /** Measurement window, ns since run start; end < 0 while open. */
  @volatile var windowStart: Long = Long.MaxValue
  @volatile var windowEnd: Long = -1L

  def now(): Long = System.nanoTime() - nanoBase
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochBaseNs
  def epochNs(t: Long): Long = epochBaseNs + t
  def inWindow(t: Long): Boolean = t >= windowStart && (windowEnd < 0 || t <= windowEnd)

  def add(name: String, layer: String, start: Long, end: Long,
      parent: Int = -1, infer: Boolean = false): Span =
    if (!on) off
    else spans.synchronized {
      val s = new Span(spans.size, name, layer, start, parent, infer)
      s.end = end
      spans += s
      s
    }

  def open(name: String, layer: String, parent: Span = null, infer: Boolean = false): Span =
    add(name, layer, now(), -1L, if (parent == null) -1 else parent.id, infer)

  def close(s: Span): Unit = if (on) s.end = now()

  def span[T](name: String, layer: String, parent: Span = null, infer: Boolean = false)(
      body: Span => T): T = {
    val s = open(name, layer, parent, infer)
    try body(s) finally close(s)
  }

  def dump: Seq[Map[String, Any]] = spans.synchronized {
    spans.toSeq.filter(_.end >= 0).map(s => Map(
      "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.start,
      "end_ns" -> s.end, "parent" -> s.parent, "infer_parent" -> s.infer,
      "run_id" -> runId))
  }
}

/** Per-layer counters gathered from Spark's own listeners, timed from
  * outside the program. Only work that starts inside the tracer's window is
  * counted. Attached on traced runs only.
  */
final class Layers(spark: SparkSession, tr: Tracer) {
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double]
  private def bump(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  private def keepMax(k: String, v: Double): Unit = counters(k) = math.max(counters.getOrElse(k, 0.0), v)

  val progress: mutable.ArrayBuffer[StreamingQueryProgress] = mutable.ArrayBuffer.empty

  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]

  private val sched = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t = tr.fromEpochMs(e.time)
      jobSpans(e.jobId) = tr.add("job", "spark.sched", t, -1L, infer = true)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      if (tr.inWindow(t)) bump("spark.sched.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpans.remove(e.jobId).foreach(_.end = tr.fromEpochMs(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      for (s <- si.submissionTime; c <- si.completionTime) {
        val start = tr.fromEpochMs(s)
        val parent = stageJob.get(si.stageId).flatMap(jobSpans.get).map(_.id).getOrElse(-1)
        tr.add("stage", "spark.task", start, tr.fromEpochMs(c), parent, infer = parent < 0)
        if (tr.inWindow(start)) bump("spark.sched.stages", 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      val m = e.taskMetrics
      if (m != null && tr.inWindow(tr.fromEpochMs(info.launchTime))) {
        bump("spark.sched.tasks", 1)
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + (if (info.gettingResult) info.gettingResultTime else 0L)
        bump("spark.sched.delay_ms", math.max(0L, info.duration - busy).toDouble)
        val in = m.inputMetrics; val sr = m.shuffleReadMetrics
        val sw = m.shuffleWriteMetrics; val out = m.outputMetrics
        val records = in.recordsRead + sr.recordsRead + sw.recordsWritten + out.recordsWritten
        if (records > 0) bump("spark.sched.useful_tasks", 1)
        bump("spark.task.run_ms", m.executorRunTime.toDouble)
        bump("spark.task.cpu_ms", m.executorCpuTime / 1e6)
        bump("spark.task.gc_ms", m.jvmGCTime.toDouble)
        bump("spark.scan.bytes", in.bytesRead.toDouble)
        bump("spark.scan.records", in.recordsRead.toDouble)
        bump("spark.shuffle.write_bytes", sw.bytesWritten.toDouble)
        bump("spark.shuffle.read_bytes", sr.totalBytesRead.toDouble)
        bump("spark.shuffle.fetch_wait_ms", sr.fetchWaitTime.toDouble)
        bump("spark.shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private val plan = new QueryExecutionListener {
    private val phaseNames = Seq(
      "analysis" -> "spark.plan.analysis_ms", "optimization" -> "spark.plan.optimizer_ms",
      "planning" -> "spark.plan.planning_ms")
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val first = phases.values.map(_.startTimeMs).minOption
      val counted = first.exists(ms => tr.inWindow(tr.fromEpochMs(ms)))
      if (counted) bump("spark.plan.queries", 1)
      phaseNames.foreach { case (phase, key) =>
        phases.get(phase).foreach { p =>
          tr.add(phase, "spark.plan", tr.fromEpochMs(p.startTimeMs),
            tr.fromEpochMs(p.endTimeMs), infer = true)
          if (counted) bump(key, (p.endTimeMs - p.startTimeMs).toDouble)
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = tr.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      tr.add("trigger", "streaming", start, start + dur * 1000000L, infer = true)
      if (tr.inWindow(start)) progress.synchronized(progress += p)
    }
  }

  private var compileNs0 = 0L
  private var compiles0 = 0L

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sched)
    spark.listenerManager.register(plan)
    spark.streams.addListener(streams)
  }

  /** Marks the window start: codegen counters are global, so read deltas. */
  def windowOpened(): Unit = {
    compileNs0 = CodeGenerator.compileTime
    compiles0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }

  /** Drains the listener buses and folds the streaming progress in. */
  def finish(): Map[String, Double] = {
    org.apache.spark.PerfbenchAccess.drainListeners(spark)
    counters("spark.codegen.compile_ms") = (CodeGenerator.compileTime - compileNs0) / 1e6
    counters("spark.codegen.compiles") =
      (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble
    val ps = progress.synchronized(progress.toList)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    counters("streaming.triggers") = ps.size.toDouble
    Seq("addBatch" -> "streaming.add_batch_ms", "queryPlanning" -> "streaming.query_planning_ms",
      "walCommit" -> "streaming.wal_commit_ms", "commitOffsets" -> "streaming.commit_offsets_ms",
      "latestOffset" -> "sources.latest_offset_ms", "getBatch" -> "sources.get_batch_ms")
      .foreach { case (k, name) => counters(name) = ps.map(d(_, k)).sum }
    ps.foreach(_.stateOperators.foreach { so =>
      bump("streaming.state_update_ms", so.allUpdatesTimeMs.toDouble)
      bump("streaming.state_commit_ms", so.commitTimeMs.toDouble)
      val cm = so.customMetrics.asScala
      bump("streaming.state_fsync_ms",
        cm.get("rocksdbCommitFileSyncLatencyMs").map(_.doubleValue).getOrElse(0.0))
      keepMax("streaming.state_bytes", so.memoryUsedBytes.toDouble +
        cm.get("rocksdbSstFileSize").map(_.doubleValue).getOrElse(0.0))
    })
    counters.toMap
  }

  /** Per-trigger samples the analysis turns into percentiles. */
  def triggerSamples: Map[String, Seq[Double]] = {
    val ps = progress.synchronized(progress.toList)
    Map(
      "trigger_ms" -> ps.map(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)),
      "rows_per_trigger" -> ps.map(_.numInputRows.toDouble),
      "trigger_start_ns" -> ps.map(p =>
        tr.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli).toDouble))
  }
}
