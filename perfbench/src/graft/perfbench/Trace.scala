package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. Times are epoch ms, the clock
  * Spark's listener events carry. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spans recorded around the benchmark's calls into the engine, plus
  * whatever Spark's listeners report while attached. With `on = false`
  * it records nothing and registers nothing, so untraced runs measure
  * the engine alone. Spans stay in memory until [[report]]. */
final class Tracer(val on: Boolean) {
  import Tracer._
  private val ids = new AtomicLong(1)
  private val spans = ArrayBuffer.empty[Span]
  private var spark: SparkSession = _

  final class JobRec(val id: Int, val start: Long, val span: Long, val callSite: String) {
    var end = -1L
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stagesRun = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
  /** (funcName, phase -> (start, end)) of each finished QueryExecution. */
  private val qes = ArrayBuffer.empty[(String, Map[String, (Long, Long)])]
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
      // a job's call site names its result stage, the last one submitted
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val j = new JobRec(e.jobId, e.time, span, site)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { stageJob.get(e.stageInfo.stageId).foreach(j => stagesRun(j.id) += 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.diskBytesSpilled
        }
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        qes += funcName -> qe.tracker.phases.map { case (k, v) => k -> ((v.startTimeMs, v.endTimeMs)) }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Registers the listeners on `s` (a no-op when tracing is off). */
  def attach(s: SparkSession): Unit = if (on) {
    spark = s
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
  }
  def detach(): Unit = if (on && spark != null) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    spark = null
  }
  def drain(): Unit = if (on && spark != null) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Runs `body` inside a span; Spark jobs it launches from this thread
    * (and from threads it starts) carry the span id. */
  def span[T](s: SparkSession, layer: String, name: String, parent: Long = 0L)(body: Long => T): T =
    if (!on) body(0L) else {
      val id = ids.getAndIncrement()
      val sc = s.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.currentTimeMillis()
      try body(id) finally {
        sc.setLocalProperty(SpanKey, prev)
        add(Span(id, parent, layer, name, t0, System.currentTimeMillis()))
      }
    }
  /** Runs the benchmark's own bookkeeping; jobs it launches are left
    * out of every metric. */
  def harness[T](s: SparkSession)(body: => T): T =
    if (!on) body else {
      val sc = s.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, Harness.toString)
      try body finally sc.setLocalProperty(SpanKey, prev)
    }
  private def add(sp: Span): Unit = synchronized { spans += sp }
  private def newId(): Long = ids.getAndIncrement()

  /** Every per-layer metric the listeners support, plus self time per
    * layer over the span tree. Call after [[detach]]. */
  def report(): Map[String, Double] = synchronized {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val recorded = spans.toList
    val byId = recorded.map(s => s.id -> s).toMap
    def layerOf(id: Long) = byId.get(id).map(_.layer).getOrElse("")

    // Spark jobs of the engine, not of the benchmark's bookkeeping;
    // schema inference is a parquet-read job during a query's build
    val js = jobs.values.filter(j => j.end >= 0 && j.span != Harness).toList
    val schema = js.filter(j => j.callSite.startsWith("parquet at") &&
                                layerOf(j.span) == BuildLayer)
    out("Tbl.schema_jobs") = schema.size
    out("Tbl.schema_job_s") = schema.map(j => j.end - j.start).sum / 1e3
    out("exec.jobs") = js.size
    out("exec.empty_jobs") = js.count(_.tasks == 0)
    out("exec.stages") = js.map(j => stagesRun(j.id)).sum
    out("exec.tasks") = js.map(_.tasks).sum
    out("exec.task_run_s") = js.map(_.runMs).sum / 1e3
    out("exec.task_cpu_s") = js.map(_.cpuNs).sum / 1e9
    out("exec.shuffle_read_mb") = js.map(_.shuffleRead).sum / 1048576.0
    out("exec.shuffle_write_mb") = js.map(_.shuffleWrite).sum / 1048576.0
    out("exec.spill_mb") = js.map(_.spill).sum / 1048576.0
    val schemaIds = schema.map(_.id).toSet
    val jobSpans = js.map(j => Span(-1, j.span, if (schemaIds(j.id)) "Tbl.schema" else "exec.job",
                                    s"job ${j.id}", j.start, j.end))

    // planning phases of the actions the benchmark times (a registry
    // query's write, a stream's sink collect)
    val planParents = recorded.filter(s => s.layer == ExecuteLayer || s.layer == SinkLayer)
    val planSpans = for {
      (_, phases) <- qes.toList
      (ph, (a, b)) <- phases.toList
      p <- planParents.find(s => a >= s.start && a <= s.end)
    } yield Span(-1, p.id, "plan", ph, a, b)
    for (ph <- Seq("analysis", "optimization", "planning"))
      out(s"plan.${ph}_s") = planSpans.filter(_.name == ph).map(_.dur).sum / 1e3

    // stream batches: one span per progress event, its durationMs phases
    // laid out in execution order with addBatch holding the sink
    val ps = progress.toList
    def d(p: StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    def p50(f: StreamingQueryProgress => Double) = Stats.median(ps.map(f))
    out("StreamingOps.batches") = ps.size
    out("StreamingOps.latest_offset_ms") = p50(d(_, "latestOffset").toDouble)
    out("StreamingOps.query_planning_ms") = p50(d(_, "queryPlanning").toDouble)
    out("StreamingOps.add_batch_ms") = p50(d(_, "addBatch").toDouble)
    out("StreamingOps.wal_commit_ms") = p50(d(_, "walCommit").toDouble)
    out("StreamingOps.commit_offsets_ms") = p50(d(_, "commitOffsets").toDouble)
    out("StreamingOps.trigger_ms") = p50(d(_, "triggerExecution").toDouble)
    val inRows = ps.map(_.numInputRows).sum
    out("StreamingOps.add_batch_us_per_frame") =
      if (inRows == 0) 0.0 else ps.map(d(_, "addBatch")).sum * 1e3 / inRows
    val ops = ps.flatMap(_.stateOperators.toList)
    def lastPerQuery(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Double =
      ps.groupBy(_.runId).values.map(_.maxBy(_.batchId).stateOperators.map(f).sum).sum.toDouble
    out("StatefulOps.state_rows") = lastPerQuery(_.numRowsTotal)
    out("StatefulOps.state_mb") = lastPerQuery(_.memoryUsedBytes) / 1048576.0
    val withState = ps.filter(_.stateOperators.nonEmpty)
    def sp50(f: StreamingQueryProgress => Double) = Stats.median(withState.map(f))
    out("StatefulOps.update_ms") = sp50(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble)
    out("StatefulOps.commit_ms") = sp50(_.stateOperators.map(_.commitTimeMs).sum.toDouble)
    val updRows = ops.map(_.numRowsUpdated).sum
    out("StatefulOps.update_us_per_row") =
      if (updRows == 0) 0.0 else ops.map(_.allUpdatesTimeMs).sum * 1e3 / updRows
    val observed = ps.flatMap(p => Option(p.observedMetrics).map(_.asScala).getOrElse(Map.empty))
    def obs(name: String) = observed.collect { case (`name`, r) => r.getLong(0) }.sum
    out("AisPipeline.keep_ratio") = if (obs("read") == 0) 0.0 else obs("kept").toDouble / obs("read")

    val batches = ps.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      (p, start, start + d(p, "triggerExecution"), newId(), newId())
    }
    val batchSpans = batches.flatMap { case (p, start, end, id, addId) =>
      val parent = recorded.filter(s => s.layer != SinkLayer && s.start <= start && start <= s.end)
        .sortBy(_.dur).headOption.map(_.id).getOrElse(0L)
      val addEnd = end - d(p, "commitOffsets")
      val before = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning")
      val pre = before.scanLeft(start)(_ + d(p, _))
      Span(id, parent, "StreamingOps.batch", s"batch ${p.batchId}", start, end) +:
        Span(addId, id, "StreamingOps.addBatch", "addBatch", addEnd - d(p, "addBatch"), addEnd) +:
        Span(-1, id, "StreamingOps.phase", "commitOffsets", addEnd, end) +:
        before.zip(pre).map { case (k, a) => Span(-1, id, "StreamingOps.phase", k, a, a + d(p, k)) }
    }
    // a sink the benchmark recorded hangs under its batch's addBatch
    val linked = recorded.map { s =>
      if (s.layer != SinkLayer) s
      else s.copy(parent = batches.find { case (_, a, b, _, _) => a <= s.start && s.start <= b }
                                  .map(_._5).getOrElse(s.parent))
    }
    val all = linked ++ jobSpans ++ planSpans ++ batchSpans
    val kids = all.groupBy(_.parent)
    def self(s: Span): Long = {
      val iv = (if (s.id > 0) kids.getOrElse(s.id, Nil) else Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      s.dur - covered
    }
    SelfLayers.foreach { l => out(s"self.${l}_s") = all.filter(_.layer == l).map(self).sum / 1e3 }
    out.toMap
  }

}

object Tracer {
  val SpanKey = "perfbench.span"
  val Harness = -1L
  val BuildLayer = "SparkEntry.build"
  val ExecuteLayer = "materialize"
  val SinkLayer = "sink"
  /** Layers whose self time is reported as `self.<layer>_s`. */
  val SelfLayers = Seq("query", BuildLayer, ExecuteLayer, "plan", "exec.job", "Tbl.schema",
                       "pass", "StreamingOps.batch", "StreamingOps.phase",
                       "StreamingOps.addBatch", SinkLayer)
}
