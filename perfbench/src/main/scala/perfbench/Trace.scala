package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the span tree
  * pass → query/leg → phase → job → stage (stream batches sit under
  * their drain phase). Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Long, var end: Long = 0L)

/** While `on`: phase timers, the span tree and the Spark-side
  * counters. Listeners stay registered for the whole run and ignore
  * events while `on` is false, so untraced passes pay only a flag test.
  * Counters accumulate across traced passes; [[Trace.layers]] divides
  * additive ones by the number of traced passes. */
final class Trace(spark: SparkSession, cpus: Int, stagedDir: String) {
  @volatile var on = false
  private val SpanProp = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val batchMs = mutable.ArrayBuffer[Double]()
  private val commitMs = mutable.ArrayBuffer[Double]()
  private var current = 0L

  private def now = System.currentTimeMillis()
  def add(k: String, v: Double): Unit = counters.synchronized { counters(k) += v }
  def set(k: String, v: Double): Unit = counters.synchronized { counters(k) = v }
  private def record(s: Span): Unit = spans.synchronized { spans += s }

  /** When tracing, times `body` into the counter `<name>_s` (phases
    * only) and opens a span that Spark jobs started by `body` attach to. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    if (!on) body
    else {
      val s = Span(ids.incrementAndGet(), current, layer, name, now)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProp)
      val parent = current
      current = s.id
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = now
        current = parent
        sc.setLocalProperty(SpanProp, prev)
        record(s)
        phaseDone(layer, name, t0)
      }
    }
  }
  private def phaseDone(layer: String, name: String, t0: Long): Unit =
    if (!Set("pass", "query", "leg")(layer))
      add(s"${name}_s", (System.nanoTime() - t0) / 1e9)

  def currentSpan: Long = current

  // ---- executor: jobs, stages, tasks --------------------------------
  private val jobs = mutable.Map[Int, Span]()
  private val stageParent = mutable.Map[Int, Long]()
  private var active = 0
  private var busyFrom = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val s = Span(ids.incrementAndGet(), parent, "job", s"job ${e.jobId}", e.time)
      jobs(e.jobId) = s
      e.stageIds.foreach(st => stageParent(st) = s.id)
      if (active == 0) busyFrom = e.time
      active += 1
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { s =>
        s.end = e.time
        record(s)
        active -= 1
        if (active == 0) add("exec.busy_s", (e.time - busyFrom) / 1e3)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageParent.remove(e.stageInfo.stageId).foreach { parent =>
        val i = e.stageInfo
        val s = Span(ids.incrementAndGet(), parent, "stage",
          s"stage ${i.stageId}", i.submissionTime.getOrElse(0L))
        s.end = i.completionTime.getOrElse(s.start)
        record(s)
        add("exec.stages", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskMetrics != null) {
        val m = e.taskMetrics
        add("exec.tasks", 1)
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("exec.spill_mb", m.diskBytesSpilled / 1e6)
        add("exec.input_mb", m.inputMetrics.bytesRead / 1e6)
        add("exec.output_mb", m.outputMetrics.bytesWritten / 1e6)
      }
  }

  // ---- Catalyst: every SQL execution, including those in construction
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      execution(qe, ns / 1e9)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit =
      execution(qe, 0.0)
    private def execution(qe: QueryExecution, secs: Double): Unit = if (on) {
      add("catalyst.executions", 1)
      qe.tracker.phases.foreach { case (ph, s) =>
        if (Set("analysis", "optimization", "planning")(ph))
          add(s"catalyst.${ph}_s", s.durationMs / 1e3)
      }
      if (writesTo(qe, stagedDir + "/")) {
        add("llm.staged_builds", 1)
        add("llm.staged_build_s", secs)
      }
    }
  }

  private def writesTo(qe: QueryExecution, marker: String): Boolean = {
    val paths = qe.executedPlan.collect {
      case w: DataWritingCommandExec => w.cmd match {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
        case _ => ""
      }
    } ++ qe.logical.collect {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    paths.exists(_.contains(marker))
  }

  // ---- Structured Streaming micro-batches ---------------------------
  @volatile var drainSpan = 0L
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
        val trig = d.getOrElse("triggerExecution", 0.0)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        record(Span(ids.incrementAndGet(), drainSpan, "batch",
          s"batch ${p.batchId}", start, start + trig.toLong))
        counters.synchronized {
          batchMs += trig
          commitMs += d.getOrElse("commitOffsets", 0.0) + d.getOrElse("walCommit", 0.0)
        }
        add("streaming.batches", 1)
        val ops = p.stateOperators
        add("streaming.late_dropped", ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
        set("streaming.state_rows_last", ops.map(_.numRowsTotal).sum.toDouble)
        set("streaming.state_mb_last", ops.map(_.memoryUsedBytes).sum / 1e6)
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Delivers all pending listener events. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Per-pass layer metrics over `passes` traced passes of total
    * wall time `wallS`. */
  def layers(passes: Int, wallS: Double): Map[String, Double] = {
    drain()
    val n = math.max(1, passes).toDouble
    val c = counters.synchronized(counters.toMap).withDefaultValue(0.0)
    def per(k: String) = c(k) / n
    val additive = Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.busy_s",
      "exec.task_run_s", "exec.task_cpu_s", "exec.shuffle_write_mb",
      "exec.shuffle_read_mb", "exec.spill_mb", "exec.input_mb", "exec.output_mb",
      "catalyst.executions", "catalyst.analysis_s", "catalyst.optimization_s",
      "catalyst.planning_s", "llm.staged_builds", "llm.staged_build_s",
      "llm.staged_mb", "streaming.batches", "streaming.late_dropped",
      "relational.construct_s", "llm.construct_s", "relational.execute_s",
      "llm.execute_s", "catalyst.optimize_s", "catalyst.plan_s",
      "pipeline.e1_s", "pipeline.e2_s", "streaming.drain_s",
      "sources.rowlevel.merge_s", "sources.rowlevel.snapshots",
      "sources.rowlevel.write_amp", "jvm.gc_s")
    val out = mutable.Map[String, Double]()
    additive.foreach(k => out(k) = per(k))
    val wall = wallS / n
    out("exec.slot_util") =
      if (out("exec.busy_s") > 0) out("exec.task_run_s") / (out("exec.busy_s") * cpus) else 0.0
    out("driver.gap_s") = math.max(0.0, wall - out("exec.busy_s"))
    out("construct_share") =
      if (wall > 0) (out("relational.construct_s") + out("llm.construct_s")) / wall else 0.0
    val bm = counters.synchronized(batchMs.sorted.toVector)
    val cm = counters.synchronized(commitMs.sorted.toVector)
    out("streaming.batch_p50_ms") = Trace.pct(bm, 50)
    val tail = Trace.tailPct(bm.size)
    out("streaming.batch_tail_pct") = tail
    out("streaming.batch_tail_ms") = Trace.pct(bm, tail)
    out("streaming.commit_ms") = Trace.pct(cm, 50)
    out("streaming.state_rows") = c("streaming.state_rows_last")
    out("streaming.state_mb") = c("streaming.state_mb_last")
    selfTimes(n).foreach { case (k, v) => out(k) = v }
    out.toMap
  }

  /** Self time per layer (span time not covered by its children), in
    * seconds per traced pass. */
  private def selfTimes(n: Double): Map[String, Double] = {
    val all = spans.synchronized(spans.toVector).filter(s => s.end >= s.start)
    val kids = all.groupBy(_.parent)
    val layers = Seq("pass", "query", "leg", "construct", "optimize", "plan",
      "execute", "ingest", "check", "job", "stage", "batch")
    val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
    all.foreach { s =>
      val covered = Trace.union(kids.getOrElse(s.id, Vector.empty)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end))))
      acc(s.layer) += math.max(0L, (s.end - s.start) - covered) / 1e3
    }
    layers.map(l => s"self.${l}_s" -> acc(l) / n).toMap
  }

  /** Spans as JSON lines, for offline inspection. */
  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.synchronized(spans.toVector).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name.replace("\"", "'")}","start":${s.start},"end":${s.end}}""")
    } finally w.close()
  }
}

object Trace {
  def pct(sorted: Vector[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1, math.ceil(p / 100 * sorted.size).toInt - 1 max 0))

  /** The highest of p50/p75/p90/p95/p99 with at least 10 samples beyond it. */
  def tailPct(n: Int): Double =
    Seq(99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)

  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
