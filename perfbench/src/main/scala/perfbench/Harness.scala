package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JVM side of the benchmark. Reads a JSON config (written by run.py),
  * runs `warmup_passes` untimed serial passes (the first also dumps each
  * operation's result for the oracle check when asked), then timed
  * passes until the time budget is spent (at least `min_passes`), and
  * writes a JSON report. With `trace` set, passes alternate
  * untraced/traced so the report carries the tracing overhead next to
  * the per-layer figures. */
object Harness {
  final case class Outcome(digest: String, error: String, secs: Double)

  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper()
    val cfg = mapper.readTree(new File(args(0)))
    def str(k: String) = cfg.get(k).asText()
    val cpus = cfg.get("cpus").asInt()
    val seconds = cfg.get("seconds").asDouble()
    val minPasses = cfg.get("min_passes").asInt()
    val warmupPasses = cfg.get("warmup_passes").asInt()
    val traceMode = cfg.get("trace").asBoolean()
    val verifyDir = Option(cfg.get("verify")).map(_.asText()).filter(_.nonEmpty)
    val work = str("work")
    val stateGlobs = cfg.get("state_globs").elements().asScala.map(_.asText()).toSeq
    val stagedDir = str("staged_dir")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()

    val trace = new Trace(spark, cpus, stagedDir)
    val wl: Workload = str("workload") match {
      case "ingest_e2e" => new Ingest(spark, str("input"), work, trace)
      case _ => new Registry(spark, str("input"),
        cfg.get("queries").elements().asScala.map(_.asText()).toSeq, trace,
        stateGlobs, stagedDir)
    }

    var verifyS = 0.0
    def runOp(op: String, dump: Option[String]): Outcome = {
      val t0 = System.nanoTime()
      try trace.span(wl.opLayer, op) {
        // A dumped result is cached by its digest run, so the dump does
        // not execute the query a second time.
        val df = if (dump.isEmpty) wl.run(op) else wl.run(op).persist()
        val d = Digest.of(df, trace, wl.checkLayer, wl.checkPhase(op))
        dump.foreach { dir =>
          val v0 = System.nanoTime()
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$op")
          df.unpersist()
          verifyS += (System.nanoTime() - v0) / 1e9
        }
        Outcome(d, "", (System.nanoTime() - t0) / 1e9)
      } catch {
        case e: InterruptedException => throw e
        case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
          Outcome("", msg.take(300).replaceAll("\\s+", " "),
            (System.nanoTime() - t0) / 1e9)
      }
    }

    // Untimed serial warmup; with `verify` set its first pass also dumps
    // results and the oracle SQL of the registry queries.
    verifyDir.foreach { _ =>
      val oracle = graft.SparkEntry.oracleSql
      val node = mapper.createObjectNode()
      wl.ops.filter(oracle.contains).foreach(op => node.put(op, oracle(op)))
      mapper.writeValue(new File(s"$work/oracle_sql.json"), node)
    }
    wl.reset()
    val warm = wl.ops.map(op => op -> runOp(op, verifyDir))
    val checks = wl.checks()
    (1 until warmupPasses).foreach { _ =>
      wl.reset()
      wl.ops.foreach(runOp(_, None))
    }
    val warmEndMs = System.currentTimeMillis()

    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcS = gcBeans.map(_.getCollectionTime).sum / 1e3
    val mem = ManagementFactory.getMemoryMXBean
    final case class Pass(traced: Boolean, wall: Double, cpu: Double,
        ops: Seq[(String, Outcome)])
    val passes = mutable.ArrayBuffer[Pass]()
    System.gc()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // Traced runs alternate untraced/traced, so each traced pass sits
    // between two untraced ones for the overhead estimate.
    while (passes.size < minPasses || System.nanoTime() < deadline) {
      val traced = traceMode && passes.size % 2 == 1
      wl.reset()
      trace.drain()
      trace.on = traced
      val (c0, g0, t0) = (cpuBean.getProcessCpuTime, gcS, System.nanoTime())
      val outs = trace.span("pass", s"pass ${passes.size}") {
        wl.ops.map(op => op -> runOp(op, None))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - c0) / 1e9
      if (traced) {
        trace.add("jvm.gc_s", gcS - g0)
        trace.drain()
        trace.on = false
        wl.passEnd()
      }
      passes += Pass(traced, wall, cpu, outs)
      System.gc()
    }
    // Read before the reset, which would release what the passes left pinned.
    val heapMb = retainedHeapMb(mem)
    wl.reset()

    val report = mapper.createObjectNode()
    report.put("ready_ms", readyMs)
    report.put("warm_end_ms", warmEndMs)
    report.put("verify_write_s", verifyS)
    report.put("retained_heap_mb", heapMb)
    def outcomes(node: ObjectNode, ops: Seq[(String, Outcome)]): Unit = ops.foreach {
      case (op, o) =>
        val n = node.putObject(op)
        n.put("digest", o.digest); n.put("error", o.error); n.put("secs", o.secs)
    }
    outcomes(report.putObject("warm"), warm)
    val cks = report.putArray("checks")
    checks.foreach(cks.add)
    val ps = report.putArray("passes")
    passes.foreach { p =>
      val n = ps.addObject()
      n.put("traced", p.traced); n.put("wall_s", p.wall); n.put("cpu_s", p.cpu)
      outcomes(n.putObject("ops"), p.ops)
    }
    if (traceMode) {
      val traced = passes.filter(_.traced)
      val layers = trace.layers(traced.size, traced.map(_.wall).sum)
      val ln = report.putObject("layers")
      layers.toSeq.sortBy(_._1).foreach { case (k, v) => ln.put(k, v) }
      ln.put("jvm.peak_rss_mb", peakRssMb())
      trace.writeSpans(s"$work/spans.jsonl")
    }
    val v = report.putObject("versions")
    v.put("spark", spark.version)
    v.put("java", System.getProperty("java.version"))
    v.put("scala", scala.util.Properties.versionNumberString)
    v.put("max_heap_mb", Runtime.getRuntime.maxMemory / 1048576)
    v.put("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(str("out")), report)
    spark.stop()
  }

  /** Heap still used after full collections. Collections repeat until
    * the figure settles, because Spark's context cleaner frees broadcast
    * and shuffle blocks only after a collection has found them
    * unreachable. */
  def retainedHeapMb(mem: java.lang.management.MemoryMXBean): Double = {
    def used = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1e6 }
    var last = used
    var rounds = 0
    var settled = false
    while (!settled && rounds < 5) {
      Thread.sleep(100)
      val now = used
      settled = last - now < 0.5
      last = now
      rounds += 1
    }
    last
  }

  /** VmHWM of this process (Linux), in MB. */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) 0.0
    else scala.io.Source.fromFile(f).getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** The paths matching `pattern`, whose components may hold `*`. */
  def expand(pattern: String): Seq[File] =
    pattern.split('/').filter(_.nonEmpty).foldLeft(Seq(new File("/"))) { (dirs, part) =>
      if (!part.contains('*')) dirs.map(new File(_, part)).filter(_.exists())
      else {
        val m = java.nio.file.FileSystems.getDefault.getPathMatcher(s"glob:$part")
        dirs.flatMap(d => Option(d.listFiles()).toSeq.flatten)
          .filter(f => m.matches(f.toPath.getFileName))
      }
    }

  def deleteTree(f: File): Unit =
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)

  def dirBytes(f: File): Long =
    if (f.exists()) org.apache.commons.io.FileUtils.sizeOfDirectory(f) else 0L
}

/** Full-result digest: row count plus an order-insensitive sum of
  * `xxhash64` over every output column, so no computed column can be
  * pruned away by the optimizer. */
object Digest {
  def frame(df: DataFrame): DataFrame = {
    val n = df.columns.length
    val renamed = df.toDF((0 until n).map(i => s"c$i"): _*)
    val h = if (n == 0) lit(0L) else xxhash64(renamed.columns.toIndexedSeq.map(col): _*)
    renamed.agg(count(lit(1)), sum(h.cast("decimal(20,0)")))
  }

  /** Plans and runs the digest, timing optimize, plan and execute as
    * separate phases. */
  def of(df: DataFrame, trace: Trace, layer: String, phase: String): String = {
    val d = frame(df)
    val qe = d.queryExecution
    trace.span("optimize", "catalyst.optimize")(qe.optimizedPlan)
    trace.span("plan", "catalyst.plan")(qe.executedPlan)
    val r = trace.span(layer, phase)(d.collect().head)
    s"${r.getLong(0)}:${String.valueOf(r.get(1))}"
  }
}

/** The operations of one pass. `run` returns the frame whose digest is
  * the operation's checked output. */
trait Workload {
  def ops: Seq[String]
  def opLayer: String
  def checkLayer: String
  def checkPhase(op: String): String
  def run(op: String): DataFrame
  /** Puts on-disk state back to where a fresh pass expects it. */
  def reset(): Unit
  /** Workload-specific checks after the warmup; returns failures. */
  def checks(): Seq[String] = Nil
  /** After a traced pass, with tracing off: adds the layer figures
    * that need a look at disk. */
  def passEnd(): Unit = ()
}

/** Registry queries from `graft.SparkEntry.queries`, run in the given
  * order on one input directory. */
final class Registry(spark: SparkSession, input: String, queries: Seq[String],
    trace: Trace, stateGlobs: Seq[String], stagedDir: String) extends Workload {
  private val llm = graft.llm.LlmQueries.entries.map(_._1).toSet
  private def family(q: String) = if (llm(q)) "llm" else "relational"

  def ops: Seq[String] = queries
  def opLayer = "query"
  def checkLayer = "execute"
  def checkPhase(q: String) = s"${family(q)}.execute"

  def run(q: String): DataFrame =
    trace.span("construct", s"${family(q)}.construct") {
      graft.SparkEntry.queries(q)(spark, input)
    }

  /** The program keys its on-disk state (staged pair graphs and other
    * intermediates) by the input directory's name; `stateGlobs` match
    * exactly the entries for this benchmark's input. */
  def reset(): Unit = {
    spark.catalog.clearCache()
    stateGlobs.flatMap(Harness.expand).foreach(Harness.deleteTree)
  }

  override def checks(): Seq[String] =
    if (!queries.contains("q79_text_scrub_pii")) Nil
    else {
      val plan = Digest.frame(graft.SparkEntry.queries("q79_text_scrub_pii")(spark, input))
        .queryExecution.optimizedPlan.toString
      if (plan.contains("regexp_replace")) Nil
      else Seq("q79_text_scrub_pii: digest plan lost the scrub expression")
    }

  override def passEnd(): Unit =
    trace.add("llm.staged_mb", Harness.dirBytes(new File(stagedDir)) / 1e6)
}
