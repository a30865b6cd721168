package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.pipeline.Pipelines
import graft.streaming.Streams

/** The reference dataflow, composed from the program's public functions
  * over generated inputs (see gen.py):
  *  - e1: ConsumptionIndustry envelopes → `Pipelines.energinetE1` →
  *    keyed Avro frames written to files;
  *  - e2: the frames read back through `Pipelines.consumeE2` into daily
  *    per-municipality totals, written to files;
  *  - stream: an event file stream (one file per trigger, rows of the
  *    `events` table) through `Streams.dailyDedupAgg` into a
  *    checkpointed parquet file sink;
  *  - catalog: one `MERGE INTO` per day of e2 totals into a `graft_rl`
  *    row-level table.
  * Each leg depends on the files the one before it wrote. */
final class Ingest(spark: SparkSession, input: String, work: String, trace: Trace)
    extends Workload {
  private val frames = s"$work/ingest/frames"
  private val totals = s"$work/ingest/totals"
  private val sink = s"$work/ingest/sink"
  private val checkpoint = s"$work/ingest/checkpoint"
  private val warehouse = s"$work/ingest/warehouse"
  private val table = "graft_rl.db.muni_totals"

  def ops: Seq[String] = Seq("e1", "e2", "stream", "catalog")
  def opLayer = "leg"
  def checkLayer = "check"
  def checkPhase(op: String) = "ingest.check"

  private var rowsChanged = 0L

  def reset(): Unit = {
    rowsChanged = 0L
    Seq(frames, totals, sink, checkpoint, warehouse)
      .foreach(d => Harness.deleteTree(new File(d)))
  }

  def run(op: String): DataFrame = op match {
    case "e1" =>
      trace.span("ingest", "pipeline.e1") {
        val env = spark.read.parquet(s"$input/envelopes.parquet")
        Pipelines.energinetE1(env).write.mode("overwrite").parquet(frames)
      }
      spark.read.parquet(frames)
    case "e2" =>
      trace.span("ingest", "pipeline.e2") {
        Pipelines.consumeE2(spark.read.parquet(frames))
          .groupBy(to_date(to_timestamp(col("HourUTC"))).as("day"),
            col("MunicipalityNo").as("muni"))
          .agg(sum(col("ConsumptionkWh")).as("kwh"), count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(totals)
      }
      spark.read.parquet(totals)
    case "stream" =>
      trace.span("ingest", "streaming.drain") {
        trace.drainSpan = trace.currentSpan
        val schema = StructType(Seq(
          StructField("event_id", LongType), StructField("ts", TimestampType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
        val events = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$input/stream")
        Streams.dailyDedupAgg(events).writeStream
          .format("parquet").outputMode("append")
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow())
          .start(sink).awaitTermination()
      }
      spark.read.parquet(sink)
    case "catalog" =>
      trace.span("ingest", "sources.rowlevel.merge") {
        spark.conf.set("spark.sql.catalog.graft_rl",
          classOf[graft.sources.v2.rowlevel.GraftRowCatalog].getName)
        spark.conf.set("spark.sql.catalog.graft_rl.warehouse", warehouse)
        spark.sql(s"CREATE TABLE $table (muni STRING, last_day DATE, kwh DOUBLE, days BIGINT)")
        val daily = spark.read.parquet(totals)
        val days = daily.groupBy("day").count().orderBy("day").collect()
        days.foreach { r =>
          daily.filter(col("day") === lit(r.getDate(0)))
            .select("muni", "day", "kwh").createOrReplaceTempView("perfbench_day")
          spark.sql(s"""
            MERGE INTO $table t USING perfbench_day s ON t.muni = s.muni
            WHEN MATCHED THEN UPDATE SET
              last_day = s.day, kwh = t.kwh + s.kwh, days = t.days + 1
            WHEN NOT MATCHED THEN INSERT (muni, last_day, kwh, days)
              VALUES (s.muni, s.day, s.kwh, 1)""")
          rowsChanged += r.getLong(1)
        }
      }
      spark.table(table)
  }

  /** Snapshot count, and write amplification: bytes of every data file
    * the MERGEs wrote ÷ bytes of the rows they changed (rows changed ×
    * bytes per row of the final snapshot). */
  override def passEnd(): Unit = {
    val dir = new File(s"$warehouse/db/muni_totals")
    val manifests = Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("_v") && f.getName.endsWith(".manifest"))
      .sortBy(_.getName)
      .map(f => scala.io.Source.fromFile(f).getLines().map(_.trim).filter(_.nonEmpty).toSeq)
    trace.add("sources.rowlevel.snapshots", manifests.size.toDouble)
    def bytes(names: Seq[String]) = names.map(n => new File(dir, n).length()).sum.toDouble
    val rows = spark.table(table).count()
    if (manifests.nonEmpty && rows > 0 && rowsChanged > 0) {
      val rowBytes = bytes(manifests.last) / rows
      trace.add("sources.rowlevel.write_amp",
        bytes(manifests.flatten.distinct) / (rowsChanged * rowBytes))
    }
  }
}
