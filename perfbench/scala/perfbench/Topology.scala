package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.apps.{TradePipeline, TrafficPipeline}
import graft.dim.DimRouter
import graft.dws.DwsWindows
import graft.serving.ServingQueries
import graft.sinks.Sinks
import graft.sources.Sources
import graft.streaming.LogSplit
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The layered warehouse over a file bus under `root`, built from the
  * program's public layer functions. Each layer is its own streaming query
  * with its own checkpoint, reading the previous layer's output from disk:
  *
  *   ods/topic_log  -> log_split (LogSplit: 5-way split + dead letter)
  *   dwd/traffic_page_log -> uv (TrafficPipeline.uniqueVisitors)
  *   page log + uv  -> dws_channel (DwsWindows beans, 10 s windows, Sinks.dwsParquet)
  *   ods/topic_db   -> order_detail (Sources.topicDb + TradePipeline joins)
  *   ods/topic_db   -> dim (DimRouter routing + Sinks.writeDim)
  *   order detail   -> dws_province (DwsWindows.provinceOrderWindowNamed)
  *
  * Every layer runs with `Trigger.AvailableNow`, one at a time, so no
  * query polls in the background while another is timed.
  */
final class Topology(spark: SparkSession, root: String, bus: String,
    sfDir: String, tracer: Tracer) {
  import Topology._

  private def p(x: String) = s"$root/$x"
  val odsLog: String = p("ods/topic_log")
  val odsDb: String = p("ods/topic_db")
  val dwsChannel: String = p("dws/traffic_channel")
  val dwsProvince: String = p("dws/trade_province_order")
  Seq(odsLog, odsDb).foreach(d => Files.createDirectories(Paths.get(d)))

  private val baseDic = spark.read.json(s"$bus/base_dic.json")
  private val config = spark.read.json(s"$bus/table_process.json")
  private val rules = DimRouter.parseConfig(config)
  private val province = spark.read.parquet(s"$sfDir/nation.parquet")
    .select(col("n_nationkey").cast("string").as("id"), col("n_name").as("name"))

  private val noLines = spark.createDataFrame(
    java.util.Collections.emptyList[Row](), StructType(Seq(StructField("value", StringType))))
  private val pageSchema = LogSplit.pageLog(LogSplit.parse(noLines)).schema
  private val uvSchema = TrafficPipeline.uniqueVisitors(
    spark.createDataFrame(java.util.Collections.emptyList[Row](), pageSchema)).schema
  private val detailSchema = TradePipeline.orderDetailStream(
    Sources.topicDb(noLines), baseDic).schema

  private def ck(name: String) = p(s"checkpoint/$name")

  private def logSplit(): StreamingQuery = {
    val write: (DataFrame, Long) => Unit = (batch, _) => {
      val parsed = LogSplit.parse(batch).persist()
      Seq("traffic_page_log" -> LogSplit.pageLog(parsed),
        "traffic_start_log" -> LogSplit.startLog(parsed),
        "traffic_err_log" -> LogSplit.errLog(parsed),
        "traffic_display_log" -> LogSplit.displayLog(parsed),
        "traffic_action_log" -> LogSplit.actionLog(parsed),
        "dirty_log" -> LogSplit.dirty(parsed)).foreach { case (t, df) =>
        df.write.mode("append").parquet(p(s"dwd/$t"))
      }
      parsed.unpersist()
    }
    spark.readStream.text(odsLog).writeStream
      .option("checkpointLocation", ck("log_split"))
      .trigger(Trigger.AvailableNow()).foreachBatch(write).start()
  }

  private def pages = spark.readStream.schema(pageSchema).parquet(p("dwd/traffic_page_log"))

  private def uniqueVisitors(): StreamingQuery =
    TrafficPipeline.uniqueVisitors(pages, Some(Watermark))
      .writeStream.format("parquet").option("path", p("dwd/traffic_uv"))
      .option("checkpointLocation", ck("uv")).outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow()).start()

  private def channelWindows(): StreamingQuery = {
    val uv = spark.readStream.schema(uvSchema).parquet(p("dwd/traffic_uv"))
    val beans = DwsWindows.trafficPageBean(pages)
      .unionByName(DwsWindows.trafficUvBean(uv))
      .withWatermark("event_time", Watermark)
    Sinks.dwsParquet(DwsWindows.trafficChannelPageView(beans), dwsChannel, ck("dws_channel"))
      .trigger(Trigger.AvailableNow()).start()
  }

  private def topicDb = Sources.topicDb(spark.readStream.text(odsDb))

  private def orderDetail(): StreamingQuery =
    TradePipeline.orderDetailStream(topicDb, baseDic)
      .writeStream.format("parquet").option("path", p("dwd/trade_order_detail"))
      .option("checkpointLocation", ck("order_detail")).outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow()).start()

  private def dim(): StreamingQuery = {
    val write: (DataFrame, Long) => Unit = (batch, _) =>
      Sinks.writeDim(DimRouter.dimFrames(batch, rules), p("dim"))
    DimRouter.route(topicDb, config).writeStream
      .option("checkpointLocation", ck("dim"))
      .trigger(Trigger.AvailableNow()).foreachBatch(write).start()
  }

  private def provinceWindows(): StreamingQuery = {
    val detail = spark.readStream.schema(detailSchema).parquet(p("dwd/trade_order_detail"))
      .withWatermark("event_time", Watermark)
    Sinks.dwsParquet(DwsWindows.provinceOrderWindowNamed(detail, province),
        dwsProvince, ck("dws_province"))
      .trigger(Trigger.AvailableNow()).start()
  }

  /** (span name, query) in drain order; the span name's first segment is
    * the per-layer metric family. */
  val layers: Seq[(String, () => StreamingQuery)] = Seq(
    "streaming.log_split" -> (() => logSplit()),
    "streaming.uv" -> (() => uniqueVisitors()),
    "dws.channel" -> (() => channelWindows()),
    "dwd.order_detail" -> (() => orderDetail()),
    "dim.route" -> (() => dim()),
    "dws.province" -> (() => provinceWindows()))

  /** Last progress of every layer that has run, for watermarks and state. */
  private val lastProgress = scala.collection.mutable.Map.empty[String, StreamingQueryProgress]

  /** Moves one increment's bus files into the ODS directories. */
  def land(logFile: String, dbFile: String): Unit = {
    Files.createLink(Paths.get(s"$odsLog/$logFile"), Paths.get(s"$bus/$logFile"))
    Files.createLink(Paths.get(s"$odsDb/$dbFile"), Paths.get(s"$bus/$dbFile"))
  }

  /** Drains one layer to the end of its input; returns its wall ms. */
  def drain(layer: String, start: () => StreamingQuery, request: String): Double = {
    val (q, ms) = tracer.timed(layer, request) {
      val q = start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      record(layer, q.recentProgress)
      q
    }
    q.recentProgress.lastOption.foreach(lastProgress(layer) = _)
    System.err.println(f"[perfbench] $layer%-20s $request%-14s ${ms}%9.1f ms " +
      s"batches=${q.recentProgress.length} rows=${q.recentProgress.map(_.numInputRows).sum} " +
      q.recentProgress.flatMap(_.durationMs.asScala.toSeq).groupBy(_._1)
        .map { case (k, v) => s"$k=${v.map(_._2.longValue).sum}" }.mkString(" "))
    ms
  }

  /** Adds a drain's streaming progress to the tracer's counters. */
  private def record(layer: String, ps: Array[StreamingQueryProgress]): Unit = {
    def d(pr: StreamingQueryProgress, k: String): Double =
      Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val family = layer.takeWhile(_ != '.')
    ps.foreach { pr =>
      tracer.add("catalyst.stream_planning_ms", d(pr, "queryPlanning"))
      tracer.add("sources.list_ms", d(pr, "latestOffset") + d(pr, "getBatch"))
      tracer.add("sources.rows_in", pr.numInputRows.toDouble)
      tracer.add("sinks.add_batch_ms", d(pr, "addBatch"))
      tracer.add("sinks.commit_ms", d(pr, "walCommit") + d(pr, "commitOffsets"))
      pr.stateOperators.foreach { s =>
        tracer.add("state.commit_ms", s.commitTimeMs.toDouble)
        if (family == "dws") tracer.add("dws.late_dropped", s.numRowsDroppedByWatermark.toDouble)
      }
    }
  }

  /** State rows and state memory held by the layers after their last drain. */
  def stateRows(family: String): Double = lastProgress.toSeq
    .filter(_._1.startsWith(family + "."))
    .flatMap(_._2.stateOperators.map(_.numRowsTotal.toDouble)).sum
  def stateMemMb: Double = lastProgress.values
    .flatMap(_.stateOperators.map(_.memoryUsedBytes.toDouble)).sum / (1 << 20)

  /** The event-time watermark a layer reported last, epoch ms. */
  def watermarkMs(layer: String): Long = lastProgress.get(layer)
    .flatMap(pr => Option(pr.eventTime.get("watermark")))
    .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L)

  /** The dashboard endpoints over the DWS tables this topology writes. */
  def endpoints(date: Int): Seq[(String, () => DataFrame)] = {
    def channel = spark.read.parquet(dwsChannel)
    Seq(
      "traffic_channel_stats" -> (() => ServingQueries.trafficChannelStats(channel, date)),
      "visitor_per_type" -> (() => ServingQueries.visitorPerType(channel, date)),
      "visitor_per_hr" -> (() => ServingQueries.visitorPerHr(channel, date)),
      "sugar_channel_uv" -> (() => ServingQueries.sugarChannelUv(channel, date)),
      "province_order" -> (() =>
        ServingQueries.provinceOrder(spark.read.parquet(dwsProvince), date)))
  }

  /** Data files of the dt-partitioned DWS tables. */
  def dwsFiles: Int = Seq(dwsChannel, dwsProvince).map { d =>
    val s = Files.walk(Paths.get(d))
    try s.filter(f => f.toString.endsWith(".parquet")).count().toInt finally s.close()
  }.sum
}

object Topology {
  /** Out-of-order tolerance of the traffic and province layers: the 2 s
    * of `TrafficPipeline` and `TrafficApp` (SURVEY.md section 2.9). The
    * order-detail joins keep `TradePipeline`'s own defaults (5 s
    * watermark, 60 s retention). */
  val Watermark = "2 seconds"
}
