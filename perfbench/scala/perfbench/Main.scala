package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Benchmark JVM: runs one workload in a fresh single session and writes
  * its timings, counts and check inputs to `<work>/result.json`.
  *
  * Arguments: `<workload> <work dir> <bus dir> <sf dir> <cores> <units>
  * <trace 0|1> <increments>`, where `units` is the number of timed suite
  * passes or pipeline rounds, and `increments` lists `log file:db
  * file:yyyyMMdd` per pipeline increment, separated by `,`.
  *
  * Set-up (session start, warm pass) happens before the timed region and
  * its end is reported as `setup_end_epoch_ms`. In the timed region one
  * client thread makes one call at a time; every timed query result is
  * computed in full by `collect`.
  */
object Main {
  /** Every k-th query name in sorted order forms the suite sample (4 of
    * 363), small enough that a run makes four timed passes. */
  val SuiteEvery = 120
  /** Untimed passes in set-up. Pass times still fall for a few passes
    * while the JIT catches up, which is why the metrics take the best of
    * the timed passes. */
  val SuiteWarmPasses = 2
  /** Refreshes of the dashboard after each live increment: the first
    * ends the increment's freshness, the rest are further viewers. */
  val DashboardViewers = 5

  final case class Increment(log: String, db: String, date: Int)

  def main(args: Array[String]): Unit = {
    val Array(workload, work, bus, sfDir, cores, units, trace, incSpec) = args
    val increments = incSpec.split(',').filter(_.nonEmpty).toSeq.map { s =>
      val Array(l, d, dt) = s.split(':'); Increment(l, d, dt.toInt)
    }
    val spark = GraftSession.local(cores.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, trace == "1")
    val out = new Result
    val bench = new Workloads(spark, tracer, work, bus, sfDir, out)
    try workload match {
      case "suite" => bench.suite(units.toInt)
      case "pipeline" => bench.pipeline(units.toInt, increments)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      out.num("rss_peak_mb", rssPeakMb())
      Files.writeString(Paths.get(s"$work/result.json"), out.json)
      if (tracer.enabled) Files.writeString(Paths.get(s"$work/trace.json"), tracer.json)
      spark.stop()
    }
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** The timed action: computes every column of every row of a result and
  * hands the rows to the client. (`count()` would let the optimizer drop
  * columns the caller never receives.) */
object Timed {
  def compute(df: DataFrame): Array[Row] = df.collect()
}

/** Values the Python side turns into metrics and checks. */
final class Result {
  private val fields = mutable.LinkedHashMap.empty[String, String]
  def num(k: String, v: Double): Unit = fields(k) = v.toString
  def nums(k: String, vs: Seq[Double]): Unit = fields(k) = vs.mkString("[", ",", "]")
  /** Values grouped by name, as `{"name": [v, ...], ...}`. */
  def named(k: String, vs: Seq[(String, Double)]): Unit = fields(k) =
    vs.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (n, xs) => s"${graft.Json.str(n)}:${xs.map(_._2).mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
  def str(k: String, v: String): Unit = fields(k) = graft.Json.str(v)
  def raw(k: String, v: String): Unit = fields(k) = v
  def json: String = fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",\n", "}\n")
}

final class Workloads(spark: SparkSession, tracer: Tracer, work: String,
    bus: String, sfDir: String, out: Result) {
  import Main._

  private var attempted = 0
  private var failed = 0
  private val errors = mutable.ArrayBuffer.empty[String]

  /** Runs one client operation; a throw counts as a failed operation. */
  private def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch { case e: Throwable =>
      failed += 1
      errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      None
    }
  }

  /** Keeps a timed unit's wall ms only if none of its operations failed:
    * a unit cut short by a throw would read fast. */
  private def cleanMs(into: mutable.ArrayBuffer[Double])(unit: => Double): Unit = {
    val before = failed
    val ms = unit
    if (failed == before) into += ms
  }

  private def setupDone(): Unit = {
    out.num("setup_end_epoch_ms", System.currentTimeMillis().toDouble)
    attempted = 0
    failed = 0
    errors.clear()
    tracer.spans.clear()
  }

  /** Wraps the timed region; records counts and, when tracing, the
    * per-layer metrics. `topo` gives the streaming layers' end state. */
  private def timedRegion(name: String, topo: => Option[Topology])(body: => Unit): Unit = {
    val e0 = System.currentTimeMillis()
    val (_, ms) = tracer.timed("run", name)(body)
    val e1 = System.currentTimeMillis()
    out.num("timed_s", ms / 1000)
    out.num("attempted", attempted)
    out.num("failed", failed)
    out.raw("errors", errors.map(graft.Json.str).mkString("[", ",", "]"))
    if (tracer.enabled) out.raw("per_layer", perLayer(e0, e1, topo))
  }

  private def perLayer(e0: Long, e1: Long, topo: Option[Topology]): String = {
    val run = tracer.spans.find(_.name == "run").get.counters.withDefaultValue(0.0)
    def ms(prefix: String) = tracer.outer(prefix).map(_.ms).sum
    def sum(prefix: String, counter: String) =
      tracer.outer(prefix).map(_.counters.getOrElse(counter, 0.0)).sum
    val m = mutable.LinkedHashMap[String, Double](
      "queries.build_ms" -> ms("queries.build"),
      "queries.exec_ms" -> ms("queries.exec"),
      "catalyst.plan_ms" -> run("catalyst.plan_ms"),
      "catalyst.executions" -> run("catalyst.executions"),
      "catalyst.stream_planning_ms" -> run("catalyst.stream_planning_ms"),
      "scheduler.jobs" -> run("scheduler.jobs"),
      "scheduler.stages" -> run("scheduler.stages"),
      "scheduler.tasks" -> run("scheduler.tasks"),
      "scheduler.gap_ms" -> tracer.gapMs(e0, e1),
      "scheduler.task_wait_ms" -> run("scheduler.task_wait_ms"),
      "executor.run_ms" -> run("executor.run_ms"),
      "executor.cpu_ms" -> run("executor.cpu_ms"),
      "executor.gc_ms" -> run("executor.gc_ms"),
      "shuffle.write_bytes" -> run("shuffle.write_bytes"),
      "shuffle.read_bytes" -> run("shuffle.read_bytes"),
      "sources.rows_in" -> run("sources.rows_in"),
      "sources.list_ms" -> run("sources.list_ms"),
      "streaming.drain_ms" -> ms("streaming."),
      "streaming.rows_out" -> sum("streaming.", "sinks.rows_written"),
      "streaming.state_rows" -> topo.map(_.stateRows("streaming")).getOrElse(0.0),
      "dwd.drain_ms" -> ms("dwd."),
      "dwd.rows_out" -> sum("dwd.", "sinks.rows_written"),
      "dwd.state_rows" -> topo.map(_.stateRows("dwd")).getOrElse(0.0),
      "dim.drain_ms" -> ms("dim."),
      "dim.snapshot_rows" -> sum("dim.", "sinks.rows_written"),
      "dws.drain_ms" -> ms("dws."),
      "dws.rows_out" -> sum("dws.", "sinks.rows_written"),
      "dws.late_dropped" -> run("dws.late_dropped"),
      "state.commit_ms" -> run("state.commit_ms"),
      "state.mem_mb" -> topo.map(_.stateMemMb).getOrElse(0.0),
      "sinks.add_batch_ms" -> run("sinks.add_batch_ms"),
      "sinks.commit_ms" -> run("sinks.commit_ms"),
      "sinks.bus_bytes" -> run("sinks.bytes_written"),
      "sinks.dws_files" -> topo.map(_.dwsFiles.toDouble).getOrElse(0.0),
      "serving.query_ms" -> ms("serving"),
      "serving.plan_ms" -> sum("serving", "catalyst.plan_ms"),
      "serving.files_read" -> sum("serving", "scans.files_read"),
      "pipeline.backfill_ms" -> ms("pipeline.backfill"),
      "pipeline.live_ms" -> ms("pipeline.live"))
    m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  /** A fixed sample of SparkEntry.queries, warm passes in set-up, then
    * `passes` timed passes in sorted order. */
  def suite(passes: Int): Unit = {
    val all = SparkEntry.queries
    val sample = all.keys.toSeq.sorted.zipWithIndex
      .collect { case (n, i) if i % SuiteEvery == 0 => n }
    for (_ <- 1 to SuiteWarmPasses; n <- sample) op(n)(Timed.compute(all(n)(spark, sfDir)))
    setupDone()
    val passMs = mutable.ArrayBuffer.empty[Double]
    val queryMs = mutable.ArrayBuffer.empty[(String, Double)]
    val last = mutable.Map.empty[String, (Array[Row], DataFrame)]
    timedRegion("suite", None) {
      for (_ <- 1 to passes) cleanMs(passMs) {
        tracer.timed("suite.pass") {
          sample.foreach { n =>
            op(n) {
              val (res, ms) = tracer.timed("queries", n) {
                val df = tracer.span("queries.build", n)(all(n)(spark, sfDir))
                (tracer.span("queries.exec", n)(Timed.compute(df)), df)
              }
              queryMs += n -> ms
              last(n) = res
            }
          }
        }._2
      }
    }
    out.nums("pass_ms", passMs.toSeq)
    out.named("query_ms", queryMs.toSeq)
    // check inputs: the last timed pass's rows, and the oracle twins
    sample.foreach { n =>
      last.get(n).foreach { case (rows, df) =>
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$work/suite/$n")
      }
    }
    out.raw("sample", sample.map(graft.Json.str).mkString("[", ",", "]"))
    out.raw("timed_names", sample.map(graft.Json.str).mkString("[", ",", "]"))
    out.raw("oracle", SparkEntry.oracleSql.filter(kv => sample.contains(kv._1))
      .map { case (k, v) => s"${graft.Json.str(k)}:${graft.Json.str(v)}" }
      .mkString("{", ",", "}"))
  }

  /** Lands one increment, drains every layer, and, when `serve`, calls
    * every dashboard endpoint of the increment's day; returns (endpoint,
    * ms) per call. */
  private def step(topo: Topology, inc: Increment, request: String,
      serve: Boolean): Seq[(String, Double)] = {
    topo.land(inc.log, inc.db)
    topo.layers.foreach { case (layer, start) =>
      op(s"$layer $request")(topo.drain(layer, start, request))
    }
    if (serve) refresh(topo, inc) else Nil
  }

  /** Calls every dashboard endpoint of the increment's day once; returns
    * (endpoint, ms) per call and keeps the rows for the checks. */
  private def refresh(topo: Topology, inc: Increment): Seq[(String, Double)] =
    topo.endpoints(inc.date).flatMap { case (name, q) =>
      op(s"serving.$name")(tracer.timed("serving", name)(Timed.compute(q()))).map {
        case (rows, ms) =>
          out.raw(s"dashboard.$name", rows.map(_.json).mkString("[", ",", "]"))
          name -> ms
      }
    }

  /** The warehouse topology, `rounds` times over fresh namespaces. A round
    * is a backfill (the history block `incs(1)` lands and drains through
    * every layer; serving stays idle) followed by one live increment
    * (`incs(2)` lands, every layer drains, the dashboard endpoints of its
    * day refresh). The round ends there; the dashboard then refreshes
    * again for further viewers. In set-up, the head of the history
    * (`incs(0)`) runs through the same steps in its own namespace. */
  def pipeline(rounds: Int, incs: Seq[Increment]): Unit = {
    val Seq(warm, history, live) = incs
    step(new Topology(spark, s"$work/warm", bus, sfDir, tracer), warm, "warm", serve = true)
    setupDone()
    val roundMs = mutable.ArrayBuffer.empty[Double]
    val queryMs = mutable.ArrayBuffer.empty[(String, Double)]
    var last: Option[Topology] = None
    timedRegion("pipeline", last) {
      for (r <- 1 to rounds) {
        val topo = new Topology(spark, s"$work/round$r", bus, sfDir, tracer)
        last = Some(topo)
        cleanMs(roundMs) {
          tracer.timed("pipeline.round", s"round $r") {
            tracer.span("pipeline.backfill")(step(topo, history, "backfill", serve = false))
            queryMs ++= tracer.span("pipeline.live")(step(topo, live, "live", serve = true))
          }._2
        }
        // further viewers of the same dashboard: the same endpoints again
        for (_ <- 2 to DashboardViewers) queryMs ++= refresh(topo, live)
      }
    }
    out.nums("pass_ms", roundMs.toSeq)
    out.named("query_ms", queryMs.toSeq)
    out.num("dashboard_date", live.date)
    val topo = last.get
    out.raw("timed_names",
      topo.endpoints(live.date).map(e => graft.Json.str(e._1)).mkString("[", ",", "]"))
    out.str("root", s"$work/round$rounds")
    Seq("streaming.uv", "dws.channel", "dwd.order_detail", "dws.province").foreach { l =>
      out.num(s"watermark.$l", topo.watermarkMs(l).toDouble)
    }
  }
}
