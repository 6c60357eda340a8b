package perfbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: wall interval, parent span, the request it
  * served, and the change of every listener counter between its ends. */
final case class Span(id: Int, name: String, parent: Int, request: String,
    startMs: Double, endMs: Double, counters: Map[String, Double]) {
  def ms: Double = endMs - startMs
}

/** Records spans around calls into the program's layers. When tracing is on
  * it registers a SparkListener and a QueryExecutionListener that keep
  * cumulative counters, tags every job launched inside a span with the
  * span's id (`setJobGroup`), and snapshots the counters at both ends of a
  * span after the listener bus has drained. Everything stays in memory
  * until [[json]] is called at the end of the run. When tracing is off a
  * span is just the call, plus its wall time.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** (start ms, end ms, job group) of every finished job. */
  val jobs = mutable.ArrayBuffer.empty[(Long, Long, String)]
  private val jobStarts = mutable.Map.empty[Int, (Long, String)]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def add(key: String, v: Double): Unit = counts.synchronized { counts(key) += v }
  def snapshot(): Map[String, Double] = counts.synchronized { counts.toMap }

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("scheduler.jobs", 1)
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      counts.synchronized { jobStarts(e.jobId) = (e.time, group) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = counts.synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, g) => jobs += ((t0, e.time, g)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("scheduler.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("scheduler.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("executor.run_ms", m.executorRunTime.toDouble)
        add("executor.cpu_ms", m.executorCpuTime / 1e6)
        add("executor.gc_ms", m.jvmGCTime.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("sinks.bytes_written", m.outputMetrics.bytesWritten.toDouble)
        add("sinks.rows_written", m.outputMetrics.recordsWritten.toDouble)
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        add("scheduler.task_wait_ms", math.max(0L, e.taskInfo.duration - busy).toDouble)
      }
    }
  }

  private object Plans extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      add("catalyst.executions", 1)
      add("catalyst.plan_ms", qe.tracker.phases.values
        .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      record(qe)
      add("scans.files_read", filesRead(qe.executedPlan))
    }
    // a failed execution may have no executed plan to look at
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def filesRead(plan: SparkPlan): Double = plan match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case s: QueryStageExec => filesRead(s.plan)
    case r: ReusedExchangeExec => filesRead(r.child)
    case f: FileSourceScanExec =>
      f.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)
    case p => p.children.map(filesRead).sum + p.subqueries.map(filesRead).sum
  }

  if (enabled) {
    sc.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
  }

  private def nowMs: Double = System.nanoTime() / 1e6

  /** Runs `body` as span `name`; returns its result and wall milliseconds. */
  def timed[T](name: String, request: String = "")(body: => T): (T, Double) = {
    if (!enabled) {
      val t0 = nowMs
      val r = body
      return (r, nowMs - t0)
    }
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    BenchBus.drain(sc)
    val before = snapshot()
    val group = sc.getLocalProperty("spark.jobGroup.id")
    val desc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(s"span-$id", s"$name $request".trim)
    stack = id :: stack
    val t0 = nowMs
    try {
      val r = body
      (r, nowMs - t0)
    } finally {
      val t1 = nowMs
      stack = stack.tail
      if (group == null) sc.clearJobGroup() else sc.setJobGroup(group, desc)
      BenchBus.drain(sc)
      val after = snapshot()
      val diff = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
      spans += Span(id, name, parent, request, t0, t1, diff)
    }
  }

  def span[T](name: String, request: String = "")(body: => T): T =
    timed(name, request)(body)._1

  /** Spans whose name starts with `prefix` and that have no ancestor
    * matching it, so a layer's nested spans are not counted twice. */
  def outer(prefix: String): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    def hasMatchingAncestor(s: Span): Boolean =
      byId.get(s.parent).exists(p => p.name.startsWith(prefix) || hasMatchingAncestor(p))
    spans.toSeq.filter(s => s.name.startsWith(prefix) && !hasMatchingAncestor(s))
  }

  /** Milliseconds of [t0, t1) not covered by any Spark job. */
  def gapMs(t0Epoch: Long, t1Epoch: Long): Double = {
    val ivs = jobs.toSeq.map { case (a, b, _) => (math.max(a, t0Epoch), math.min(b, t1Epoch)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (t1Epoch - t0Epoch - covered).toDouble
  }

  /** Every span with its self time (duration minus the part its children
    * cover) and the job groups it launched, as one JSON document. */
  def json: String = {
    val children = spans.groupBy(_.parent)
    val groups = jobs.groupBy(_._3).map { case (g, js) => g -> js.size }
    spans.sortBy(_.id).map { s =>
      val kids = children.getOrElse(s.id, Nil).map(_.ms).sum
      val cs = s.counters.filter(_._2 != 0).toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"name":${graft.Json.str(s.name)},"parent":${s.parent},""" +
        s""""request":${graft.Json.str(s.request)},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""self_ms":${s.ms - kids},"jobs":${groups.getOrElse(s"span-${s.id}", 0)},""" +
        s""""counters":$cs}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
