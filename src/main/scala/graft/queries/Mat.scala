package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit}

/** Conf-gated bounded-frame materialization (VERDICT r11 task 1;
  * widened to EVERY query-pack materialization site in r12).
  *
  * The iterative/multi-consumer chains (the q110 MinHash→CC dedup, the
  * q146/q155 BM25 doc aggregate, the graph/suffix/k-means loops, ...)
  * materialize bounded intermediate frames to truncate lineage and
  * stop plan blow-up. The default device is `localCheckpoint()` —
  * blocks live in executor storage, fast, no external storage needed —
  * but it TRADES FAULT TOLERANCE FOR SPEED: lineage is truncated, so
  * losing the executor that holds a block fails the whole job (loudly —
  * Spark raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; never silent
  * divergence — measured r11 ClusterGate production run, and
  * reproduced deliberately by the r12 chaos gate). On a
  * re-run-tolerant batch pipeline that is the right trade; on a
  * cluster with real executor churn it is not.
  *
  * `stable(df)` is the one switch point, and since r12 EVERY
  * `graft.queries` materialization routes through it (`.stable()` via
  * [[StableOps]]): with `spark.graft.reliableCheckpoint=true` (or `1`)
  * it uses a RELIABLE `checkpoint()` instead — partitions written to the
  * checkpoint directory (shared storage on a real cluster: HDFS/S3;
  * here the local FS), which SURVIVES executor loss. Both forms are
  * eager and both truncate lineage, so plan shape and results are
  * identical — the conf changes only where the materialized bytes
  * live, at the cost of writing them to (and re-reading them from)
  * that storage; checkpoint files also accumulate for the session
  * (clean the dir between jobs, or enable
  * `spark.cleaner.referenceTracking.cleanCheckpoints`). Verified by
  * ClusterGate's chaos mode: an executor kill between materialization
  * and consumption fails the default path loudly and leaves the
  * reliable path correct (fingerprint-identical to an undisturbed
  * local[4] run). Streaming-side materializations (Sinks' per-batch
  * localCheckpoints) are NOT routed here: a micro-batch frame dies
  * with its batch and is replayed by the checkpointed source on any
  * failure, so the streaming recovery story never depends on these
  * blocks.
  *
  * If no checkpoint dir is set, a temp dir is created as a
  * single-machine convenience; a real cluster MUST point
  * `sparkContext.setCheckpointDir` at shared storage first (executors
  * write their partitions directly to it).
  */
object Mat {
  val ConfKey = "spark.graft.reliableCheckpoint"

  /** Lenient boolean parse — `spark.conf.set(ConfKey, "1")` must enable
    * the hatch, not throw from deep inside query construction. */
  private def truthy(v: String): Boolean =
    v.equalsIgnoreCase("true") || v == "1"

  def reliableEnabled(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(ConfKey).exists(truthy)

  def stable(df: DataFrame): DataFrame =
    if (!reliableEnabled(df)) df.localCheckpoint()
    else {
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        // Auto-creating a driver-local temp dir is only sound when every
        // task runs on this machine; on a real cluster executors would
        // write their partitions to their own node-local /tmp and later
        // reads FileNotFound. Fail fast there instead (ADVICE r12).
        require(sc.master.startsWith("local"),
          s"$ConfKey=true on master '${sc.master}' requires " +
            "sparkContext.setCheckpointDir pointing at SHARED storage " +
            "(HDFS/S3); refusing to default to a driver-local temp dir")
        sc.setCheckpointDir(java.nio.file.Files
          .createTempDirectory("graft_reliable_ckpt").toString)
      }
      df.checkpoint()
    }

  private val obsId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Materialize `df` eagerly (same semantics as [[stable]]) AND return
    * driver-side aggregate metrics of its rows, measured by a
    * `CollectMetrics` (`observe`) node evaluated INSIDE the one
    * materialization job — the iterative loops (star closure, BFS,
    * k-core peel, Bellman-Ford, suffix doubling) each paid a separate
    * count()/agg() ACTION per round for exactly these scalars, a whole
    * job of pure scheduling latency on an already-checkpointed frame
    * (r16; guide §1.2 "don't compute things you throw away" applied to
    * convergence bookkeeping). Metrics are read back from the executed
    * plan's accumulators (`queryExecution.observedMetrics`), not a
    * listener, so the value is available synchronously after the eager
    * checkpoint action; if the runtime ever fails to surface them the
    * caller falls back to an explicit aggregate — never wrong, just the
    * old one-job-slower shape. */
  def stableObserved(df: DataFrame, metrics: Seq[Column])
      : (DataFrame, Option[Row]) = {
    val name = s"graft_obs_${obsId.incrementAndGet()}"
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val snapped = stable(observed)
    (snapped, observed.queryExecution.observedMetrics.get(name))
  }

  /** [[stableObserved]] specialised to the row count — the fixpoint
    * witness every iterative loop needs each round. */
  def stableCount(df: DataFrame): (DataFrame, Long) = {
    val (snapped, row) = stableObserved(df, Seq(count(lit(1)).as("n")))
    (snapped, row.map(_.getLong(0)).getOrElse(snapped.count()))
  }

  /** Run `body` with adaptive execution disabled, restoring the conf
    * after (exception-safe). For the DRIVER-LOOP trainers (IRLS,
    * k-means, BPE) whose per-iteration action is a bounded GLOBAL
    * aggregate over an already-checkpointed frame: such a plan ends in
    * a single-partition exchange at every scale, so AQE cannot improve
    * it — it only adds one replanning pass plus one extra stage-
    * materialization job of scheduling latency PER ITERATION (guide §5
    * driver overhead; measured ~0.1–0.2 s/action at sf0.1 across 9
    * actions of q143's trainer). Results are unchanged by
    * construction: the input partitioning, partial-aggregate
    * boundaries and combine order are identical with AQE on or off
    * for these shapes. NOT for data-scale plans — skew handling and
    * partition coalescing there are real. */
  def flatPlanned[T](s: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val k = "spark.sql.adaptive.enabled"
    val prev = s.conf.get(k)
    s.conf.set(k, "false")
    try body finally s.conf.set(k, prev)
  }

  /** `.stable()` postfix form, so call sites read like the
    * `.localCheckpoint()` they replace. */
  implicit class StableOps(private val df: DataFrame) extends AnyVal {
    def stable(): DataFrame = Mat.stable(df)
  }
}
