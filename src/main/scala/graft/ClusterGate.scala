package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}

/** Multi-JVM execution gate (VERDICT r10 task 1).
  *
  * Every run of this engine to date was single-JVM (`local[N]`), where
  * closures, broadcasts, typed `flatMapGroupsWithState` state machines
  * and the custom Catalyst expressions are shared BY REFERENCE between
  * "driver" and "executors" — serialization bugs are invisible. This
  * main re-runs a representative query subset under
  * `local-cluster[2,2,2048]` (Spark's standalone-in-miniature: master +
  * 2 workers in the driver JVM, each executor a SEPARATE spawned JVM),
  * which forces through the real boundaries:
  *
  *   - Java/Kryo closure serialization of every lambda and its capture
  *     (the typed groupByKey paths, the driver-side union-find collect);
  *   - broadcast-variable transport (the snowflake-dim multi-broadcast
  *     join q05, per-batch config broadcasts);
  *   - codegen + evaluation of the 7 custom Catalyst expressions on
  *     executors that loaded them from a classpath, not from the
  *     driver's heap (gram_hashes, vec_dot, winnow, edit-dist, exact
  *     distinct, top-k-by, tokenizer UDTF);
  *   - task-result serialization of every collected row;
  *   - localCheckpoint block storage on remote executors (the q110/q155
  *     bounded-frame materializations).
  *
  * Protocol: the subset runs TWICE in this JVM — once on `local[4]`
  * (same total cores / shuffle width as the cluster shape, so partition
  * layouts match), once on `local-cluster[2,2,2048]` — and each result
  * is fingerprinted (columns sorted by name, rows rendered and sorted,
  * MD5). The suite's decimal/integer aggregation discipline (NOTES:
  * results are partition-order-independent, which is what lets the
  * DuckDB gate hash-compare) makes the fingerprints comparable. A
  * mismatch or failure exits non-zero; the artifact (CLUSTERGATE.json)
  * carries per-query rows/hashes plus the executor JVM names
  * (pid@host, collected ON the executors) proving the run crossed real
  * process boundaries.
  *
  * Modes: `queries` (default) — the gate subset; `soak` — the
  * in-process streaming soak (Soak.runSoak: 6 concurrent checkpointed
  * queries, RocksDB state, restart, twin compare) under the cluster
  * master, i.e. state machines recovering on spawned-executor JVMs;
  * `all` — both; `chaos` — executor-LOSS behavior (SIGKILL real
  * executor JVMs mid-query): recompute-and-match for lineage-complete
  * queries, loud CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND for the
  * localCheckpoint path, and survive-and-match for the
  * reliable-checkpoint escape hatch (artifact: CHAOS.json).
  *
  * Requires SPARK_HOME (the spawned executor command is built from it)
  * and this package's compiled classes on a filesystem path (passed to
  * executors via spark.executor.extraClassPath — same machine, so a
  * local path is enough; a real cluster would ship a jar).
  */
object ClusterGate {

  /** ~30-query gate subset: every custom Catalyst expression, the
    * typed-state batch analogs, broadcast snowflake + salted joins, the
    * MinHash/CC dedup chain, one suffix query, both localCheckpoint
    * sites, ANN, multimodal, and the stream-era DWD queries. All from
    * the 355-exact set (deterministic under repartitioning by
    * construction — sketch/learner rows-only queries excluded). */
  val GateQueries: Seq[String] = Seq(
    "q01_pricing_summary",    // decimal agg baseline
    "q04_join_inner",         // shuffle join
    "q05_join_snowflake",     // 6-dim multi-BROADCAST join (J6)
    "q07_join_full_outer",    // full outer of aggregates (J10)
    "q10_distinct_counts",    // ExactDistinct typed Aggregator
    "q13_window_tumble_10s",  // tumbling window agg (A1/A3)
    "q14_daily_active_users", // daily-dedup UV (A5)
    "q16_dedup_keep_first",   // keep-first dedup (A7)
    "q17_dedup_keep_latest",  // keep-latest dedup (A8)
    "q18_returning_users",    // ≥8d returning (A6)
    "q19_sessionize_bounce",  // CEP bounce (§2.9)
    "q20_is_new_repair",      // is_new repair (P8)
    "q23_word_count",         // Tokenize UDTF (U1) — generator codegen
    "q29_minhash_signatures", // minhash sig gen
    "q30_minhash_lsh_buckets",// LSH banding
    "q31_ngram_jaccard",      // GramHashes custom expression
    "q33_cosine_topk",        // VecDot custom expression
    "q35_cosine_pairs",       // VecDot in a join
    "q39_ann_ivf",            // IVF ANN (k-means centroids collect)
    "q46_exact_distinct_agg", // ExactDistinct agg form
    "q47_salted_agg",         // skew salting
    "q55_topk_agg",           // TopKBy custom aggregate
    "q60_session_window",     // session windows
    "q65_fuzzy_name_match",   // EditDistBounded custom expression
    "q82_funnel_operator",    // CEP funnel
    "q83_dwd_cart_add",       // Maxwell envelope + delta (P2/P3)
    "q84_dwd_order_detail",   // 4-table join + lookup dims (J1/J3)
    "q94_binary_features",    // multimodal binary columns
    "q99_winnow_candidates",  // WinnowSketch custom expression
    "q109_scd2_asof",         // event-time as-of join
    "q110_minhash_dedup",     // full LSH→CC chain (driver union-find,
                              //   coalesced localCheckpoint)
    "q123_salted_join",       // salted join
    "q136_suffix_ranks",      // suffix-array family
    "q139_span_dedup_exact",  // span dedup over suffix runs
    "q146_bm25_topk",         // BM25 (eager localCheckpoint site)
    "q155_hybrid_rrf",        // RRF fusion (the r10 AQE-diamond fix)
    "q226_edit_dist_banded")  // banded edit distance at scale

  /** The 8 queries with no DuckDB oracle BY DESIGN (sketches whose
    * merge order is partition-dependent, learned models) — standing
    * NOTES/verdict adjudication since r6. They are excluded from the
    * fingerprint gate for the same reason they are rows-only in the
    * driver gate: their outputs are legitimately partition-order-
    * DEPENDENT, so a cross-master hash compare would be meaningless. */
  val RowsOnlyByDesign: Set[String] = Set(
    "q121_approx_distinct", "q122_approx_quantiles", "q124_heavy_hitters",
    "q130_grouped_heavy_hitters", "q132_cooccur_heavy_hitters",
    "q138_bpe_encode", "q143_quality_classifier", "q144_curated_learned")

  /** `wide` mode (VERDICT r11 task 2): EVERY exact-gate query crosses
    * the JVM boundary, not a 37-query sample — the whole driver-gate
    * denominator minus the 8 rows-only-by-design rows. Self-maintaining:
    * new queries join the wide gate automatically. */
  def wideGateQueries: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(RowsOnlyByDesign)

  /** SPARK_GRAFT_PROFILE=production layers the 100 TB conf block over
    * BOTH passes (4096 shuffle partitions + AQE coalesce/skew +
    * RocksDB), composing the partition-count-invariance axis with the
    * JVM-boundary axis in one run. Both passes get identical confs, so
    * the fingerprint compare stays valid. */
  private val prodProfile =
    sys.env.get("SPARK_GRAFT_PROFILE").contains("production")

  /** Executors are sized to the PROFILE: the first production-profile
    * run at 2048 MB workers / 1536m executors lost BOTH executors to
    * OOM (exit 52) inside q110's 4096-wide label-propagation shuffles,
    * and the localCheckpoint blocks died with them —
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, unrecoverable because a local
    * checkpoint truncates lineage. Two standing lessons recorded in
    * PLANS §round-11: production shuffle widths require
    * production-sized executors, and localCheckpoint trades
    * fault-tolerance for speed (an executor loss fails the JOB — on a
    * real cluster use reliable checkpoints where executor churn is
    * expected, or accept the re-run). */
  val ClusterMaster: String =
    if (prodProfile) "local-cluster[2,2,4096]" else "local-cluster[2,2,2048]"
  private val ExecutorMem = if (prodProfile) "3584m" else "1536m"

  private def buildSession(master: String): SparkSession = {
    val b0 = GraftSession.harness(master, "8").appName(s"graft-clustergate-$master")
    // production last, so its 4096 shuffle width overrides the 8
    val b = if (prodProfile) GraftSession.withProductionConfs(b0) else b0
    val withCluster = if (master.startsWith("local-cluster")) {
      // the spawned executor JVMs know nothing of sbt's classpath:
      // hand them this package's compiled classes explicitly (same
      // machine → a directory path works; a real cluster ships a jar)
      // toURI, not getPath: getPath is URL-encoded (spaces → %20),
      // which would break extraClassPath on such paths (ADVICE r11)
      val classes = Paths.get(getClass.getProtectionDomain.getCodeSource
        .getLocation.toURI).toString
      b.config("spark.executor.extraClassPath", classes)
        .config("spark.executor.memory", ExecutorMem)
    } else b
    val spark = withCluster.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Deterministic result fingerprint: columns sorted by name, every
    * row rendered to a canonical string, rows sorted, MD5 over the
    * sorted sequence. Mirrors the driver's DuckDB compare discipline
    * (sort columns, hash values) — valid for the exact-set queries,
    * whose outputs are partition-order-independent by construction. */
  private[graft] def fingerprint(df: DataFrame): (Long, String) = {
    // ADVICE r11: string VALUES must not be able to alias a render
    // boundary — a string containing the field sep (0x01), ',' (the
    // seq/map/struct sep), a bracket, '=' or NUL (the null marker)
    // would otherwise let two genuinely different results render
    // identically. Escape every structural character (and backslash
    // itself) to \uXXXX, so raw separators can only ever come from
    // the renderer.
    def esc(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case c if c < ' ' || ",[]{}()=".contains(c) => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def render(v: Any): String = v match {
      case s: String           => esc(s)
      case null                => "\u0000"
      case b: Array[Byte]      => java.util.Base64.getEncoder.encodeToString(b)
      case s: Seq[_]           => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }
          .sorted.mkString("{", ",", "}")
      case r: org.apache.spark.sql.Row =>
        (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
      case other => other.toString
    }
    val cols = df.columns.sorted
    val rows = df.select(cols.map(col): _*).collect()
    val lines = rows.map { r =>
      (0 until r.length).map(i => render(r.get(i))).mkString("\u0001")
    }.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    // newline terminator per row so sorted lines can't alias across a
    // row boundary (("ab","c") vs ("a","bc") as consecutive rows)
    lines.foreach { l =>
      md.update(l.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** pid@host of every JVM that ran a task — the multi-process proof.
    * On local[4] this is one name (the driver's); on local-cluster it
    * must contain ≥2 names, none equal to the driver's. */
  private def executorJvms(spark: SparkSession): Seq[String] = {
    val n = spark.sparkContext.defaultParallelism * 4
    spark.sparkContext.parallelize(1 to n, n).map { _ =>
      java.lang.management.ManagementFactory.getRuntimeMXBean.getName
    }.distinct().collect().toSeq.sorted
  }

  // ───────────────────────── chaos mode ─────────────────────────
  // VERDICT r11 task 1: execute executor-loss recovery instead of
  // documenting it. Three behaviors, each against a real spawned
  // executor JVM killed with SIGKILL (the pids are the ones the
  // executors themselves reported):
  //
  //  (a) RECOVERY — queries with NO truncated lineage (q04/q84/q23):
  //      one executor is killed mid-collect (triggered by the Nth
  //      task-start of the final job). Spark must recompute the lost
  //      tasks/shuffle output on the survivor + the respawned executor
  //      and the result must fingerprint-match an undisturbed local[4]
  //      run. Loud recovery, zero divergence.
  //  (b) LOUD FAILURE — a localCheckpoint query (q146): the bounded
  //      frame is materialized EAGERLY at construction (executor
  //      storage), then BOTH executors are killed before consumption.
  //      localCheckpoint truncates lineage, so the job must FAIL with
  //      CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — never silently recompute
  //      wrong, never hang. This is the r11 production-gate failure
  //      reproduced deliberately.
  //  (c) ESCAPE HATCH — same kill, spark.graft.reliableCheckpoint=true
  //      (Mat.stable → reliable checkpoint() into a checkpoint dir):
  //      q110/q146/q155 must SURVIVE the loss of every executor that
  //      materialized them and still match the local[4] reference.

  /** Queries whose final collect has no truncated lineage anywhere on
    * its path — eligible for the recompute-and-match recovery test. */
  val RecoveryQueries: Seq[String] =
    Seq("q04_join_inner", "q84_dwd_order_detail", "q23_word_count",
      "q55_topk_agg",           // custom TypedImperativeAggregate buffers
      "q13_window_tumble_10s")  // window aggregation
  /** The Mat.stable (bounded-frame) queries for (b)/(c). */
  val CheckpointQueries: Seq[String] =
    Seq("q110_minhash_dedup", "q146_bm25_topk", "q155_hybrid_rrf")
  private val KillOnTaskN = 2

  private def pidOf(name: String): String = name.takeWhile(_ != '@')

  private def sigkill(name: String): Boolean =
    pidOf(name).forall(_.isDigit) && pidOf(name).nonEmpty &&
      Runtime.getRuntime.exec(Array("kill", "-9", pidOf(name))).waitFor() == 0

  private def alive(name: String): Boolean =
    Runtime.getRuntime.exec(Array("kill", "-0", pidOf(name))).waitFor() == 0

  /** Current live executor JVM names, excluding the driver; polls until
    * at least `want` are up (respawn after a kill takes a moment). */
  private def liveExecutors(spark: SparkSession, want: Int): Seq[String] = {
    val driver = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getName
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    var names = Seq.empty[String]
    while (names.size < want && System.nanoTime() < deadline) {
      names = executorJvms(spark).filterNot(_ == driver)
      if (names.size < want) Thread.sleep(1000)
    }
    require(names.size >= want,
      s"only ${names.size} executors came up (wanted $want)")
    names
  }

  /** Fingerprint `df`, killing executor `victim` when the Nth task of
    * the collect starts. Returns (result, executorRemovedSeen). */
  private def fingerprintKillingOne(spark: SparkSession, df: DataFrame,
      victim: String): (Either[String, (Long, String)], Boolean) = {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val removed = new java.util.concurrent.atomic.AtomicInteger(0)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killedAt = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskStart(
          t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        if (started.incrementAndGet() == KillOnTaskN &&
            fired.compareAndSet(false, true))
          new Thread(() => {
            sigkill(victim)
            killedAt.set(System.nanoTime())
            System.err.println(s"[chaos] SIGKILLed $victim mid-collect")
          }).start()
      override def onExecutorRemoved(
          e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit =
        removed.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val r = try Right(fingerprint(df)) catch { case e: Throwable =>
      Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
    }
    val endedAt = System.nanoTime()
    // the removal event is async: give the master a moment to report it —
    // but only if the kill actually fired; a collect with fewer than
    // KillOnTaskN tasks would otherwise burn the full deadline waiting
    // for an event that can never come (ADVICE r12)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (fired.get() && removed.get() == 0 && System.nanoTime() < deadline)
      Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)
    // the loss only counts if the SIGKILL completed BEFORE the collect
    // returned — otherwise the query ran undisturbed and a match would
    // be a silent false PASS of the recovery claim (code-review r12)
    val midQuery = killedAt.get() < endedAt
    if (fired.get() && !midQuery)
      System.err.println(s"[chaos] kill landed AFTER the collect — " +
        "recovery not exercised, leg fails")
    (r, fired.get() && midQuery && !alive(victim) && removed.get() > 0)
  }

  /** SIGKILL every live executor and wait until the processes are gone —
    * total executor turnover, the r11 production-gate failure shape. */
  private def killAllExecutors(spark: SparkSession): Seq[String] = {
    val victims = liveExecutors(spark, 2)
    victims.foreach(sigkill)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (victims.exists(alive) && System.nanoTime() < deadline)
      Thread.sleep(200)
    require(!victims.exists(alive), s"executors survived SIGKILL: $victims")
    victims
  }

  private def runChaos(sfDir: String, out: StringBuilder): Int = {
    var exitCode = 0
    val all = RecoveryQueries ++ CheckpointQueries
    // undisturbed reference fingerprints
    val ref = runPass("local[4]", all, sfDir).results
      .map { case (k, (r, _)) => k -> r }

    // (a) + (b): default materialization (localCheckpoint)
    val sparkA = buildSession(ClusterMaster)
    val recoveryJson = new scala.collection.mutable.ArrayBuffer[String]
    var loudJson = ""
    try {
      RecoveryQueries.foreach { name =>
        val victim = liveExecutors(sparkA, 2).head
        val df = SparkEntry.queries(name)(sparkA, sfDir)
        val t0 = System.nanoTime()
        val (got, lossSeen) = fingerprintKillingOne(sparkA, df, victim)
        val ok = lossSeen && (((got, ref(name))) match {
          case (Right(a), Right(b)) => a == b
          case _ => false
        })
        if (!ok) exitCode = 1
        System.err.println(f"[chaos] recovery $name " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s ok=$ok " +
          s"loss_seen=$lossSeen " +
          got.fold("ERROR " + _, { case (n, h) => s"rows=$n $h" }))
        recoveryJson += s"""${jstr(name)}:{"killed":${jstr(victim)},""" +
          s""""executor_loss_seen":$lossSeen,""" +
          got.fold(m => s""""error":${jstr(m)},""",
            { case (n, _) => s""""rows":$n,""" }) +
          s""""match":$ok}"""
      }

      // (b) loud failure: materialize q146's bounded frame, kill every
      // executor holding its blocks, consume → must fail mentioning the
      // checkpoint block, not hang or silently succeed
      val df146 = SparkEntry.queries("q146_bm25_topk")(sparkA, sfDir)
      val killedB = killAllExecutors(sparkA)
      // bounded: the pinned behavior is "fails loudly, never hangs" — if
      // that regressed into a hang, an unguarded collect would hang the
      // GATE itself instead of failing the leg (ADVICE r12)
      val loudTask = java.util.concurrent.Executors.newSingleThreadExecutor()
      val loud = try {
        val fut = loudTask.submit(
          new java.util.concurrent.Callable[Option[String]] {
            def call(): Option[String] =
              try { fingerprint(df146); None } catch {
                case e: Throwable =>
                  Some(Option(e.getMessage).getOrElse(e.getClass.getName))
              }
          })
        try fut.get(180, java.util.concurrent.TimeUnit.SECONDS)
        catch { case _: java.util.concurrent.TimeoutException =>
          fut.cancel(true)
          // cancel(true) only interrupts the wrapper thread — a hung
          // Spark collect keeps its job running, and the finally's
          // sparkA.stop() can then block on the zombie job, hanging the
          // gate AFTER the leg failure is recorded (ADVICE r13). Kill
          // the jobs themselves before proceeding.
          try sparkA.sparkContext.cancelAllJobs()
          catch { case _: Throwable => () }
          Some("GATE_TIMEOUT: consume-after-total-loss hung >180s " +
            "(the 'never hangs' pin regressed)")
        }
      } finally loudTask.shutdownNow()
      val failedLoudly = loud.isDefined
      val mentionsCheckpoint = loud.exists(m =>
        m.toUpperCase.contains("CHECKPOINT"))
      if (!failedLoudly || !mentionsCheckpoint) exitCode = 1
      System.err.println(s"[chaos] loud-failure q146: failed=$failedLoudly " +
        s"checkpoint_error=$mentionsCheckpoint " +
        loud.map(_.take(160)).getOrElse("(query unexpectedly succeeded)"))
      loudJson = s"""{"query":"q146_bm25_topk",""" +
        s""""killed":[${killedB.map(jstr).mkString(",")}],""" +
        s""""failed_loudly":$failedLoudly,""" +
        s""""checkpoint_error":$mentionsCheckpoint,""" +
        s""""error":${jstr(loud.map(_.take(300)).getOrElse(""))}}"""
    } finally {
      sparkA.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    // (c) escape hatch: reliable checkpoints survive total turnover
    val sparkB = buildSession(ClusterMaster)
    val escapeJson = new scala.collection.mutable.ArrayBuffer[String]
    val ckptDir = Files.createTempDirectory("graft_chaos_ckpt").toString
    try {
      sparkB.conf.set(graft.queries.Mat.ConfKey, "true")
      sparkB.sparkContext.setCheckpointDir(ckptDir)
      CheckpointQueries.foreach { name =>
        liveExecutors(sparkB, 2)
        val t0 = System.nanoTime()
        val r = try {
          val df = SparkEntry.queries(name)(sparkB, sfDir) // eager ckpt
          val killed = killAllExecutors(sparkB)
          (Right(fingerprint(df)): Either[String, (Long, String)], killed)
        } catch { case e: Throwable =>
          (Left(Option(e.getMessage).getOrElse(e.getClass.getName)
            .take(300)): Either[String, (Long, String)], Seq.empty[String])
        }
        val (got, killed) = r
        val ok = killed.nonEmpty && (((got, ref(name))) match {
          case (Right(a), Right(b)) => a == b
          case _ => false
        })
        if (!ok) exitCode = 1
        System.err.println(f"[chaos] escape-hatch $name " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s ok=$ok " +
          got.fold("ERROR " + _, { case (n, h) => s"rows=$n $h" }))
        escapeJson += s"""${jstr(name)}:{""" +
          s""""killed":[${killed.map(jstr).mkString(",")}],""" +
          got.fold(m => s""""error":${jstr(m)},""",
            { case (n, _) => s""""rows":$n,""" }) +
          s""""match":$ok}"""
      }
    } finally {
      sparkB.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    // (d) STREAMING: executor loss mid-stream. The full soak protocol
    // (6 concurrent checkpointed queries, hard restart, config change)
    // runs under the cluster master, and one executor is SIGKILLed
    // between phase-2 micro-batches — with day-2 windows, stream-stream
    // join state and EarlyFire timers open. The RocksDB state stores
    // that lived on the dead executor must reload from checkpoint +
    // changelog on the survivor/respawn, and every sink must STILL
    // equal its batch twin. This is the executor-churn case a real
    // cluster hits weekly; the soak's own kill (Runtime.halt) only
    // covered whole-driver death.
    val sparkC = buildSession(ClusterMaster)
    if (prodProfile) sparkC.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SOAK_PARTITIONS", "128"))
    var streamJson = ""
    try {
      val root = Files.createTempDirectory("graft_chaos_soak").toString
      var killedS = Seq.empty[String]
      // an exception from the soak (or the kill hook) must still record
      // a FAILED leg in the artifact, not skip the write (ADVICE r12)
      try {
        val report = graft.apps.Soak.runSoak(sparkC, root, () => {
          val v = liveExecutors(sparkC, 2).head
          sigkill(v)
          killedS = Seq(v)
          System.err.println(s"[chaos] SIGKILLed $v mid-stream " +
            "(phase 2, open windows + join state + timers)")
        })
        val ok = report.mismatches.isEmpty && killedS.nonEmpty &&
          report.layers.forall(_._2 > 0)
        if (!ok) exitCode = 1
        System.err.println(s"[chaos] streaming: ok=$ok layers=" +
          report.layers.map { case (k, v) => s"$k=$v" }.mkString(","))
        streamJson = s"""{"killed":[${killedS.map(jstr).mkString(",")}],""" +
          s""""layers":{${report.layers.map { case (k, v) =>
            s"${jstr(k)}:$v" }.mkString(",")}},""" +
          s""""mismatches":[${report.mismatches.map(jstr).mkString(",")}],""" +
          s""""throughput":[${report.phases.map(_.json).mkString(",")}],""" +
          s""""ok":$ok}"""
      } catch { case e: Throwable =>
        exitCode = 1
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        System.err.println(s"[chaos] streaming: EXCEPTION $msg")
        streamJson = s"""{"killed":[${killedS.map(jstr).mkString(",")}],""" +
          s""""error":${jstr(msg)},"ok":false}"""
      }
    } finally {
      sparkC.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    out ++= s""""chaos":{"master":${jstr(ClusterMaster)},""" +
      s""""profile":"${if (prodProfile) "production" else "default"}",""" +
      s""""recovery":{${recoveryJson.mkString(",")}},""" +
      s""""loud_failure":$loudJson,""" +
      s""""escape_hatch":{"checkpoint_dir":${jstr(ckptDir)},""" +
      s"${escapeJson.mkString(",")}}," +
      s""""streaming":$streamJson}"""
    exitCode
  }

  private def jstr(s: String): String = graft.Json.str(s)

  case class PassResult(jvms: Seq[String],
      results: Map[String, (Either[String, (Long, String)], Double)])

  private def runPass(master: String, names: Seq[String], sfDir: String)
      : PassResult = {
    val spark = buildSession(master)
    try {
      val jvms = executorJvms(spark)
      System.err.println(s"[clustergate] $master task JVMs: " +
        jvms.mkString(", "))
      val results = names.map { name =>
        val t0 = System.nanoTime()
        val r = try Right(fingerprint(SparkEntry.queries(name)(spark, sfDir)))
        catch { case e: Throwable =>
          System.err.println(s"[clustergate] $master $name FAILED: " +
            e.getMessage)
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[clustergate] $master $name $sec%.1f s " +
          r.fold(m => s"ERROR $m", { case (n, h) => s"rows=$n $h" }))
        name -> (r, sec)
      }.toMap
      PassResult(jvms, results)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("queries")
    // ADVICE r11: an unrecognized mode must fail loudly, not write a
    // malformed success artifact having tested nothing
    require(Set("queries", "soak", "all", "wide", "chaos")(mode),
      s"unknown mode: $mode (expected queries|soak|all|wide|chaos)")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    require(sys.env.contains("SPARK_HOME"),
      "SPARK_HOME must be set: local-cluster builds the executor launch " +
        "command from it (e.g. SPARK_HOME=/opt/spark)")
    val unknown = GateQueries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown gate queries: $unknown")
    val staleRowsOnly = RowsOnlyByDesign.filterNot(SparkEntry.queries.contains)
    require(staleRowsOnly.isEmpty, s"stale rows-only names: $staleRowsOnly")

    var exitCode = 0
    val out = new StringBuilder

    if (mode == "queries" || mode == "all" || mode == "wide") {
      val gateSet = if (mode == "wide") wideGateQueries else GateQueries
      val ref = runPass("local[4]", gateSet, sfDir)
      val clu = runPass(ClusterMaster, gateSet, sfDir)
      val multiJvm = clu.jvms.size >= 2
      if (!multiJvm) exitCode = 2
      val perQuery = gateSet.map { name =>
        val sec = graft.Json.num(clu.results(name)._2, 2)
        (ref.results(name)._1, clu.results(name)._1) match {
          case (Right((nr, hr)), Right((nc, hc))) =>
            val ok = nr == nc && hr == hc
            if (!ok) exitCode = 1
            s"""${jstr(name)}:{"rows":$nc,"match":$ok,"sec":$sec}"""
          case (r, c) =>
            exitCode = 1
            val msg = Seq(r.left.toOption.map("local: " + _),
              c.left.toOption.map("cluster: " + _)).flatten.mkString("; ")
            s"""${jstr(name)}:{"error":${jstr(msg)},"sec":$sec}"""
        }
      }
      val matched = gateSet.count { n =>
        (ref.results(n)._1, clu.results(n)._1) match {
          case (Right(a), Right(b)) => a == b
          case _ => false
        }
      }
      out ++= s""""gate":{"master":${jstr(ClusterMaster)},""" +
        s""""profile":"${if (prodProfile) "production" else "default"}",""" +
        s""""mode":${jstr(mode)},""" +
        s""""n":${gateSet.size},"matched":$matched,""" +
        s""""multi_jvm":$multiJvm,""" +
        s""""driver_jvm":${jstr(java.lang.management.ManagementFactory
          .getRuntimeMXBean.getName)},""" +
        s""""executor_jvms":[${clu.jvms.map(jstr).mkString(",")}],""" +
        s""""queries":{${perQuery.mkString(",")}}}"""
      System.err.println(
        s"[clustergate] gate: $matched/${gateSet.size} matched, " +
          s"multi_jvm=$multiJvm")
    }

    if (mode == "chaos") {
      val chaosUnknown = (RecoveryQueries ++ CheckpointQueries)
        .filterNot(SparkEntry.queries.contains)
      require(chaosUnknown.isEmpty, s"unknown chaos queries: $chaosUnknown")
      val code = runChaos(sfDir, out)
      if (code != 0) exitCode = code
    }

    if (mode == "soak" || mode == "all") {
      if (out.nonEmpty) out ++= ","
      val spark = buildSession(ClusterMaster)
      // under the production profile, cap the STREAMING state width the
      // way the production soak does (soak.sh precedent): 4096-wide
      // state = ~17 stores/partition = ~70k RocksDB instances, which
      // OOMs small JVMs by structure; shuffle.partitions is a session
      // conf, so the runtime override applies to the streaming queries
      if (prodProfile) spark.conf.set("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SOAK_PARTITIONS", "128"))
      try {
        val jvms = executorJvms(spark)
        val root = Files.createTempDirectory("graft_clustergate_soak")
          .toString
        val report = graft.apps.Soak.runSoak(spark, root)
        val ok = report.mismatches.isEmpty &&
          report.layers.forall(_._2 > 0) && jvms.size >= 2
        if (!ok) exitCode = 1
        out ++= s""""soak":{"master":${jstr(ClusterMaster)},""" +
          s""""profile":"${if (prodProfile) "production" else "default"}",""" +
          s""""multi_jvm":${jvms.size >= 2},""" +
          s""""executor_jvms":[${jvms.map(jstr).mkString(",")}],""" +
          s""""layers":{${report.layers.map { case (k, v) =>
            s"${jstr(k)}:$v" }.mkString(",")}},""" +
          s""""mismatches":[${report.mismatches.map(jstr).mkString(",")}],""" +
          s""""throughput":[${report.phases.map(_.json).mkString(",")}],""" +
          s""""ok":$ok}"""
        System.err.println(s"[clustergate] soak: ok=$ok layers=" +
          report.layers.map { case (k, v) => s"$k=$v" }.mkString(","))
      } finally {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

    val line = s"""{${out.toString},"exit":$exitCode}"""
    println(line)
    val defaultOut = mode match {
      case "chaos" => "CHAOS.json"
      case "wide"  => "CLUSTERGATE_wide.json"
      case _       => "CLUSTERGATE.json"
    }
    try Files.writeString(Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_CLUSTERGATE_OUT", defaultOut)),
      line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[clustergate] artifact write failed: ${e.getMessage}")
    }
    if (exitCode != 0) sys.exit(exitCode)
  }
}
