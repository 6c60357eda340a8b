package graft.queries

import graft.queries.Mat.StableOps

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-analytics and sketch-evaluation operators:
  *
  *  - q185: top user event paths — the Sankey/journey query (ordered
  *    first-5 event types per user, counted).
  *  - q186/q187: Count-Min sketch (Cormode & Muthukrishnan 2005) cells
  *    and estimate-vs-exact readout. CMS is a LINEAR sketch — cells are
  *    plain sums, so unlike HLL (q121) / GK (q122) / Misra–Gries
  *    (q124) the whole summary is merge-order-independent and
  *    hash-matches a DuckDB oracle exactly. The sketch is expressed as
  *    a plain groupBy: the partial HashAggregate buffers ARE the
  *    fixed-size mergeable summary (≤ depth·width groups per map
  *    task), so composing built-ins — preference (a) — already gives
  *    the wire shape a custom aggregate would.
  *  - q188: deterministic A/B assignment + conversion lift + the χ²
  *    independence statistic as exact fixed-point arithmetic.
  *  - q189: join-cardinality prediction from per-key histograms; the
  *    oracle COUNTs the real join, so the hash match is the estimator
  *    identity |A ⋈ B| = Σ_k a(k)·b(k) — the number a planner wants
  *    without paying for the join.
  *  - q190: Simpson concentration per source over the token
  *    distribution — the collision-probability diversity statistic
  *    (exact rational; Shannon entropy needs log, this does not).
  *  - q193: blocked sorted-neighborhood dedup — the classic ER
  *    blocking scheme the repo was missing next to length bands
  *    (q65), LSH (q30), and prefix filtering (q182).
  *  - q194: last-touch revenue attribution over per-user event
  *    streams.
  *
  * Ref: the reference's per-page visitor paths (DwsTrafficPageViewWindow
  * java:40-70) motivate q185; its ClickHouse-side ratio endpoints
  * (PublisherController trade stats) motivate the q188 readout shape.
  *
  * Scale (100 TB):
  *  - q185 shuffles once on user_id; the window and the per-user
  *    groupBy share that partitioning (one Exchange in the plan), and
  *    the path table the second aggregate sees is ≤ |event_types|⁵.
  *  - q186 ships ≤ 4·256 cells per map task (map-side combine over a
  *    1024-key space); the corpus-scale token stream is 8-byte hashes
  *    from `gram_hashes`, never strings.
  *  - q188/q189/q190 aggregate to one row / ≤16 buckets / ≤|sources|
  *    rows before anything shuffles; χ² products are DECIMAL(38,0) —
  *    exact up to ~10³⁸, i.e. counts to ~10⁹ per cell; past that,
  *    compute on per-arm ppm rates (documented, the q134 rule).
  */
object AnalyticsOps {

  // ---- q185 top event paths ------------------------------------------

  private val PathLen = 5

  /** q185: the 20 most common first-[[PathLen]] event-type journeys.
    * Deterministic: per-user order is (ts, event_id) — event_id is
    * unique — and the top-20 ties break on the path string. */
  def eventPaths(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") <= PathLen)
      .groupBy(col("user_id"))
      // array_sort on (rn, event_type) structs orders by rn first —
      // a deterministic collect_list without a second window pass.
      .agg(expr("array_join(transform(array_sort(" +
        "collect_list(struct(rn, event_type))), x -> x.event_type), '>')")
        .as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(20)
  }

  // ---- q186/q187 Count-Min sketch ------------------------------------

  /** Per-row (a, b) salts. Row hash r of item hash h is
    * `((h mod 2³¹)·a_r + b_r) mod (2³¹−1) mod width` — the affine image
    * of ONE shared item hash under per-row multipliers (fine here,
    * unlike HRW q163: each row is its own table, there is no cross-row
    * argmax to degenerate). (2³¹−1)·1103515245 < 2⁶² keeps every
    * intermediate in checked BIGINT range in both engines. */
  private val Salts = Seq(
    (1103515245L, 12345L), (1299709L, 54321L),
    (7368787L, 99991L), (104729L, 7919L))
  private val Width = 256

  private def cellSql(h: String, a: Long, b: Long): String =
    s"(($h % 2147483648) * $a + $b) % 2147483647 % $Width"

  /** The depth-4 × width-256 cell table over the corpus token stream
    * (items = `gram_hashes(text, 1)` unigram hashes). */
  private def cells(s: SparkSession, d: String): DataFrame = {
    val arr = Salts.map { case (a, b) => cellSql("h", a, b) }
      .mkString("array(", ", ", ")")
    Tables.documents(s, d)
      .select(explode(expr("gram_hashes(text, 1)")).as("h"))
      .select(posexplode(expr(arr)).as(Seq("r", "c")))
      .groupBy(col("r").cast("long").as("r"), col("c"))
      .agg(count(lit(1)).as("n_items"))
  }

  /** q186: the sketch itself as data — ≤1024 (row, cell, count) rows. */
  def cmsCells(s: SparkSession, d: String): DataFrame =
    cells(s, d)

  /** q187: CMS point estimates for the 10 most frequent words next to
    * their exact counts. est = min over rows of the word's cell — never
    * below exact (one-sided error, pinned in AnalyticsOpsSpec). */
  def cmsEstimate(s: SparkSession, d: String): DataFrame = {
    val arr = Salts.map { case (a, b) => cellSql("h", a, b) }
      .mkString("array(", ", ", ")")
    val top = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("word"))
      .limit(10)
      .withColumn("h", expr("element_at(gram_hashes(word, 1), 1)"))
      .select(col("word"), col("exact_n"),
        posexplode(expr(arr)).as(Seq("r", "c")))
      .select(col("word"), col("exact_n"),
        col("r").cast("long").as("r"), col("c"))
    top.join(broadcast(cells(s, d)), Seq("r", "c"))
      .groupBy(col("word"), col("exact_n"))
      .agg(min(col("n_items")).as("cms_est"))
  }

  // ---- q188 A/B test -------------------------------------------------

  /** q188: deterministic 50/50 split by user hash (the q49/q163 device
    * with the same overflow-safe pre-reduction), conversion = any
    * high-value purchase (> 90 — a plain `purchase` is near-universal,
    * which would zero the χ² marginal), and the 2×2 χ² statistic
    * N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) carried exactly: it is RATIONAL,
    * so milli-units of it are one DECIMAL(38,0) product chain and one
    * integer division — no transcendental, no float. Degenerate
    * marginals (a column or row of the table empty) define χ² = 0. */
  def abTest(s: SparkSession, d: String): DataFrame = {
    val arm =
      expr("((user_id % 2147483647) * 1103515245 + 12345) % 2147483647 % 2")
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 90,
        1L).otherwise(0L)).as("conv"))
      .select(arm.as("arm"), col("conv"))
      .agg(
        sum(when(col("arm") === 0 && col("conv") === 1, 1L).otherwise(0L))
          .as("conv_a"),
        sum(when(col("arm") === 0 && col("conv") === 0, 1L).otherwise(0L))
          .as("miss_a"),
        sum(when(col("arm") === 1 && col("conv") === 1, 1L).otherwise(0L))
          .as("conv_b"),
        sum(when(col("arm") === 1 && col("conv") === 0, 1L).otherwise(0L))
          .as("miss_b"))
      .selectExpr(
        "conv_a + miss_a AS users_a",
        "conv_b + miss_b AS users_b",
        "conv_a", "conv_b",
        "conv_a * 1000000 div (conv_a + miss_a) AS conv_a_ppm",
        "conv_b * 1000000 div (conv_b + miss_b) AS conv_b_ppm",
        "conv_a * 1000000 div (conv_a + miss_a) - " +
          "conv_b * 1000000 div (conv_b + miss_b) AS lift_ppm",
        // χ² in milli-units; every product inside DECIMAL(38,0).
        "CASE WHEN conv_a + conv_b = 0 OR miss_a + miss_b = 0 THEN 0 ELSE " +
          "CAST(1000 * CAST(conv_a + miss_a + conv_b + miss_b AS DECIMAL(38,0)) * " +
          "(CAST(conv_a AS DECIMAL(38,0)) * miss_b - CAST(conv_b AS DECIMAL(38,0)) * miss_a) * " +
          "(CAST(conv_a AS DECIMAL(38,0)) * miss_b - CAST(conv_b AS DECIMAL(38,0)) * miss_a) div " +
          "(CAST(conv_a + miss_a AS DECIMAL(38,0)) * (conv_b + miss_b) * " +
          "(conv_a + conv_b) * (miss_a + miss_b)) AS BIGINT) END AS chi2_milli")
  }

  // ---- q189 join-size audit ------------------------------------------

  /** q189: predicted customer⋈orders output size per key bucket from
    * the two per-key COUNT histograms — the join itself never runs on
    * this side; the oracle runs it and counts. At 100 TB the histograms
    * are |keys| rows vs the join's |output| rows — this is the number
    * AQE's join-strategy pick wants, computed at histogram cost. */
  def joinSizeAudit(s: SparkSession, d: String): DataFrame = {
    val oh = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_o"))
    val ch = Tables.customer(s, d)
      .groupBy(col("c_custkey").as("k")).agg(count(lit(1)).as("n_c"))
    oh.join(ch, Seq("k"))
      .groupBy((col("k") % 16).as("bucket"))
      .agg(sum(col("n_o") * col("n_c")).as("join_rows"))
  }

  // ---- q190 Simpson diversity ----------------------------------------

  /** q190: per-source Simpson concentration Σnᵢ(nᵢ−1)/(N(N−1)) over
    * token (hash) frequencies — the exact probability two random tokens
    * from the source are the same word. Pair sums in DECIMAL(38,0):
    * exact for any nᵢ ≤ 10¹⁹. */
  def simpsonDiversity(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("source"), explode(expr("gram_hashes(text, 1)")).as("h"))
      .groupBy(col("source"), col("h")).agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("distinct_words"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * (n - 1)")).as("coll"))
      .selectExpr("source", "n_tokens", "distinct_words",
        "CAST(coll * 1000000 div " +
          "(CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1)) AS BIGINT)" +
          " AS simpson_ppm")
  }

  // ---- q193 sorted-neighborhood dedup --------------------------------

  /** q193: blocked sorted-neighborhood entity resolution (Hernández &
    * Stolfo 1995) over customer names — the THIRD blocking scheme next
    * to q65's length bands and the LSH family: sort within a block key
    * (name prefix), compare each record to its w=2 successors, verify
    * with exact edit distance ≤ 2. Windows partition by block — no
    * global sort; at 100 TB the block key is what bounds both the sort
    * and the candidate count (≤ w·n pairs total). */
  def snmDedup(s: SparkSession, d: String): DataFrame = {
    val byBlock = Window.partitionBy(col("blk"))
      .orderBy(col("c_name"), col("c_custkey"))
    val ranked = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"),
        substring(col("c_name"), 1, 12).as("blk"))
    val pairs = Seq(1, 2).map { o =>
      ranked
        .withColumn("name_b", lead(col("c_name"), o).over(byBlock))
        .withColumn("key_b", lead(col("c_custkey"), o).over(byBlock))
        .filter(col("name_b").isNotNull)
    }.reduce(_ unionAll _)
    pairs
      .withColumn("dist", levenshtein(col("c_name"), col("name_b")))
      .filter(col("dist") <= 2)
      .select(col("c_custkey").as("key_a"), col("key_b"),
        col("c_name").as("name_a"), col("name_b"),
        col("dist").cast("long").as("dist"))
  }

  // ---- q194 last-touch attribution -----------------------------------

  /** q194: last-touch revenue attribution — each purchase's value is
    * credited to the user's most recent PRECEDING non-purchase event
    * type (`none` when the purchase opens the stream). The carry is a
    * per-user running `last(..., ignoreNulls)` window — per-user state
    * only, the scale-safe window class; revenue sums are exact decimal
    * (the Num.dsum rule). */
  def attribution(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(byUser))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("none")).as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        graft.Num.dsum(col("value")).as("revenue"))
  }

  /** q223: LINEAR multi-touch attribution — each purchase's cents split
    * EQUALLY (in exact integer cents) across every preceding same-user
    * touch within 7 days: share = cents div n, and the `cents mod n`
    * remainder goes +1 to the EARLIEST touches (deterministic by
    * (ts, event_id)) — so credited cents sum to the purchase exactly,
    * the q210/q215 conservation theorem in attribution form.
    * Touchless purchases credit a 'direct' bucket whole. The
    * multi-touch sibling of q194's last-touch.
    *
    * Scale: the purchase×touch pair join is per-user bounded by the
    * 7-day window; both windows partition by purchase (per-purchase
    * state only). */
  def linearAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"),
      col("event_id"), col("event_type"),
      expr("unix_micros(ts)").as("tsu"),
      expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .as("cents"))
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        col("tsu").as("ptsu"), col("cents"))
    val tch = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("tid"),
        col("tsu").as("ttsu"), col("event_type").as("touch_type"))
    val pairs = pur.join(tch, Seq("user_id"))
      .filter(col("ttsu") < col("ptsu") &&
        col("ttsu") >= col("ptsu") - lit(7L * 86400000000L))
    val byP = Window.partitionBy(col("pid"))
    val credited = pairs
      .withColumn("n", count(lit(1)).over(byP))
      .withColumn("rk", row_number().over(
        byP.orderBy(col("ttsu"), col("tid"))))
      .withColumn("credit", expr("cents div n") +
        when(col("rk") <= expr("cents % n"), 1L).otherwise(0L))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_credits"),
        sum(col("credit")).as("credited_cents"))
    val direct = pur.join(
        pairs.select(col("pid")).distinct(), Seq("pid"), "left_anti")
      .agg(count(lit(1)).as("n_credits"),
        coalesce(sum(col("cents")), lit(0L)).as("credited_cents"))
      .select(lit("direct").as("touch_type"), col("n_credits"),
        col("credited_cents"))
    credited.unionByName(direct).orderBy(col("touch_type"))
  }

  /** q229: funnel-window parameter sweep — first-click → purchase
    * conversion evaluated at 1 min / 10 min / 1 h limits in ONE scan:
    * the per-user conversion delta is computed once, then exploded
    * against the limit list (3 rows per converting user) — the
    * parameter sweep costs one extra projection, not three scans.
    * Per-user reduction is two conditional MINs (map-side). */
  def funnelSweep(s: SparkSession, d: String): DataFrame = {
    val limits = Seq(60L, 600L, 3600L)
    val ev = Tables.events(s, d).select(col("user_id"),
      col("event_type"), expr("unix_micros(ts)").as("tsu"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min(col("tsu")).as("c_tsu"))
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu").as("p_tsu"))
    val perUser = clicks
      .join(pur, Seq("user_id"), "left")
      .groupBy(col("user_id"), col("c_tsu"))
      .agg(min(when(col("p_tsu") >= col("c_tsu"),
        expr("(p_tsu - c_tsu) div 1000000"))).as("delta_s"))
    perUser
      .select(col("delta_s"),
        explode(lit(limits.toArray)).as("limit_s"))
      .groupBy(col("limit_s"))
      .agg(count(lit(1)).as("clickers"),
        sum(when(col("delta_s").isNotNull &&
          col("delta_s") <= col("limit_s"), 1L).otherwise(0L))
          .as("converted"))
      .orderBy(col("limit_s"))
  }

  /** q364: CUPED variance-reduced A/B readout (Deng et al., WSDM'13)
    * over q188's deterministic LCG arms — per arm, the raw and the
    * covariate-adjusted post-period activity mean, where the
    * covariate X is each user's PRE-period event count (first 15
    * days) and Y the post-period count. θ = Cov(X,Y)/Var(X) is
    * pooled; everything is carried as the n-scaled integer moments
    * cov_xn = n·Σxy − Σx·Σy and var_xn = n·Σxx − (Σx)² (the q288
    * no-root rule), and the adjusted mean
    * ȳ_a − θ·(x̄_a − x̄) is emitted in exact milli via ONE common
    * denominator n_a·var_xn·n — a DECIMAL(38,0) product chain and
    * one integral division (the q188 χ² device; DuckDB side in
    * HUGEINT, whose `//` truncates toward zero like Spark's div —
    * re-pinned this round on negatives). var_xn = 0 (constant
    * covariate) guards to NULL.
    *
    * Scale: one scan → per-user aggregate (shuffles once on
    * user_id); the global-moments frame is 1 row, broadcast into the
    * 2-row per-arm readout. */
  def cupedAb(s: SparkSession, d: String): DataFrame = {
    val arm =
      expr("((user_id % 2147483647) * 1103515245 + 12345) % 2147483647 % 2")
    val ev = Tables.events(s, d).select(col("user_id"),
      to_date(date_trunc("DAY", col("ts"))).as("day"))
    val mid = ev.agg(min(col("day")).as("d0"))
      .select(expr("date_add(d0, 15)").as("mid"))
    val per = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(sum(when(col("day") < col("mid"), 1L).otherwise(0L)).as("x"),
        sum(when(col("day") >= col("mid"), 1L).otherwise(0L)).as("y"))
      .select(arm.as("arm"), col("x"), col("y"))
    cupedOf(per)
  }

  /** q364 core over any (arm, x, y) per-user frame. */
  private[queries] def cupedOf(perIn: DataFrame): DataFrame = {
    val per = perIn.stable() // global moments + per-arm pass
    val g = per.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n"), col("sx"),
        expr("n * sxy - sx * sy").as("cov_xn"),
        expr("n * sxx - sx * sx").as("var_xn"))
    per.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_a"), sum(col("x")).as("sx_a"),
        sum(col("y")).as("sy_a"))
      .crossJoin(broadcast(g))
      .select(col("arm"), col("n_a"), col("sx_a"), col("sy_a"),
        col("n"), col("cov_xn"), col("var_xn"),
        expr("sy_a * 1000 div n_a").as("raw_mean_milli"),
        expr("CASE WHEN var_xn > 0 THEN CAST(" +
          "(1000 * (CAST(sy_a AS DECIMAL(38,0)) * var_xn * n" +
          " - CAST(cov_xn AS DECIMAL(38,0)) * (sx_a * n - sx * n_a)))" +
          " div (CAST(n_a AS DECIMAL(38,0)) * var_xn * n) AS BIGINT)" +
          " END").as("adj_mean_milli"))
      .orderBy(col("arm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q364_cuped_ab" -> cupedAb,
    "q229_funnel_sweep" -> funnelSweep,
    "q185_event_paths" -> eventPaths,
    "q193_snm_dedup" -> snmDedup,
    "q194_attribution" -> attribution,
    "q223_linear_attribution" -> linearAttribution,
    "q186_cms_cells" -> cmsCells,
    "q187_cms_estimate" -> cmsEstimate,
    "q188_ab_test" -> abTest,
    "q189_join_size_audit" -> joinSizeAudit,
    "q190_simpson_diversity" -> simpsonDiversity)

  // ---- oracles -------------------------------------------------------

  private val hsCte =
    s"""WITH w AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |vh AS MATERIALIZED (
       |  SELECT word, ${OracleHash.polySql("word")} AS h
       |  FROM (SELECT DISTINCT word FROM w)),
       |hs AS (SELECT source, h FROM w JOIN vh USING (word))""".stripMargin

  private val cellsSql: String = {
    val per = Salts.zipWithIndex.map { case ((a, b), r) =>
      s"SELECT CAST($r AS BIGINT) AS r, ${cellSql("h", a, b)} AS c FROM hs"
    }.mkString("\n  UNION ALL ")
    s"""cl AS (
       |  SELECT r, c, COUNT(*) AS n_items FROM (
       |  $per) GROUP BY r, c)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q185_event_paths" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY date_trunc('microseconds', ts), event_id) AS rn
         |  FROM events),
         |p AS (
         |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
         |  FROM e WHERE rn <= $PathLen GROUP BY user_id)
         |SELECT path, COUNT(*) AS n_users
         |FROM p GROUP BY path
         |ORDER BY n_users DESC, path LIMIT 20""".stripMargin,
    "q186_cms_cells" -> s"""$hsCte,
       |$cellsSql
       |SELECT r, c, n_items FROM cl""".stripMargin,
    "q187_cms_estimate" -> s"""$hsCte,
       |$cellsSql,
       |top AS (
       |  SELECT word, COUNT(*) AS exact_n FROM w
       |  GROUP BY word ORDER BY exact_n DESC, word LIMIT 10),
       |probes AS (
       |  ${Salts.zipWithIndex.map { case ((a, b), r) =>
              s"SELECT word, exact_n, CAST($r AS BIGINT) AS r, " +
                s"${cellSql("h", a, b)} AS c FROM top JOIN vh USING (word)"
            }.mkString("\n  UNION ALL ")})
       |SELECT word, exact_n, MIN(n_items) AS cms_est
       |FROM probes JOIN cl USING (r, c)
       |GROUP BY word, exact_n""".stripMargin,
    "q364_cuped_ab" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |mid AS (SELECT MIN(day) + 15 AS mid FROM ev),
        |per0 AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN day < mid THEN 1 ELSE 0 END) AS BIGINT)
        |      AS x,
        |    CAST(SUM(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS BIGINT)
        |      AS y
        |  FROM ev CROSS JOIN mid GROUP BY user_id),
        |per AS (
        |  SELECT ((user_id % 2147483647) * 1103515245 + 12345)
        |    % 2147483647 % 2 AS arm, x, y FROM per0),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT)
        |      AS cov_xn,
        |    CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT)
        |      AS var_xn
        |  FROM per),
        |a AS (
        |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_a,
        |    CAST(SUM(x) AS BIGINT) AS sx_a,
        |    CAST(SUM(y) AS BIGINT) AS sy_a
        |  FROM per GROUP BY arm)
        |SELECT arm, n_a, sx_a, sy_a, n, cov_xn, var_xn,
        |  sy_a * 1000 // n_a AS raw_mean_milli,
        |  CASE WHEN var_xn > 0 THEN CAST(
        |    (1000 * (CAST(sy_a AS HUGEINT) * var_xn * n
        |      - CAST(cov_xn AS HUGEINT) * (sx_a * n - sx * n_a)))
        |    // (CAST(n_a AS HUGEINT) * var_xn * n) AS BIGINT)
        |  END AS adj_mean_milli
        |FROM a CROSS JOIN g ORDER BY arm""".stripMargin,
    "q188_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' AND value > 90
        |      THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |t AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
        |    CAST(SUM(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS miss_a,
        |    CAST(SUM(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conv_b,
        |    CAST(SUM(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS miss_b
        |  FROM (SELECT ((user_id % 2147483647) * 1103515245 + 12345)
        |          % 2147483647 % 2 AS arm, conv FROM u))
        |SELECT conv_a + miss_a AS users_a, conv_b + miss_b AS users_b,
        |  conv_a, conv_b,
        |  conv_a * 1000000 // (conv_a + miss_a) AS conv_a_ppm,
        |  conv_b * 1000000 // (conv_b + miss_b) AS conv_b_ppm,
        |  conv_a * 1000000 // (conv_a + miss_a)
        |    - conv_b * 1000000 // (conv_b + miss_b) AS lift_ppm,
        |  CASE WHEN conv_a + conv_b = 0 OR miss_a + miss_b = 0 THEN 0 ELSE
        |  CAST(1000 * CAST(conv_a + miss_a + conv_b + miss_b AS HUGEINT)
        |    * (CAST(conv_a AS HUGEINT) * miss_b - CAST(conv_b AS HUGEINT) * miss_a)
        |    * (CAST(conv_a AS HUGEINT) * miss_b - CAST(conv_b AS HUGEINT) * miss_a)
        |    // (CAST(conv_a + miss_a AS HUGEINT) * (conv_b + miss_b)
        |       * (conv_a + conv_b) * (miss_a + miss_b)) AS BIGINT) END
        |    AS chi2_milli
        |FROM t""".stripMargin,
    "q189_join_size_audit" ->
      """SELECT o_custkey % 16 AS bucket, COUNT(*) AS join_rows
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "q193_snm_dedup" ->
      """WITH ranked AS (
        |  SELECT c_custkey, c_name, substr(c_name, 1, 12) AS blk
        |  FROM customer),
        |pairs AS (
        |  SELECT c_custkey AS key_a, c_name AS name_a,
        |    lead(c_name, 1) OVER w AS name_b,
        |    lead(c_custkey, 1) OVER w AS key_b
        |  FROM ranked
        |  WINDOW w AS (PARTITION BY blk ORDER BY c_name, c_custkey)
        |  UNION ALL
        |  SELECT c_custkey, c_name,
        |    lead(c_name, 2) OVER w2, lead(c_custkey, 2) OVER w2
        |  FROM ranked
        |  WINDOW w2 AS (PARTITION BY blk ORDER BY c_name, c_custkey))
        |SELECT key_a, key_b, name_a, name_b,
        |  CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
        |FROM pairs
        |WHERE name_b IS NOT NULL AND levenshtein(name_a, name_b) <= 2"""
        .stripMargin,
    "q229_funnel_sweep" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    epoch_us(date_trunc('microseconds', ts)) AS tsu
        |  FROM events),
        |clicks AS (
        |  SELECT user_id, MIN(tsu) AS c_tsu
        |  FROM ev WHERE event_type = 'click' GROUP BY user_id),
        |pur AS (
        |  SELECT user_id, tsu AS p_tsu FROM ev
        |  WHERE event_type = 'purchase'),
        |pu AS (
        |  SELECT clicks.user_id,
        |    MIN(CASE WHEN p_tsu >= c_tsu
        |      THEN (p_tsu - c_tsu) // 1000000 END) AS delta_s
        |  FROM clicks LEFT JOIN pur ON clicks.user_id = pur.user_id
        |  GROUP BY clicks.user_id, c_tsu),
        |lims AS (SELECT unnest([60, 600, 3600]) AS limit_s)
        |SELECT CAST(limit_s AS BIGINT) AS limit_s,
        |  COUNT(*) AS clickers,
        |  CAST(SUM(CASE WHEN delta_s IS NOT NULL
        |    AND delta_s <= limit_s THEN 1 ELSE 0 END) AS BIGINT)
        |    AS converted
        |FROM pu CROSS JOIN lims
        |GROUP BY limit_s ORDER BY limit_s""".stripMargin,
    "q223_linear_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(date_trunc('microseconds', ts)) AS tsu,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |pur AS (
        |  SELECT user_id, event_id AS pid, tsu AS ptsu, cents
        |  FROM ev WHERE event_type = 'purchase'),
        |tch AS (
        |  SELECT user_id, event_id AS tid, tsu AS ttsu,
        |    event_type AS touch_type
        |  FROM ev WHERE event_type <> 'purchase'),
        |pairs AS (
        |  SELECT pid, cents, tid, ttsu, touch_type
        |  FROM pur JOIN tch USING (user_id)
        |  WHERE ttsu < ptsu AND ttsu >= ptsu - 7 * 86400000000),
        |ranked AS (
        |  SELECT touch_type, cents,
        |    COUNT(*) OVER (PARTITION BY pid) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY pid ORDER BY ttsu, tid)
        |      AS rk
        |  FROM pairs),
        |credited AS (
        |  SELECT touch_type, COUNT(*) AS n_credits,
        |    CAST(SUM(cents // n
        |      + CASE WHEN rk <= cents % n THEN 1 ELSE 0 END)
        |      AS BIGINT) AS credited_cents
        |  FROM ranked GROUP BY touch_type),
        |direct AS (
        |  SELECT 'direct' AS touch_type, COUNT(*) AS n_credits,
        |    CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS credited_cents
        |  FROM pur WHERE pid NOT IN (SELECT DISTINCT pid FROM pairs))
        |SELECT * FROM credited UNION ALL SELECT * FROM direct
        |ORDER BY touch_type""".stripMargin,
    "q194_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, value,
        |    date_trunc('microseconds', ts) AS ts
        |  FROM events),
        |touched AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM ev)
        |SELECT COALESCE(touch, 'none') AS touch_type,
        |  COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM touched WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,
    "q190_simpson_diversity" -> s"""$hsCte,
       |per AS (
       |  SELECT source, h, COUNT(*) AS n FROM hs GROUP BY source, h)
       |SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
       |  COUNT(*) AS distinct_words,
       |  CAST(SUM(CAST(n AS HUGEINT) * (n - 1)) * 1000000
       |    // (CAST(SUM(n) AS HUGEINT) * (SUM(n) - 1)) AS BIGINT)
       |    AS simpson_ppm
       |FROM per GROUP BY source""".stripMargin)
}
