package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical monitoring operators, all in exact integer arithmetic so
  * both engines agree bit-for-bit:
  *
  *  - q203: CUSUM changepoint detection over the daily revenue series —
  *    cumulative sums of mean-deviations located at their maximum
  *    absolute excursion (Page 1954). Deviations are kept integral by
  *    scaling with the day count (dev_d = s_d·D − T) instead of
  *    subtracting a fractional mean.
  *  - q204: day-of-week seasonality indices — per-dow mean daily revenue
  *    vs the overall mean, as the cross-multiplied integer ratio
  *    sum_dow·D_total·10⁶ div (days_dow·T_total). The weekday is derived
  *    from the epoch day ((days+4) mod 7, 0=Sunday; 1970-01-01 was a
  *    Thursday) — pure integer arithmetic, immune to the engines'
  *    different dayofweek() origins.
  *  - q209: robust outlier census per market segment — exact lower
  *    median and MAD (median absolute deviation) from per-segment
  *    value-frequency frames, then |x−med| > 3·MAD flags. The classic
  *    Hampel identifier, stated without any floating quantile.
  *
  * Ref: the reference's trade-stats dashboards chart daily GMV
  * (`PublisherController` date-series endpoints); these add the
  * monitoring math a pipeline runs on those series.
  *
  * Scale (100 TB): every query reduces the fact scan to one map-side-
  * combinable aggregate (per day / per (segment, value)); all windows
  * that follow run on the bounded reduced frame (days, dow, or the
  * per-segment value domain — customer-dim-scale at worst, the q199
  * precedent), never on the fact table.
  */
object StatsOps {

  private def dailyCents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("s"))

  /** q203: one row — the CUSUM changepoint of the daily value series. */
  def cusumChangepoint(s: SparkSession, d: String): DataFrame = {
    val daily = dailyCents(s, d)
    val tot = daily.agg(count(lit(1)).as("dcnt"), sum(col("s")).as("t"))
    val cum = daily.crossJoin(broadcast(tot))
      .withColumn("dev", expr("s * dcnt - t"))
      .withColumn("cum", sum(col("dev")).over(
        Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val mx = cum.agg(max(abs(col("cum"))).as("mxabs"))
    cum.crossJoin(broadcast(mx))
      .filter(abs(col("cum")) === col("mxabs"))
      .agg(max(col("dcnt")).as("n_days"),
        max(col("t")).as("total_cents"),
        min(col("day")).as("cp_day"),
        max(expr("mxabs * 1000000 div (dcnt * abs(t))")).as("cusum_ppm"))
  }

  /** q204: per-dow seasonality index in ppm of the overall daily mean. */
  def dowSeasonality(s: SparkSession, d: String): DataFrame = {
    val daily = dailyCents(s, d)
      .withColumn("dow", expr("(day + 4) % 7"))
    val tot = daily.agg(count(lit(1)).as("d_total"), sum(col("s")).as("t"))
    daily.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("s")).as("dow_cents"))
      .crossJoin(broadcast(tot))
      .select(col("dow"), col("n_days"), col("dow_cents"),
        expr("dow_cents * d_total * 1000000 div (n_days * t)")
          .as("index_ppm"))
      .orderBy(col("dow"))
  }

  /** q209: per-segment exact median / MAD / Hampel outlier census over
    * customer balances in cents. */
  def madOutliers(s: SparkSession, d: String): DataFrame = {
    val cts = Tables.customer(s, d)
      .select(col("c_mktsegment").as("seg"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("x"))
    val n = cts.groupBy(col("seg")).agg(count(lit(1)).as("n"))
    def lowerMedian(values: DataFrame, vcol: String): DataFrame =
      values.groupBy(col("seg"), col(vcol)).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("seg")).orderBy(col(vcol))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(n), "seg")
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .groupBy(col("seg")).agg(min(col(vcol)).as(s"med_$vcol"))
    val med = lowerMedian(cts, "x")
    val dev = cts.join(broadcast(med), "seg")
      .withColumn("adev", abs(col("x") - col("med_x")))
    val mad = lowerMedian(dev, "adev")
    dev.join(broadcast(mad), "seg")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_customers"),
        max(col("med_x")).as("median_cents"),
        max(col("med_adev")).as("mad_cents"),
        sum(when(col("adev") > lit(3) * col("med_adev"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy(col("seg"))
  }

  /** q213: traffic burstiness per event type — the squared coefficient
    * of variation of per-user inter-arrival times, as the exact
    * rational CV² = (n·Σg² − (Σg)²)/(Σg)² in ppm (CV² ≈ 1 ⇒ Poisson
    * arrivals; ≫ 1 ⇒ bursty/bot traffic). Gaps are truncated to whole
    * seconds so every power stays far inside DECIMAL(38)/HUGEINT.
    *
    * Scale: the lag window partitions by (user, type) — per-user state
    * only, never a global ordering; everything after is one map-side
    * aggregate per type. */
  def burstiness(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("tsu"))
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("tsu"), col("event_id"))
    val gaps = ev.withColumn("prev", lag(col("tsu"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), expr("(tsu - prev) div 1000000").as("g"))
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g")).as("sum_s"),
        sum(expr("CAST(g AS DECIMAL(38,0)) * g")).as("sum_s2"))
      .select(col("event_type"), col("n_gaps"),
        expr("sum_s div n_gaps").as("mean_gap_s"),
        expr("CAST((n_gaps * sum_s2 - CAST(sum_s AS DECIMAL(38,0))" +
          " * sum_s) * 1000000 div (CAST(sum_s AS DECIMAL(38,0))" +
          " * sum_s) AS BIGINT)").as("cv2_ppm"))
      .orderBy("event_type")
  }

  // ---- q230 Poisson bootstrap -----------------------------------------

  private val BootB = 32
  private val BootH = 2147483647L
  // Poisson(1) inverse-CDF thresholds scaled by H: P(X≤0)=e⁻¹,
  // P(X≤1)=2e⁻¹, P(X≤2)=2.5e⁻¹ (weights capped at 3). Computed ONCE
  // here and interpolated into BOTH the Spark expression and the
  // DuckDB oracle as the same literal — the transcendental never
  // evaluates inside either engine.
  private val BootT0 = (BootH * math.exp(-1.0)).toLong
  private val BootT1 = (BootH * 2.0 * math.exp(-1.0)).toLong
  private val BootT2 = (BootH * 2.5 * math.exp(-1.0)).toLong

  /** q230: Poisson bootstrap (Chamandy et al. 2012) of the mean
    * per-customer revenue — THE distributed bootstrap: instead of
    * resampling n items with replacement (which needs global
    * coordination), each replicate gives every item an independent
    * Poisson(1) weight derived here from the salted customer hash, so
    * the whole B=32-replicate ensemble is one scan + one aggregate.
    * Replicate means are exact integer ratios; the p5/p95 band comes
    * from ordering the 32-row replicate frame. */
  def poissonBootstrap(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100" +
        " AS BIGINT)")).as("cents"))
    val reps = rev.select(col("o_custkey"), col("cents"),
        explode(expr(s"sequence(0, ${BootB - 1})")).as("b"))
      .withColumn("h",
        expr("element_at(gram_hashes(concat(CAST(o_custkey AS STRING)," +
          s" ':', CAST(b AS STRING), ':boot'), 1), 1) % $BootH"))
      .withColumn("w",
        when(col("h") < BootT0, 0L).when(col("h") < BootT1, 1L)
          .when(col("h") < BootT2, 2L).otherwise(3L))
      .groupBy(col("b"))
      .agg(sum(col("w") * col("cents")).as("wc"), sum(col("w")).as("ws"))
      .select(expr("wc div ws").as("rep_mean"))
    val ranked = reps.withColumn("rk", row_number().over(
      Window.orderBy(col("rep_mean"))))
    val tru = rev.agg(
      expr("sum(cents) div count(1)").as("true_mean_cents"))
    ranked.crossJoin(broadcast(tru))
      .agg(count(lit(1)).as("n_replicates"),
        max(col("true_mean_cents")).as("true_mean_cents"),
        min(when(col("rk") === math.max(1, BootB / 20),
          col("rep_mean"))).as("p5_mean_cents"),
        min(when(col("rk") === BootB - BootB / 20,
          col("rep_mean"))).as("p95_mean_cents"))
  }

  /** q232: Theil–Sen robust trend slope — the lower median of all
    * pairwise daily-revenue slopes (in ppm-cents/day, truncated
    * integer division so both engines quantize identically), next to
    * q180's least-squares slope for contrast: one influential day
    * shifts LS but not the pairwise median. The pair frame is
    * days²/2 — BOUNDED (the fact scan reduces to the daily frame
    * first), so the rank window is fine at any corpus size. */
  def theilSen(s: SparkSession, d: String): DataFrame = {
    val daily = dailyCents(s, d)
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.day") < col("b.day"))
      .select(expr("(b.s - a.s) * 1000000 div (b.day - a.day)")
        .as("slope_ppm"))
    val ranked = pairs.withColumn("rk", row_number().over(
      Window.orderBy(col("slope_ppm"))))
    val n = pairs.agg(count(lit(1)).as("n_pairs"))
    val ls = daily.agg(count(lit(1)).as("n_days"),
      sum(col("day")).as("sx"), sum(col("s")).as("sy"),
      sum(expr("day * s")).as("sxy"),
      sum(expr("day * day")).as("sxx"))
      .select(col("n_days"),
        expr("(n_days * sxy - sx * sy) * 1000000" +
          " div (n_days * sxx - sx * sx)").as("ls_slope_ppm"))
    ranked.crossJoin(broadcast(n)).crossJoin(broadcast(ls))
      .agg(max(col("n_days")).as("n_days"),
        max(col("n_pairs")).as("n_pairs"),
        min(when(col("rk") === expr("(n_pairs + 1) div 2"),
          col("slope_ppm"))).as("ts_slope_ppm"),
        max(col("ls_slope_ppm")).as("ls_slope_ppm"))
  }

  /** q233: split-free conformal interval per market segment — predict
    * each customer's balance by their segment mean, take the exact p90
    * of |residual| quantized to whole dollars (the quantization is
    * what keeps the counts-of-counts frame bounded at corpus scale),
    * and report the radius + its realized coverage ppm (≥ 90% by
    * construction of the discrete quantile). */
  def conformal(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_mktsegment").as("seg"),
      expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .as("x"))
    val m = c.groupBy(col("seg"))
      .agg(expr("sum(x) div count(1)").as("mu"), count(lit(1)).as("n"))
    val resid = c.join(broadcast(m), "seg")
      .withColumn("r", expr("abs(x - mu) div 100"))
    val vc = resid.groupBy(col("seg"), col("r"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("seg")).orderBy(col("r"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val radius = vc.join(broadcast(m.select(col("seg"), col("n"))), "seg")
      .filter(col("cum") * 10 >= col("n") * 9)
      .groupBy(col("seg")).agg(min(col("r")).as("r90_dollars"))
    resid.join(broadcast(radius), "seg")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_customers"),
        max(col("mu")).as("seg_mean_cents"),
        max(col("r90_dollars")).as("r90_dollars"),
        expr("sum(CASE WHEN r <= r90_dollars THEN 1 ELSE 0 END)" +
          " * 1000000 div count(1)").as("coverage_ppm"))
      .orderBy(col("seg"))
  }

  /** q264: Mann–Whitney U between ASIA and EUROPE order totals — the
    * rank-sum test in DOUBLED integer units (2U absorbs the ½-per-tie
    * term, so ties never produce fractions): for each distinct value,
    * 2U_A += f_A·(2·#{B below} + #{B tied}), computed join-free on the
    * cumulative windows of the value-frequency frame (the q206/q248
    * counts-of-counts device — the window sorts the price DOMAIN, not
    * the orders). The identity 2U_A + 2U_B = 2·n_A·n_B is asserted in
    * the spec (and is a consequence, not an input). */
  def mannWhitney(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name").isin("ASIA", "EUROPE"))
      .select(col("r_name"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
    val freq = o.groupBy(col("cents"))
      .agg(sum(when(col("r_name") === "ASIA", 1L).otherwise(0L)).as("fa"),
        sum(when(col("r_name") === "EUROPE", 1L).otherwise(0L)).as("fb"))
    val w = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = freq
      .withColumn("below_a", coalesce(sum(col("fa")).over(w), lit(0L)))
      .withColumn("below_b", coalesce(sum(col("fb")).over(w), lit(0L)))
    cum.agg(sum(col("fa")).as("n_a"), sum(col("fb")).as("n_b"),
        sum(col("fa") * (lit(2L) * col("below_b") + col("fb")))
          .as("u2_a"),
        sum(col("fb") * (lit(2L) * col("below_a") + col("fa")))
          .as("u2_b"))
      .select(col("n_a"), col("n_b"), col("u2_a"), col("u2_b"))
  }

  /** q265: Kendall correlation (τ-a numerator census) between daily
    * event count and daily value total — concordant / discordant /
    * tie pair counts from the bounded day×day pair frame (days, not
    * events — the q232 Theil–Sen trade), τ-a in exact milli units.
    * Sign tests only, no transcendentals. */
  def kendallTau(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("x"), sum(col("cents")).as("y"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.day") < col("b.day"))
      .select((col("a.x") - col("b.x")).as("dx"),
        (col("a.y") - col("b.y")).as("dy"))
    pairs.agg(count(lit(1)).as("n_pairs"),
        sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L))
          .as("concordant"),
        sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L))
          .as("discordant"),
        sum(when(col("dx") === 0 && col("dy") =!= 0, 1L).otherwise(0L))
          .as("ties_x"),
        sum(when(col("dy") === 0 && col("dx") =!= 0, 1L).otherwise(0L))
          .as("ties_y"),
        sum(when(col("dx") === 0 && col("dy") === 0, 1L).otherwise(0L))
          .as("ties_both"))
      .withColumn("tau_a_milli",
        expr("((concordant - discordant) * 1000) div n_pairs"))
  }

  /** q275: 2-D histogram (heat map census) — joint distribution of
    * unit-price band ($100) × integer quantity over lineitem, with
    * row/column ppm shares. One map-side-combinable aggregate; the
    * output frame is price-bands × 50 quantities (bounded). */
  def histogram2d(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(
      expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100" +
        " AS BIGINT) div 1000000").as("price_band"),
      expr("CAST(l_quantity AS BIGINT)").as("qty"))
    val grid = li.groupBy(col("price_band"), col("qty"))
      .agg(count(lit(1)).as("n"))
    val tot = grid.agg(sum(col("n")).as("total"))
    grid.crossJoin(broadcast(tot))
      .select(col("price_band"), col("qty"), col("n"),
        expr("(n * 1000000) div total").as("ppm"))
      .orderBy(col("price_band"), col("qty"))
  }

  /** q276: Wald–Wolfowitz runs census over the daily revenue series —
    * up/down signs of day-over-day deltas, number of sign runs (zero
    * deltas dropped; none occur on this data, asserted in the spec).
    * Integer counts only; the z-statistic needs a sqrt, so the test
    * DECISION stays with the consumer — the engine's job is the exact
    * sufficient statistics (the q121/q122 sketch philosophy). */
  def runsTest(s: SparkSession, d: String): DataFrame = {
    val daily = dailyCents(s, d)
    val w = Window.orderBy(col("day"))
    val signs = daily
      .withColumn("prev", lag(col("s"), 1).over(w))
      .filter(col("prev").isNotNull && col("s") =!= col("prev"))
      .withColumn("up", when(col("s") > col("prev"), 1L).otherwise(0L))
    val runs = signs
      .withColumn("prev_up", lag(col("up"), 1).over(Window.orderBy(col("day"))))
      .withColumn("new_run",
        when(col("prev_up").isNull || col("up") =!= col("prev_up"), 1L)
          .otherwise(0L))
    runs.agg(count(lit(1)).as("n_deltas"),
      sum(col("up")).as("n_up"),
      (count(lit(1)) - sum(col("up"))).as("n_down"),
      sum(col("new_run")).as("n_runs"))
  }

  /** q277: additive seasonal decomposition (STL-lite, all integer) —
    * trend = centered 7-day moving average (only where the full ±3
    * window exists), seasonal = per-weekday mean of the detrended
    * series, residual = s − trend − seasonal. Exact by truncating
    * division in both engines; the decomposition identity
    * s = trend + seasonal + residual holds by construction on every
    * emitted day. Windows run on the bounded daily frame. */
  def seasonalDecompose(s: SparkSession, d: String): DataFrame = {
    val daily = dailyCents(s, d)
    val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val tr = daily
      .withColumn("win_n", count(lit(1)).over(w))
      .withColumn("trend", expr("sum(s) OVER (ORDER BY day" +
        " ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) div 7"))
      .filter(col("win_n") === 7)
      .withColumn("dow", expr("(day + 4) % 7"))
      .withColumn("detr", col("s") - col("trend"))
    val seas = tr.groupBy(col("dow"))
      .agg(expr("sum(detr) div count(1)").as("seasonal"))
    tr.join(broadcast(seas), "dow")
      .select(col("day"), col("s"), col("trend"), col("seasonal"),
        (col("s") - col("trend") - col("seasonal")).as("residual"))
      .orderBy(col("day"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q277_seasonal_decompose" -> seasonalDecompose,
    "q275_histogram2d" -> histogram2d,
    "q276_runs_test" -> runsTest,
    "q264_mann_whitney" -> mannWhitney,
    "q265_kendall_tau" -> kendallTau,
    "q232_theil_sen" -> theilSen,
    "q233_conformal" -> conformal,
    "q230_poisson_bootstrap" -> poissonBootstrap,
    "q203_cusum_changepoint" -> cusumChangepoint,
    "q204_dow_seasonality" -> dowSeasonality,
    "q209_mad_outliers" -> madOutliers,
    "q213_burstiness" -> burstiness)

  private val dailyCte =
    """daily AS (
      |  SELECT epoch_us(date_trunc('microseconds', ts)) // 86400000000
      |      AS day,
      |    SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS s
      |  FROM events GROUP BY 1)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q277_seasonal_decompose" ->
      s"""WITH $dailyCte,
         |tr AS (
         |  SELECT day, CAST(s AS BIGINT) AS s,
         |    COUNT(*) OVER (ORDER BY day
         |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win_n,
         |    CAST(SUM(s) OVER (ORDER BY day
         |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
         |      // 7 AS trend
         |  FROM daily),
         |tr2 AS (
         |  SELECT day, s, trend, (day + 4) % 7 AS dow,
         |    s - trend AS detr
         |  FROM tr WHERE win_n = 7),
         |seas AS (
         |  SELECT dow,
         |    CAST(CAST(SUM(detr) AS BIGINT) // COUNT(*) AS BIGINT)
         |      AS seasonal
         |  FROM tr2 GROUP BY dow)
         |SELECT day, s, CAST(trend AS BIGINT) AS trend, seasonal,
         |  s - trend - seasonal AS residual
         |FROM tr2 JOIN seas USING (dow)
         |ORDER BY day""".stripMargin,
    "q275_histogram2d" ->
      """WITH li AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |      AS BIGINT) // 1000000 AS price_band,
        |    CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem),
        |grid AS (
        |  SELECT price_band, qty, COUNT(*) AS n
        |  FROM li GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM grid)
        |SELECT price_band, qty, n,
        |  CAST((n * 1000000) // total AS BIGINT) AS ppm
        |FROM grid CROSS JOIN tot
        |ORDER BY price_band, qty""".stripMargin,
    "q276_runs_test" ->
      s"""WITH $dailyCte,
         |signs AS (
         |  SELECT day, s,
         |    LAG(s) OVER (ORDER BY day) AS prev
         |  FROM daily),
         |ud AS (
         |  SELECT day,
         |    CASE WHEN s > prev THEN 1 ELSE 0 END AS up
         |  FROM signs WHERE prev IS NOT NULL AND s <> prev),
         |runs AS (
         |  SELECT up,
         |    LAG(up) OVER (ORDER BY day) AS prev_up
         |  FROM ud)
         |SELECT COUNT(*) AS n_deltas,
         |  CAST(SUM(up) AS BIGINT) AS n_up,
         |  CAST(COUNT(*) - SUM(up) AS BIGINT) AS n_down,
         |  CAST(SUM(CASE WHEN prev_up IS NULL OR up <> prev_up
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
         |FROM runs""".stripMargin,
    "q264_mann_whitney" ->
      """WITH o AS (
        |  SELECT r_name,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name IN ('ASIA', 'EUROPE')),
        |freq AS (
        |  SELECT cents,
        |    CAST(SUM(CASE WHEN r_name = 'ASIA' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fa,
        |    CAST(SUM(CASE WHEN r_name = 'EUROPE' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fb
        |  FROM o GROUP BY cents),
        |cum AS (
        |  SELECT fa, fb,
        |    CAST(COALESCE(SUM(fa) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS below_a,
        |    CAST(COALESCE(SUM(fb) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS below_b
        |  FROM freq)
        |SELECT CAST(SUM(fa) AS BIGINT) AS n_a,
        |  CAST(SUM(fb) AS BIGINT) AS n_b,
        |  CAST(SUM(fa * (2 * below_b + fb)) AS BIGINT) AS u2_a,
        |  CAST(SUM(fb * (2 * below_a + fa)) AS BIGINT) AS u2_b
        |FROM cum""".stripMargin,
    "q265_kendall_tau" ->
      s"""WITH dd AS (
         |  SELECT epoch_us(date_trunc('microseconds', ts))
         |      // 86400000000 AS day,
         |    COUNT(*) AS x,
         |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100
         |      AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |pairs AS (
         |  SELECT a.x - b.x AS dx, a.y - b.y AS dy
         |  FROM dd a JOIN dd b ON a.day < b.day),
         |agg AS (
         |  SELECT COUNT(*) AS n_pairs,
         |    CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS concordant,
         |    CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS discordant,
         |    CAST(SUM(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS ties_x,
         |    CAST(SUM(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS ties_y,
         |    CAST(SUM(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS ties_both
         |  FROM pairs)
         |SELECT n_pairs, concordant, discordant, ties_x, ties_y,
         |  ties_both,
         |  CAST(((concordant - discordant) * 1000) // n_pairs AS BIGINT)
         |    AS tau_a_milli
         |FROM agg""".stripMargin,
    "q232_theil_sen" ->
      s"""WITH $dailyCte,
         |pairs AS (
         |  SELECT (b.s - a.s) * 1000000 // (b.day - a.day) AS slope_ppm
         |  FROM daily a JOIN daily b ON a.day < b.day),
         |rk AS (
         |  SELECT slope_ppm,
         |    row_number() OVER (ORDER BY slope_ppm) AS rk
         |  FROM pairs),
         |n AS (SELECT COUNT(*) AS n_pairs FROM pairs),
         |ls AS (
         |  SELECT COUNT(*) AS n_days,
         |    CAST((COUNT(*) * SUM(day * s) - SUM(day) * SUM(s))
         |      * 1000000
         |      // (COUNT(*) * SUM(day * day) - SUM(day) * SUM(day))
         |      AS BIGINT) AS ls_slope_ppm
         |  FROM daily)
         |SELECT MAX(n_days) AS n_days, MAX(n_pairs) AS n_pairs,
         |  CAST(MIN(CASE WHEN rk = (n_pairs + 1) // 2
         |    THEN slope_ppm END) AS BIGINT) AS ts_slope_ppm,
         |  MAX(ls_slope_ppm) AS ls_slope_ppm
         |FROM rk CROSS JOIN n CROSS JOIN ls""".stripMargin,
    "q233_conformal" ->
      """WITH c AS (
        |  SELECT c_mktsegment AS seg,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        |  FROM customer),
        |m AS (
        |  SELECT seg, CAST(SUM(x) // COUNT(*) AS BIGINT) AS mu,
        |    COUNT(*) AS n
        |  FROM c GROUP BY seg),
        |resid AS (
        |  SELECT c.seg, abs(x - mu) // 100 AS r, n
        |  FROM c JOIN m ON c.seg = m.seg),
        |vc AS (
        |  SELECT seg, r, n, COUNT(*) AS cnt
        |  FROM resid GROUP BY seg, r, n),
        |cum AS (
        |  SELECT seg, r, n,
        |    SUM(cnt) OVER (PARTITION BY seg ORDER BY r
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM vc),
        |radius AS (
        |  SELECT seg, MIN(r) AS r90
        |  FROM cum WHERE cum * 10 >= n * 9 GROUP BY seg)
        |SELECT resid.seg, COUNT(*) AS n_customers,
        |  CAST(MAX(mu) AS BIGINT) AS seg_mean_cents,
        |  CAST(MAX(r90) AS BIGINT) AS r90_dollars,
        |  CAST(SUM(CASE WHEN r <= r90 THEN 1 ELSE 0 END) * 1000000
        |    // COUNT(*) AS BIGINT) AS coverage_ppm
        |FROM resid
        |  JOIN radius ON resid.seg = radius.seg
        |  JOIN m ON resid.seg = m.seg
        |GROUP BY resid.seg ORDER BY resid.seg""".stripMargin,
    "q230_poisson_bootstrap" ->
      s"""WITH rev AS (
         |  SELECT o_custkey,
         |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
         |      AS BIGINT)) AS BIGINT) AS cents
         |  FROM orders GROUP BY o_custkey),
         |reps AS (
         |  SELECT o_custkey, cents, unnest(range(0, $BootB)) AS b
         |  FROM rev),
         |hashed AS (
         |  SELECT cents, b,
         |    (${OracleHash.polySql(
              "(CAST(o_custkey AS VARCHAR) || ':' || " +
                "CAST(b AS VARCHAR) || ':boot')")}) % $BootH AS h
         |  FROM reps),
         |weighted AS (
         |  SELECT b, cents,
         |    CASE WHEN h < $BootT0 THEN 0 WHEN h < $BootT1 THEN 1
         |         WHEN h < $BootT2 THEN 2 ELSE 3 END AS w
         |  FROM hashed),
         |rm AS (
         |  SELECT b,
         |    CAST(SUM(w * cents) // SUM(w) AS BIGINT) AS rep_mean
         |  FROM weighted GROUP BY b),
         |rk AS (
         |  SELECT rep_mean,
         |    row_number() OVER (ORDER BY rep_mean) AS rk
         |  FROM rm),
         |tru AS (
         |  SELECT CAST(SUM(cents) // COUNT(*) AS BIGINT)
         |      AS true_mean_cents
         |  FROM rev)
         |SELECT COUNT(*) AS n_replicates,
         |  MAX(true_mean_cents) AS true_mean_cents,
         |  MIN(CASE WHEN rk = ${math.max(1, BootB / 20)}
         |    THEN rep_mean END) AS p5_mean_cents,
         |  MIN(CASE WHEN rk = ${BootB - BootB / 20}
         |    THEN rep_mean END) AS p95_mean_cents
         |FROM rk CROSS JOIN tru""".stripMargin,
    "q203_cusum_changepoint" ->
      s"""WITH $dailyCte,
         |tot AS (SELECT COUNT(*) AS dcnt, CAST(SUM(s) AS BIGINT) AS t
         |  FROM daily),
         |cum AS (
         |  SELECT day, dcnt, t,
         |    SUM(s * dcnt - t) OVER (ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM daily CROSS JOIN tot),
         |mx AS (SELECT MAX(abs(cum)) AS mxabs FROM cum)
         |SELECT MAX(dcnt) AS n_days, MAX(t) AS total_cents,
         |  MIN(day) AS cp_day,
         |  CAST(MAX(mxabs * 1000000 // (dcnt * abs(t))) AS BIGINT)
         |    AS cusum_ppm
         |FROM cum CROSS JOIN mx WHERE abs(cum) = mxabs""".stripMargin,
    "q204_dow_seasonality" ->
      s"""WITH $dailyCte,
         |tot AS (SELECT COUNT(*) AS d_total, CAST(SUM(s) AS BIGINT) AS t
         |  FROM daily)
         |SELECT (day + 4) % 7 AS dow, COUNT(*) AS n_days,
         |  CAST(SUM(s) AS BIGINT) AS dow_cents,
         |  CAST(SUM(s) AS BIGINT) * MAX(d_total) * 1000000
         |    // (COUNT(*) * MAX(t)) AS index_ppm
         |FROM daily CROSS JOIN tot
         |GROUP BY 1 ORDER BY dow""".stripMargin,
    "q213_burstiness" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, event_id,
        |    epoch_us(date_trunc('microseconds', ts)) AS tsu
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |    (tsu - lag(tsu) OVER (PARTITION BY user_id, event_type
        |      ORDER BY tsu, event_id)) // 1000000 AS g
        |  FROM ev),
        |gg AS (SELECT event_type, g FROM g WHERE g IS NOT NULL),
        |agg AS (
        |  SELECT event_type, COUNT(*) AS n_gaps,
        |    CAST(SUM(g) AS BIGINT) AS sum_s,
        |    SUM(CAST(g AS HUGEINT) * g) AS sum_s2
        |  FROM gg GROUP BY event_type)
        |SELECT event_type, n_gaps,
        |  CAST(sum_s // n_gaps AS BIGINT) AS mean_gap_s,
        |  CAST((n_gaps * sum_s2 - CAST(sum_s AS HUGEINT) * sum_s)
        |    * 1000000 // (CAST(sum_s AS HUGEINT) * sum_s) AS BIGINT)
        |    AS cv2_ppm
        |FROM agg ORDER BY event_type""".stripMargin,
    "q209_mad_outliers" ->
      """WITH cts AS (
        |  SELECT c_mktsegment AS seg,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        |  FROM customer),
        |n AS (SELECT seg, COUNT(*) AS n FROM cts GROUP BY seg),
        |vc AS (
        |  SELECT seg, x, COUNT(*) AS c FROM cts GROUP BY seg, x),
        |cum AS (
        |  SELECT seg, x, SUM(c) OVER (PARTITION BY seg ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM vc),
        |med AS (
        |  SELECT cum.seg, MIN(x) AS med_x
        |  FROM cum JOIN n ON cum.seg = n.seg
        |  WHERE cum >= (n + 1) // 2 GROUP BY cum.seg),
        |dev AS (
        |  SELECT cts.seg, x, abs(x - med_x) AS adev, med_x
        |  FROM cts JOIN med ON cts.seg = med.seg),
        |vc2 AS (
        |  SELECT seg, adev, COUNT(*) AS c FROM dev GROUP BY seg, adev),
        |cum2 AS (
        |  SELECT seg, adev, SUM(c) OVER (PARTITION BY seg ORDER BY adev
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM vc2),
        |mad AS (
        |  SELECT cum2.seg, MIN(adev) AS med_adev
        |  FROM cum2 JOIN n ON cum2.seg = n.seg
        |  WHERE cum >= (n + 1) // 2 GROUP BY cum2.seg)
        |SELECT dev.seg, COUNT(*) AS n_customers,
        |  MAX(med_x) AS median_cents,
        |  MAX(med_adev) AS mad_cents,
        |  CAST(SUM(CASE WHEN adev > 3 * med_adev THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev JOIN mad ON dev.seg = mad.seg
        |GROUP BY dev.seg ORDER BY dev.seg""".stripMargin)
}
