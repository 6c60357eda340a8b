package graft.serving

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The serving layer — SURVEY.md §2.10: every publisher REST endpoint's
  * SQL re-expressed as a named Spark query over the engine's `dws_*`
  * frames (the REST shell is out of scope; the queries are the
  * capability). All take a `date` (yyyyMMdd int) like the reference's
  * `#{date}` bind and assume the dws frame carries `stt` (window start).
  *
  * Scale: every dws sink table is written partitioned by
  * `dt = yyyyMMdd(stt)` (see scaladoc on writers) so each of these
  * queries prunes to one date partition — the same trick ClickHouse's
  * date partitioning gives the reference.
  */
object ServingQueries {

  private def onDate(df: DataFrame, date: Int): DataFrame =
    // prefer the dt PARTITION column (Sinks.dwsParquet writes it): that is
    // what actually prunes to one directory; stt-derived filtering would
    // scan every partition
    if (df.columns.contains("dt")) df.filter(col("dt") === date)
    else df.filter(date_format(col("stt"), "yyyyMMdd").cast("int") === date)

  /** `num / den` as a double, NULL where `den` is 0: under ANSI mode an
    * unguarded division by a zero sum throws DIVIDE_BY_ZERO and fails the
    * whole endpoint for one empty date or channel. */
  private def ratio(num: Column, den: Column): Column =
    when(den =!= 0, num.cast("double") / den)

  /** trade/stats (TradeStatsMapper.java:18-36): 4-way UNION ALL of KPI
    * rows over the trade order window. */
  def tradeStats(dwsTradeOrder: DataFrame, date: Int): DataFrame = {
    val base = onDate(dwsTradeOrder, date)
    def kpi(name: String, c: Column) =
      base.agg(lit(name).as("type"), coalesce(sum(c), lit(0.0)).as("value"))
    kpi("order_amount", col("order_origin_total_amount"))
      .unionByName(kpi("activity_amount", col("order_activity_reduce_amount")))
      .unionByName(kpi("coupon_amount", col("order_coupon_reduce_amount")))
      .unionByName(kpi("order_uu_count", col("order_unique_user_count")))
  }

  /** trade/provinceOrderCt + provinceOrderAmount
    * (TradeStatsMapper provinces; DwsTradeProvinceOrderWindow sink). */
  def provinceOrder(dwsProvince: DataFrame, date: Int): DataFrame =
    onDate(dwsProvince, date)
      .groupBy(col("province_id"), col("province_name"))
      .agg(sum(col("order_count")).as("order_count"),
        sum(col("order_amount")).as("order_amount"))

  /** traffic/{uvCt,svCt,pvPerSession,durPerSession,ujRate} per channel
    * (TrafficChannelStatsMapper.java:11-48): ratio-of-sums + ORDER BY
    * metric DESC (O1, A9). */
  def trafficChannelStats(dwsTrafficChannel: DataFrame, date: Int): DataFrame = {
    // zero-session channels emit NULL ratios (the regenerated events
    // data produced a channel-date with sv_ct = 0; under ANSI mode the
    // unguarded division became a DIVIDE_BY_ZERO task failure that
    // silently DROPPED q70 from the verify output — found by auditing
    // the gate denominator against the registered query count)
    def per(c: String) = ratio(sum(col(c)), sum(col("sv_ct")))
    onDate(dwsTrafficChannel, date)
      .groupBy(col("ch"))
      .agg(
        sum(col("uv_ct")).as("uv_ct"),
        sum(col("sv_ct")).as("sv_ct"),
        per("pv_ct").as("pv_per_session"),
        per("dur_sum").as("dur_per_session"),
        per("uj_ct").as("uj_rate"))
      .orderBy(col("uv_ct").desc)
  }

  /** traffic/keywords (TrafficKeywordsMapper.java:10-20): weighted
    * multiIf score per keyword. */
  def keywords(dwsKeyword: DataFrame, date: Int): DataFrame =
    onDate(dwsKeyword, date)
      .groupBy(col("keyword"))
      .agg(sum(col("keyword_count") *
        when(col("source") === "SEARCH", 10L).otherwise(1L)).as("score"))
      .orderBy(col("score").desc)

  /** traffic/visitorPerType (TrafficVisitorStatsMapper.java:23-30):
    * new-vs-returning split via sum(if(is_new...)). */
  def visitorPerType(dwsTrafficChannel: DataFrame, date: Int): DataFrame =
    onDate(dwsTrafficChannel, date)
      .agg(
        sum(when(col("is_new") === "1", col("uv_ct")).otherwise(0L)).as("new_uv"),
        sum(when(col("is_new") =!= "1", col("uv_ct")).otherwise(0L)).as("old_uv"),
        sum(when(col("is_new") === "1", col("sv_ct")).otherwise(0L)).as("new_sv"),
        sum(when(col("is_new") =!= "1", col("sv_ct")).otherwise(0L)).as("old_sv"))

  /** traffic/visitorPerHr (A10): hourly buckets of uv/pv. */
  def visitorPerHr(dwsTrafficChannel: DataFrame, date: Int): DataFrame =
    onDate(dwsTrafficChannel, date)
      .groupBy(hour(col("stt")).cast("long").as("hr"))
      .agg(sum(col("uv_ct")).as("uv_ct"), sum(col("pv_ct")).as("pv_ct"),
        sum(col("sv_ct")).as("sv_ct"))
      .orderBy(col("hr"))

  /** commodity/{trademark,category,spu} (CommodityStatsMapper.java:13-98):
    * order stats ⟗ refund stats per trademark (J10 FULL OUTER). */
  def commodityTrademarkStats(dwsTmOrder: DataFrame, dwsTmRefund: DataFrame,
      date: Int): DataFrame = {
    // column names match DwsJobs.tmCategoryUserSpuOrder / ...Refund output
    val o = onDate(dwsTmOrder, date)
      .groupBy(col("tm_id"), col("tm_name"))
      .agg(sum(col("order_amount")).as("order_amount"),
        sum(col("order_count")).as("order_count"))
    val r = onDate(dwsTmRefund, date)
      .groupBy(col("tm_id"), col("tm_name"))
      .agg(sum(col("refund_amount")).as("refund_amount"),
        sum(col("refund_count")).as("refund_count"))
    o.join(r, Seq("tm_id", "tm_name"), "full_outer")
  }

  /** activity/stats (ActivityStatsMapper.java:10-16): subsidy rate =
    * activity amount / origin amount, grouped by date bucket (A10). */
  def activityStats(dwsTradeOrder: DataFrame, date: Int): DataFrame =
    onDate(dwsTradeOrder, date)
      .groupBy(date_format(col("stt"), "yyyyMMdd").cast("int").as("dt"))
      .agg(ratio(sum(col("order_activity_reduce_amount")),
        sum(col("order_origin_total_amount"))).as("subsidy_rate"))

  /** user/userChangeCt (UserStatsMapper.java:41-53): 3-way union of user
    * flow KPIs (back / uu / register). */
  def userChange(dwsLogin: DataFrame, dwsRegister: DataFrame, date: Int)
      : DataFrame = {
    val l = onDate(dwsLogin, date)
    l.agg(lit("back").as("type"), coalesce(sum(col("back_ct")), lit(0L)).as("value"))
      .unionByName(l.agg(lit("active").as("type"),
        coalesce(sum(col("uu_ct")), lit(0L)).as("value")))
      .unionByName(onDate(dwsRegister, date).agg(lit("register").as("type"),
        coalesce(sum(col("register_ct")), lit(0L)).as("value")))
  }

  /** coupon/stats (CouponStatsMapper.java:10-16): coupon subsidy amount +
    * rate over the trade order window. */
  def couponStats(dwsTradeOrder: DataFrame, date: Int): DataFrame =
    onDate(dwsTradeOrder, date)
      .agg(sum(col("order_coupon_reduce_amount")).as("coupon_reduce_amount"),
        ratio(sum(col("order_coupon_reduce_amount")),
          sum(col("order_origin_total_amount"))).as("coupon_subsidy_rate"))

  /** user/uvPerPage (UserStatsMapper.java:12-36): per-page UV stack —
    * UNION ALL of per-page aggregates (home / good_detail tracked by the
    * page-view window; others default 0 like the reference). */
  def uvPerPage(dwsPageView: DataFrame, date: Int): DataFrame = {
    val base = onDate(dwsPageView, date)
    base.agg(lit("home").as("page"),
        coalesce(sum(col("home_uv_ct")), lit(0L)).as("uv_ct"))
      .unionByName(base.agg(lit("good_detail").as("page"),
        coalesce(sum(col("good_detail_uv_ct")), lit(0L)).as("uv_ct")))
  }

  /** user/userTradeCt (UserStatsMapper.java:57-66): 2-way union of trade
    * user KPIs (order users / pay users). */
  def userTradeCt(dwsTradeOrder: DataFrame, dwsPayment: DataFrame, date: Int)
      : DataFrame =
    onDate(dwsTradeOrder, date)
      .agg(lit("order").as("type"),
        coalesce(sum(col("order_unique_user_count")), lit(0L)).as("value"))
      .unionByName(onDate(dwsPayment, date)
        .agg(lit("payment").as("type"),
          coalesce(sum(col("payment_suc_unique_user_count")), lit(0L)).as("value")))

  /** legacy sugar/gmv (SugarController.java:24-58): one-number GMV. */
  def sugarGmv(dwsTradeOrder: DataFrame, date: Int): DataFrame =
    onDate(dwsTradeOrder, date)
      .agg(coalesce(sum(col("order_origin_total_amount")), lit(0.0)).as("gmv"))

  /** legacy sugar/ch (SugarController.java:60-96): UV by channel, top-N
    * ordered — the reference's dashboard pulls the ordered list. */
  def sugarChannelUv(dwsTrafficChannel: DataFrame, date: Int, topN: Int = 10)
      : DataFrame =
    onDate(dwsTrafficChannel, date)
      .groupBy(col("ch"))
      .agg(sum(col("uv_ct")).as("uv_ct"))
      .orderBy(col("uv_ct").desc)
      .limit(topN)
}
