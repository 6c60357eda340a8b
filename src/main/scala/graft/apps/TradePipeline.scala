package graft.apps

import java.sql.Timestamp
import java.util.concurrent.TimeUnit

import graft.dwd.DwdDb
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** An order_detail ⋈ order_info row, as the keyed-state operator holds it. */
case class JoinedDetail(orderId: String, skuId: String, skuNum: String,
    splitTotalAmount: String, sourceType: String, userId: String,
    provinceId: String)

/** One input of the keyed-state operator, keyed by order_detail_id:
  * exactly one of `joined`, `activity` and `coupon` is set. */
case class OrderDetailLeg(detailId: String, time: Timestamp,
    joined: JoinedDetail, activity: String, coupon: String)

/** One order-detail fact row, before the base_dic lookup. */
case class OrderDetailFact(detailId: String, joined: JoinedDetail,
    activityId: String, couponId: String, eventTime: Timestamp)

/** Streaming form of the order-detail wide fact (ref
  * DwdTradeOrderDetail.java:183-190): order_detail ⋈ order_info (J1),
  * ⟕ order_detail_activity, ⟕ order_detail_coupon (J2), + broadcast
  * base_dic lookup (J3), over ONE shared topic_db stream.
  *
  * Only J1 is a stream-stream join. Both left-outer legs key on
  * order_detail_id and share J1's ±`retention` bound, so they are one
  * keyed-state operator (`flatMapGroupsWithState`, event-time timeout)
  * over the union of J1's output and the activity and coupon legs. On
  * Spark 4.1 each stream-stream join has a large fixed cost per
  * micro-batch: its exec broadcasts the whole Hadoop configuration from
  * its constructor, again for every plan copy incremental planning
  * makes, and it opens four state stores per shuffle partition, each
  * with its own checksum thread pool. One join plus keyed state plans
  * and commits far less than three joins, for the same rows.
  *
  * The keyed-state operator must stay the LAST stateful operator: Spark
  * rejects any stateful operator downstream of an event-time-timeout
  * `flatMapGroupsWithState`, so J1 runs before it.
  *
  * Emission: a (J1 row, activity, coupon) triple emits as soon as all
  * three have arrived, each leg within ±`retention` of the detail's
  * event time. A key times out once the watermark passes its newest
  * event time + `retention`; it then emits the null-padded rows of every
  * J1 row that lacks a matching activity or coupon, and drops its state.
  * The watermark this operator sees is the one Spark propagates through
  * J1, `retention` behind the query's. Spark drops its input behind the
  * previous batch's watermark, as it does for a join's; a J1 row or leg
  * between that and the current watermark is still taken, and a key whose
  * deadline is already behind the current watermark emits its matched and
  * null-padded rows at once (the timeout may not be set below the
  * watermark) and drops its state. A batch frame has all its legs at
  * once: every row, padded or not, emits directly. Null-padded rows emit
  * only after the timeout, vs the reference's retract/re-emit changelog
  * (SURVEY.md §7.4 delta 1); the reference keeps join state for 3 days
  * of idle time, here the watermark and the bound reclaim it.
  */
object TradePipeline {

  def orderDetailStream(topicDb: DataFrame, baseDic: DataFrame,
      watermark: String = "5 seconds", retention: String = "60 seconds")
      : DataFrame = {
    import topicDb.sparkSession.implicits._
    val streaming = topicDb.isStreaming // capture OUTSIDE closures: plan is driver-only
    val bound = IntervalUtils.getDuration( // as withWatermark reads its delay
      IntervalUtils.fromIntervalString(retention), TimeUnit.MILLISECONDS)
    // ONE watermark on the shared topic_db stream BEFORE the split: each
    // leg's time column is an alias of the same watermarked column. A
    // per-leg watermark would stall the query whenever one table sees no
    // traffic (global watermark = min over all watermark nodes, and a
    // node with no data never advances).
    val src = topicDb
      .withColumn("event_time", to_timestamp(col("ts")))
      .withWatermark("event_time", watermark)
    def leg(table: String, prefix: String, cols: Seq[String]): DataFrame =
      DwdDb.tableEvents(src, table, "insert")
        .select(cols.map(c => col("data").getItem(c).as(s"$prefix$c")) :+
          col("event_time").as(s"${prefix}time"): _*)
    val detail = leg("order_detail", "d_", Seq("id", "order_id", "sku_id",
      "sku_num", "split_total_amount", "source_type"))
    val info = leg("order_info", "i_", Seq("id", "user_id", "province_id"))
    val none = lit(null).cast("string")
    val joined = detail
      .join(info, col("d_order_id") === col("i_id") &&
        col("i_time") >= col("d_time") - expr(s"interval $retention") &&
        col("i_time") <= col("d_time") + expr(s"interval $retention"))
      .select(col("d_id").as("detailId"), col("d_time").as("time"),
        struct(col("d_order_id").as("orderId"), col("d_sku_id").as("skuId"),
          col("d_sku_num").as("skuNum"),
          col("d_split_total_amount").as("splitTotalAmount"),
          col("d_source_type").as("sourceType"), col("i_user_id").as("userId"),
          col("i_province_id").as("provinceId")).as("joined"),
        none.as("activity"), none.as("coupon"))
    def ref(table: String, activity: Column, coupon: Column): DataFrame =
      DwdDb.tableEvents(src, table, "insert").select(
        col("data").getItem("order_detail_id").as("detailId"),
        col("event_time").as("time"),
        lit(null).cast(joined.schema("joined").dataType).as("joined"),
        activity.as("activity"), coupon.as("coupon"))
    val legs = joined
      .union(ref("order_detail_activity", col("data").getItem("activity_id"), none))
      .union(ref("order_detail_coupon", none, col("data").getItem("coupon_id")))
      .as[OrderDetailLeg]

    // one key's output rows: each J1 row × its activities (or one null)
    // × its coupons (or one null). Legs come flagged new or buffered;
    // `keep` sees, per row, whether the J1 row is new and whether the
    // activity and coupon are new (`Some(true)`), buffered or padded (`None`)
    def rows(legs: Seq[(OrderDetailLeg, Boolean)])(keep: (Boolean,
        Option[Boolean], Option[Boolean]) => Boolean): Iterator[OrderDetailFact] = {
      val (js, rest) = legs.partition(_._1.joined != null)
      val (acts, cous) = rest.partition(_._1.activity != null)
      js.iterator.flatMap { case (j, jNew) =>
        def near(l: Seq[(OrderDetailLeg, Boolean)]) =
          l.filter(x => math.abs(x._1.time.getTime - j.time.getTime) <= bound)
            .map(Some(_)).padTo(1, None)
        for {
          a <- near(acts).iterator
          c <- near(cous)
          if keep(jNew, a.map(_._2), c.map(_._2))
        } yield OrderDetailFact(j.detailId, j.joined,
          a.map(_._1.activity).orNull, c.map(_._1.coupon).orNull, j.time)
      }
    }
    val padded = (_: Boolean, a: Option[Boolean], c: Option[Boolean]) =>
      a.isEmpty || c.isEmpty

    val facts = legs.groupByKey(_.detailId)
      .flatMapGroupsWithState[Seq[OrderDetailLeg], OrderDetailFact](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, input, state: GroupState[Seq[OrderDetailLeg]]) =>
          if (!streaming) rows(input.map(_ -> true).toSeq)((_, _, _) => true)
          else if (state.hasTimedOut) {
            val out = rows(state.get.map(_ -> false))(padded)
            state.remove()
            out
          } else {
            // input behind the previous batch's watermark is already dropped
            val all = state.getOption.getOrElse(Nil).map(_ -> false) ++
              input.map(_ -> true)
            val complete = rows(all) {
              case (j, Some(a), Some(c)) => j || a || c
              case _ => false
            }
            val deadline = all.map(_._1.time.getTime).max + bound
            if (deadline < state.getCurrentWatermarkMs()) { // no timeout below it: pad now
              state.remove()
              complete ++ rows(all)(padded)
            } else {
              state.update(all.map(_._1))
              state.setTimeoutTimestamp(deadline)
              complete
            }
          }
      }

    facts.toDF()
      .join(broadcast(baseDic.select(col("dic_code"), col("dic_name"))),
        col("joined.sourceType") === col("dic_code"), "left")
      .select(
        col("detailId").as("detail_id"), col("joined.orderId").as("order_id"),
        col("joined.skuId").as("sku_id"), col("joined.skuNum").as("sku_num"),
        col("joined.splitTotalAmount").as("split_total_amount"),
        col("joined.userId").as("user_id"),
        col("joined.provinceId").as("province_id"),
        col("activityId").as("activity_id"), col("couponId").as("coupon_id"),
        col("dic_name").as("source_type_name"),
        col("eventTime").as("event_time"))
  }
}
