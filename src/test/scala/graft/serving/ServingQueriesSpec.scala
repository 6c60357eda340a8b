package graft.serving

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ServingQueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val D = 20220429 // all fixture windows are on 2022-04-29 UTC

  private def winFrame(rows: Seq[(String, Map[String, Any])]) = {
    // rows: (stt string, metric map) — build a dws-shaped frame
    val cols = rows.flatMap(_._2.keys).distinct
    val data = rows.map { case (stt, m) =>
      (stt +: cols.map(c => m.getOrElse(c, 0L).toString)).mkString("|")
    }
    val df = data.toDF("raw")
      .select(split(col("raw"), "\\|").as("parts"))
      .select(col("parts").getItem(0).as("stt_s") +:
        cols.zipWithIndex.map { case (c, i) =>
          col("parts").getItem(i + 1).cast("double").as(c) }: _*)
    df.select(to_timestamp(col("stt_s")).as("stt") +: cols.map(col): _*)
  }

  test("trafficChannelStats: ratios + ordering") {
    val dws = Seq(
      ("2022-04-29 10:00:00", Map[String, Any]("ch" -> 0, "uv_ct" -> 10,
        "sv_ct" -> 5, "pv_ct" -> 50, "dur_sum" -> 1000, "uj_ct" -> 1)),
      ("2022-04-29 10:00:10", Map[String, Any]("ch" -> 0, "uv_ct" -> 20,
        "sv_ct" -> 5, "pv_ct" -> 30, "dur_sum" -> 500, "uj_ct" -> 4)))
      .map { case (s, m) => (s, m) }
    // ch column must be a string channel; rebuild with a literal channel
    val base = winFrame(dws).withColumn("ch", lit("xiaomi"))
    val got = ServingQueries.trafficChannelStats(base, D).head()
    assert(got.getAs[Double]("uv_ct") == 30.0)
    assert(got.getAs[Double]("pv_per_session") == 8.0) // 80 pv / 10 sv
    assert(got.getAs[Double]("uj_rate") == 0.5) // 5 uj / 10 sv
  }

  test("visitorPerHr buckets by hour") {
    val base = winFrame(Seq(
      ("2022-04-29 10:00:00", Map[String, Any]("uv_ct" -> 1, "pv_ct" -> 2, "sv_ct" -> 1)),
      ("2022-04-29 11:00:00", Map[String, Any]("uv_ct" -> 3, "pv_ct" -> 4, "sv_ct" -> 2))))
    val got = ServingQueries.visitorPerHr(base, D).collect()
    assert(got.map(_.getAs[Long]("hr")).toSeq == Seq(10L, 11L))
  }

  test("commodityTrademarkStats full outer merges order and refund sides") {
    val orders = Seq(("2022-04-29 10:00:00", "t1", "acme", 100.0, 2L),
      ("2022-04-29 10:00:10", "t2", "bolt", 50.0, 1L))
      .toDF("stt_s", "tm_id", "tm_name", "order_amount", "order_count")
      .withColumn("stt", to_timestamp(col("stt_s"))).drop("stt_s")
    val refunds = Seq(("2022-04-29 11:00:00", "t2", "bolt", 10.0, 1L),
      ("2022-04-29 11:00:10", "t3", "zap", 5.0, 1L))
      .toDF("stt_s", "tm_id", "tm_name", "refund_amount", "refund_count")
      .withColumn("stt", to_timestamp(col("stt_s"))).drop("stt_s")
    val got = ServingQueries.commodityTrademarkStats(orders, refunds, D)
      .collect().map(r => r.getAs[String]("tm_id") ->
        (Option(r.getAs[Any]("order_amount")), Option(r.getAs[Any]("refund_amount"))))
      .toMap
    assert(got("t1")._2.isEmpty) // orders only
    assert(got("t3")._1.isEmpty) // refunds only
    assert(got("t2")._1.nonEmpty && got("t2")._2.nonEmpty)
  }

  test("couponStats / sugarGmv / userTradeCt shapes") {
    val trade = winFrame(Seq(("2022-04-29 10:00:00",
      Map[String, Any]("order_coupon_reduce_amount" -> 5,
        "order_origin_total_amount" -> 100,
        "order_unique_user_count" -> 7))))
    assert(ServingQueries.couponStats(trade, D).head()
      .getAs[Double]("coupon_subsidy_rate") == 0.05)
    assert(ServingQueries.sugarGmv(trade, D).head().getAs[Double]("gmv") == 100.0)
    val pay = winFrame(Seq(("2022-04-29 10:00:00",
      Map[String, Any]("payment_suc_unique_user_count" -> 3))))
    val utc = ServingQueries.userTradeCt(trade, pay, D).collect()
      .map(r => r.getString(0) -> r.getAs[Double](1)).toMap
    assert(utc == Map("order" -> 7.0, "payment" -> 3.0))
  }

  test("activityStats / couponStats give a NULL rate where the origin total sums to 0") {
    val amounts = Seq("order_activity_reduce_amount", "order_coupon_reduce_amount",
      "order_origin_total_amount")
    val zero = winFrame(Seq(("2022-04-29 10:00:00", amounts.map(_ -> 0).toMap)))
    val dec = amounts.foldLeft(zero)((df, c) => df.withColumn(c, col(c).cast("decimal(16,2)")))
    for (trade <- Seq(zero, dec)) {
      val a = ServingQueries.activityStats(trade, D).head()
      assert(a.getAs[Int]("dt") == D && a.isNullAt(a.fieldIndex("subsidy_rate")))
      val c = ServingQueries.couponStats(trade, D).head()
      assert(c.isNullAt(c.fieldIndex("coupon_subsidy_rate")))
    }
  }

  test("date filter excludes other days") {
    val base = winFrame(Seq(
      ("2022-04-29 10:00:00", Map[String, Any]("uv_ct" -> 1, "pv_ct" -> 1, "sv_ct" -> 1)),
      ("2022-04-30 10:00:00", Map[String, Any]("uv_ct" -> 9, "pv_ct" -> 9, "sv_ct" -> 9))))
    val got = ServingQueries.visitorPerHr(base, D).agg(sum("uv_ct")).head()
    assert(got.getDouble(0) == 1.0)
  }
}
