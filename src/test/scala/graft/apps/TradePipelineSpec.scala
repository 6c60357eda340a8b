package graft.apps

import graft.TestSpark
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** The order-detail layer (one stream-stream join + keyed state) against
  * a time-bounded batch SQL oracle: the same four-table join, each leg
  * within ±60 s of the detail, that the benchmark's DuckDB check runs. */
class TradePipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def env(table: String, ts: Long, data: (String, String)*): String = {
    val d = data.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    s"""{"database":"g","table":"$table","type":"insert","ts":$ts,""" +
      s""""xid":1,"xoffset":1,"data":$d,"old":null}"""
  }
  private def detail(id: String, order: String, ts: Long) =
    env("order_detail", ts, "id" -> id, "order_id" -> order, "sku_id" -> s"s$id",
      "sku_num" -> "2", "order_price" -> "10.00", "split_total_amount" -> "18.00",
      "source_type" -> "2401")
  private def info(order: String, ts: Long) =
    env("order_info", ts, "id" -> order, "user_id" -> s"u$order",
      "province_id" -> "p1")
  private def act(id: String, activity: String, ts: Long) =
    env("order_detail_activity", ts, "order_detail_id" -> id, "activity_id" -> activity)
  private def cou(id: String, coupon: String, ts: Long) =
    env("order_detail_coupon", ts, "order_detail_id" -> id, "coupon_id" -> coupon)

  private def baseDic: DataFrame = dic(spark)
  private def dic(s: SparkSession): DataFrame =
    s.createDataFrame(Seq(("2401", "user_query"))).toDF("dic_code", "dic_name")

  /** Rows as sorted strings, event time in epoch seconds. */
  private def rows(df: DataFrame): Seq[String] =
    df.select($"detail_id", $"order_id", $"sku_id", $"sku_num",
        $"split_total_amount", $"user_id", $"province_id", $"activity_id",
        $"coupon_id", $"source_type_name", $"event_time".cast("long"))
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def oracle(lines: Seq[String]): Seq[String] = {
    Sources.topicDb(lines.toDF("value")).createOrReplaceTempView("trade_oracle_env")
    baseDic.createOrReplaceTempView("trade_oracle_dic")
    rows(spark.sql("""
      SELECT d.data['id'] AS detail_id, d.data['order_id'] AS order_id,
             d.data['sku_id'] AS sku_id, d.data['sku_num'] AS sku_num,
             d.data['split_total_amount'] AS split_total_amount,
             i.data['user_id'] AS user_id, i.data['province_id'] AS province_id,
             a.data['activity_id'] AS activity_id, c.data['coupon_id'] AS coupon_id,
             dic.dic_name AS source_type_name,
             CAST(d.ts AS TIMESTAMP) AS event_time
      FROM trade_oracle_env d
      JOIN trade_oracle_env i ON i.table = 'order_info' AND i.type = 'insert'
        AND d.data['order_id'] = i.data['id'] AND abs(i.ts - d.ts) <= 60
      LEFT JOIN trade_oracle_env a ON a.table = 'order_detail_activity'
        AND a.type = 'insert' AND a.data['order_detail_id'] = d.data['id']
        AND abs(a.ts - d.ts) <= 60
      LEFT JOIN trade_oracle_env c ON c.table = 'order_detail_coupon'
        AND c.type = 'insert' AND c.data['order_detail_id'] = d.data['id']
        AND abs(c.ts - d.ts) <= 60
      LEFT JOIN trade_oracle_dic dic ON dic.dic_code = d.data['source_type']
      WHERE d.table = 'order_detail' AND d.type = 'insert'"""))
  }

  /** A checkpointed stream of the layer into a parquet sink under `dir`. */
  private def start(mem: MemoryStream[String], dir: String,
      s: SparkSession = spark): StreamingQuery =
    TradePipeline.orderDetailStream(Sources.topicDb(mem.toDF().toDF("value")), dic(s))
      .writeStream.format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ck").outputMode("append").start()

  private def sink(dir: String): Seq[String] = rows(spark.read
    .schema(TradePipeline.orderDetailStream(Sources.topicDb(Seq.empty[String]
      .toDF("value")), baseDic).schema)
    .parquet(s"$dir/out"))

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_trade").toString

  test("streaming 4-table order-detail join: inner match + left null-pad") {
    implicit val ctx = spark.sqlContext
    val baseDic = Seq(("2401", "user_query")).toDF("dic_code", "dic_name")
    val mem = MemoryStream[String]
    val out = TradePipeline.orderDetailStream(
      graft.sources.Sources.topicDb(mem.toDF().toDF("value")), baseDic)
    val q = out.writeStream.format("memory").queryName("trade_out")
      .outputMode("append").start()
    try {
      // batch 1: detail only — no emission (inner join pending)
      mem.addData(env("order_detail", 1000,
        "id" -> "d1", "order_id" -> "o1", "sku_id" -> "s1", "sku_num" -> "2",
        "order_price" -> "10.00", "split_total_amount" -> "18.00",
        "source_type" -> "2401"))
      q.processAllAvailable()
      assert(spark.table("trade_out").count() == 0)
      // batch 2: matching order_info + activity within retention
      mem.addData(
        env("order_info", 1005, "id" -> "o1", "user_id" -> "u1",
          "province_id" -> "p1"),
        env("order_detail_activity", 1002, "order_detail_id" -> "d1",
          "activity_id" -> "act9"))
      q.processAllAvailable()
      // batch 3+: far-future envelopes push the watermark past the join
      // window so the unmatched coupon leg null-pads and the row emits
      mem.addData(env("order_info", 10000, "id" -> "oX", "user_id" -> "uX",
        "province_id" -> "pX"))
      q.processAllAvailable()
      mem.addData(env("order_detail", 20000, "id" -> "dY", "order_id" -> "oY",
        "sku_id" -> "sY", "sku_num" -> "1", "order_price" -> "1.00",
        "split_total_amount" -> "1.00", "source_type" -> "2401"))
      q.processAllAvailable()
      mem.addData(env("order_info", 30000, "id" -> "oZ", "user_id" -> "uZ",
        "province_id" -> "pZ"))
      q.processAllAvailable()
      val rows = spark.table("trade_out").collect()
      assert(rows.nonEmpty, "joined row should emit after watermark passes")
      val r = rows.find(_.getAs[String]("detail_id") == "d1").get
      assert(r.getAs[String]("user_id") == "u1")
      assert(r.getAs[String]("activity_id") == "act9")
      assert(r.getAs[String]("coupon_id") == null) // left null-pad
      assert(r.getAs[String]("source_type_name") == "user_query")
    } finally q.stop()
  }

  // one detail id per case (d1-d7), event times in seconds
  private val early = Seq(
    act("d1", "a1", 1000),                                   // activity before its detail
    detail("d2", "o2", 1000), info("o2", 1001),              // 2 activities x 2 coupons
    act("d2", "a21", 1000), act("d2", "a22", 1002),
    detail("d3", "o3", 1000), info("o3", 1000), act("d3", "a3", 1000), // no coupon
    detail("d4", "o4", 1000), info("o4", 1000), cou("d4", "c4", 1000),
    detail("d5", "o5", 1000),                                // order_info out of bound
    detail("d6", "o6", 1000), info("o6", 1000), act("d6", "a6", 1000), // coupon late
    act("d7", "a7", 1000))                                   // order_info 120 s after it
  private val middle = Seq(
    detail("d1", "o1", 1005), info("o1", 1005), cou("d1", "c1", 1003),
    cou("d2", "c21", 1001), cou("d2", "c22", 1003),
    act("d4", "a4", 1061),                                   // 61 s after its detail
    info("o5", 1061),
    detail("d7", "o7", 1060))
  private val advance = Seq(info("oA", 1100))                // watermark past d7's activity
  private val lateInfo = Seq(info("o7", 1120))
  private val flush = Seq(info("oF", 1300))
  private val lateCoupon = Seq(cou("d6", "c6", 1000))        // behind the watermark
  private val flush2 = Seq(info("oG", 5000))

  test("order detail matches the time-bounded batch oracle, batch by batch") {
    implicit val ctx = spark.sqlContext
    val dir = tmp()
    val mem = MemoryStream[String]
    val q = start(mem, dir)
    def drain(lines: Seq[String]): Seq[String] = {
      mem.addData(lines: _*); q.processAllAvailable(); sink(dir)
    }
    def of(out: Seq[String], id: String) = out.filter(_.startsWith(s"$id|"))
    try {
      val afterEarly = drain(early)
      assert(of(afterEarly, "d2").isEmpty, "d2 emitted before its coupons")
      val afterMiddle = drain(middle)
      assert(of(afterMiddle, "d1") == of(oracle(early ++ middle), "d1"),
        "an activity that arrives before its detail must match")
      assert(of(afterMiddle, "d2").size == 4, "2 activities x 2 coupons")
      assert(of(afterMiddle, "d3").isEmpty,
        "a missing coupon must not null-pad before the timeout")
      drain(advance); drain(lateInfo)
      val afterFlush = drain(flush)
      assert(of(afterFlush, "d3").map(_.split('|')(8)) == Seq("null"),
        "a missing coupon null-pads after the timeout")
      assert(of(afterFlush, "d4").map(_.split('|')(7)) == Seq("null"),
        "an activity 61 s from its detail is null-padded")
      assert(of(afterFlush, "d5").isEmpty, "order_info out of bound: no row")
      assert(of(afterFlush, "d7").map(_.split('|')(7)) == Seq("a7"),
        "an activity buffered until its detail's late order_info")
      drain(lateCoupon) // must neither throw nor match
      val out = drain(flush2)
      val inOrder = early ++ middle ++ advance ++ lateInfo ++ flush ++ flush2
      assert(out == oracle(inOrder))
      assert(of(out, "d6").map(_.split('|')(8)) == Seq("null"))
      // batch/stream parity: the same function on a batch frame
      val batch = rows(TradePipeline.orderDetailStream(
        Sources.topicDb(inOrder.toDF("value")), baseDic))
      assert(batch == out)
      // one stream-stream join, one keyed-state operator
      val ops = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
        .executedPlan.collect { case p => p.getClass.getSimpleName }
      assert(ops.count(_ == "StreamingSymmetricHashJoinExec") == 1, ops)
      assert(ops.count(_ == "FlatMapGroupsWithStateExec") == 1, ops)
      assert(q.exception.isEmpty)
    } finally q.stop()
  }

  test("a restart from the checkpoint between a detail and its coupon") {
    implicit val ctx = spark.sqlContext
    val dir = tmp()
    val mem = MemoryStream[String]
    val before = Seq(detail("d1", "o1", 1000), info("o1", 1001), act("d1", "a1", 1000),
      act("d1", "a2", 1002))
    val after = Seq(cou("d1", "c1", 1003))
    val q1 = start(mem, dir)
    try { mem.addData(before: _*); q1.processAllAvailable() } finally q1.stop()
    assert(sink(dir).isEmpty)
    val q2 = start(mem, dir)
    try {
      mem.addData(after: _*); q2.processAllAvailable()
      assert(sink(dir) == oracle(before ++ after), "buffered legs lost across the restart")
      mem.addData(flush2: _*); q2.processAllAvailable()
      mem.addData(info("oH", 5100)); q2.processAllAvailable()
      assert(sink(dir) == oracle(before ++ after), "no pad for a matched key")
    } finally q2.stop()
  }

  test("a late order_info in the data batch right after its detail's batch") {
    // no no-data batch in between: the second batch's eviction watermark
    // is already past the detail, while the join, which filters late input
    // on the previous batch's watermark, still accepts the order_info
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    implicit val ctx = s.sqlContext
    val dir = tmp()
    val mem = MemoryStream[String]
    val first = Seq(detail("d1", "o1", 2000), info("oZ", 3000))
    val second = Seq(info("o1", 2001))
    val q = start(mem, dir, s)
    try {
      mem.addData(first: _*); q.processAllAvailable()
      assert(sink(dir).isEmpty)
      mem.addData(second: _*); q.processAllAvailable()
      assert(q.lastProgress.batchId == 1, "two data batches back to back")
      val expected = oracle(first ++ second)
      assert(expected.size == 1)
      assert(sink(dir) == expected, "a joined row accepted by the join was lost")
    } finally q.stop()
  }

  test("a leg behind the query's watermark still matches a buffered detail") {
    // the keyed state sees the watermark propagated through the join,
    // `retention` behind the query's, so the coupon is not late there
    implicit val ctx = spark.sqlContext
    val dir = tmp()
    val mem = MemoryStream[String]
    val q = start(mem, dir)
    val batches = Seq(
      Seq(detail("d1", "o1", 1000), info("o1", 1000), act("d1", "a1", 1000)),
      Seq(info("oA", 1040)),       // watermark 1035; d1 stays buffered until 1060
      Seq(cou("d1", "c1", 1020)),  // within 60 s of d1, behind the query's watermark
      Seq(info("oF", 1300)))
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      assert(q.lastProgress.eventTime.get("watermark") == "1970-01-01T00:21:35.000Z")
      assert(sink(dir) == oracle(batches.flatten))
      assert(sink(dir).map(_.split('|')(8)) == Seq("c1"))
    } finally q.stop()
  }
}
