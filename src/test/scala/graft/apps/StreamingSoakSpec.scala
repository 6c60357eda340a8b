package graft.apps

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The integrated multi-job topology soak (VERDICT r8 #1): five
  * concurrent checkpointed streaming queries over two file buses,
  * killed once mid-run with state open on every query, restarted, and
  * every sink compared to its batch twin. Beyond Soak's own twin
  * equivalence, this spec pins the four CROSS-RESTART facts the
  * per-operator suites cannot see: the recovered window, the recovered
  * join match, the recovered dedup day, and the recovered repair date. */
class StreamingSoakSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("5-query topology survives a mid-run restart and equals the batch twins") {
    val root = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val report = Soak.runSoak(spark, root)

    assert(report.mismatches.isEmpty,
      report.mismatches.mkString("; "))
    report.layers.foreach { case (l, c) => assert(c > 0, s"empty sink $l") }

    // window [T0+10s, T0+20s) was OPEN at the kill (m1's event at
    // T0+15 s) and finalized only after restart — exactly once
    val wins = spark.read.parquet(s"$root/out/dws_traffic_channel")
      .filter($"ch" === "xiaomi").select("stt", "pv_ct").collect()
      .map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    assert(wins(Soak.T0 + 10000) == 1L, s"recovered window lost: $wins")
    assert(wins(Soak.T0) == 2L)

    // d2's order_detail arrived before the kill, its order_info after:
    // the join match lives entirely on recovered stream-stream state
    val trade = spark.read.parquet(s"$root/out/dwd_trade_order_detail")
    val d2 = trade.filter($"detail_id" === "d2").collect()
    assert(d2.length == 1 && d2.head.getAs[String]("user_id") == "u2",
      "cross-restart stream-stream join match lost")
    assert(d2.head.getAs[String]("source_type_name") == "promo")
    assert(trade.filter($"detail_id" === "d3").count() == 1)

    // m1's day-2 visit claims is_new=1; only repair state recovered
    // from day 1 flips it to 0
    val rep = spark.read.parquet(s"$root/out/dwd_page_repaired")
      .filter($"mid" === "m1" && $"ts" >= Soak.D2).collect()
    assert(rep.nonEmpty && rep.forall(_.getAs[String]("isNew") == "0"),
      "cross-restart is_new repair state lost")

    // the EarlyFire trigger's window [T0+10s, T0+20s) was armed before
    // the kill (cnt + timer state) and fired closed only after restart
    val ef = spark.read.parquet(s"$root/out/dws_early_counts")
      .filter($"key" === "m1" && $"windowStart" === (Soak.T0 + 10000))
      .collect()
    assert(ef.length == 1 && ef.head.getAs[Long]("cnt") == 1 &&
      ef.head.getAs[Boolean]("closed"),
      "EarlyFire timer/count state lost across restart")

    // m1's UV detail: one row per day, day 2 deduped against state
    // written before the kill (and not re-emitted for the day-2 cart)
    val uv = spark.read.parquet(s"$root/out/dwd_traffic_uv")
      .filter($"common.mid" === "m1").select("ts").as[Long].collect().sorted
    assert(uv.toSeq == Seq(Soak.T0 + 1000, Soak.D2 + 1000),
      s"daily-first dedup state lost across restart: ${uv.toSeq}")

    // DIM config routing across the kill (VERDICT r9 #2): the t1 update
    // arrived post-restart and must win the keep-latest merge against
    // the pre-kill snapshot row
    val tm = spark.read.parquet(s"$root/out/dim/dim_base_trademark")
      .select("id", "tm_name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tm == Map("t1" -> "Apple Inc", "t2" -> "Samsung"),
      s"dim merge across restart wrong: $tm")
    // the category rule exists only in config v2 (landed during the
    // outage): c1 (pre-kill, v1 era) must be absent — config-at-ingest,
    // no checkpoint replay under new rules — and c2 (post-restart) present
    val cat = spark.read.parquet(s"$root/out/dim/dim_base_category1")
      .select("id", "name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cat == Map("c2" -> "laptops"),
      s"outage config change not honored by post-restart batches: $cat")
  }

  test("trade join state is reclaimed once the watermark passes the join window") {
    // VERDICT r9 #3: the soak proves sink equivalence; this pins the
    // state-store GC the 3-day idle-retention analog relies on
    // (DwdTradeOrderDetail.java:26 — tableEnv idle-state retention;
    // here the watermark + bounded join conditions reclaim it). The
    // numRowsTotal device is the EarlyFireSpec GC case's template. The
    // RocksDB provider is set on a session of its own, so the shared
    // test session's conf never changes under a concurrent query.
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val ctx = session.sqlContext
    val mem = MemoryStream[String]
    val q = TradePipeline.orderDetailStream(
        graft.sources.Sources.topicDb(mem.toDF().toDF("value")),
        Soak.baseDic(session))
      .writeStream.format("memory").queryName("trade_state_gc")
      .outputMode("append").start()
    def stateRows: Long = q.recentProgress
      .filter(_.stateOperators.nonEmpty)
      .maxBy(_.batchId).stateOperators.map(_.numRowsTotal).sum
    try {
      mem.addData(Soak.dbPhase1: _*); q.processAllAvailable()
      mem.addData(Soak.dbPhase2: _*); q.processAllAvailable()
      val before = stateRows
      // the order_detail ⋈ order_info join buffers 3 details (d1-d3) and
      // 2 infos (o1, o2); the keyed-state operator buffers 2 keys: d1
      // (its joined row + act9, waiting for a coupon) and d2 (its joined
      // row). d3's order_info has not arrived.
      assert(before == 7, s"expected buffered join state, got $before")
      // two flush probes (unmatched order_info hours later): the first
      // advances the watermark past every join window + retention, the
      // second runs the batch in which eviction executes
      mem.addData(Soak.dbFlush(Soak.T0 / 1000 + 7200): _*)
      q.processAllAvailable()
      mem.addData(Soak.dbFlush(Soak.T0 / 1000 + 7300): _*)
      q.processAllAvailable()
      val after = stateRows
      assert(after < before,
        s"join state not reclaimed by the watermark: $before -> $after")
      // only the flush probes themselves may remain buffered
      assert(after <= 2,
        s"residual join state beyond the flush probes: $after rows")
    } finally q.stop()
  }
}
