package graft.functions

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** The native Misra–Gries aggregate inside Structured Streaming state:
  * a complete-mode streaming aggregation carries the MG buffer through
  * the state store between micro-batches (serialize/deserialize/merge —
  * the same code paths a 100 TB streaming profile exercises), so the
  * deterministic bounds must hold against exact counts over EVERYTHING
  * ingested so far, after every batch. */
class StreamingHeavyHittersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("heavy_hitters summary survives state-store round trips per batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val m = 8
    val q = mem.toDF().toDF("grp", "item")
      .groupBy("grp")
      .agg(call_function("heavy_hitters", col("item"), lit(m)).as("summary"),
        count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode(OutputMode.Complete())
      .start()
    val seen = scala.collection.mutable.Map
      .empty[(String, String), Long].withDefaultValue(0L)
    def feed(batch: Seq[(String, String)]): Unit = {
      mem.addData(batch: _*)
      q.processAllAvailable()
      batch.foreach(kv => seen(kv) += 1)
      val rows = spark.sql(
        "SELECT grp, explode(summary) AS e, n FROM hh_stream").collect()
      val byGrp = rows.groupBy(_.getString(0))
      byGrp.foreach { case (grp, rs) =>
        val n = rs.head.getLong(2)
        val exactN = seen.collect { case ((g, _), c) if g == grp => c }.sum
        assert(n == exactN, s"$grp: count drifted across batches")
        rs.foreach { r =>
          val e = r.getStruct(1)
          val (item, est) = (e.getString(0), e.getLong(1))
          val exact = seen((grp, item))
          assert(est <= exact, s"$grp/$item overestimated after restart-free merge")
          assert(exact - est <= n / (m + 1), s"$grp/$item bound broken")
        }
      }
    }
    try {
      // batch 1: skewed toward 'hot' in g1; uniform noise in g2
      feed(Seq.fill(50)(("g1", "hot")) ++
        (0 until 30).map(i => ("g1", s"w$i")) ++
        (0 until 20).map(i => ("g2", s"u${i % 10}")))
      // batch 2: the hot item keeps accumulating across the state store
      feed(Seq.fill(40)(("g1", "hot")) ++
        (0 until 25).map(i => ("g1", s"x$i")))
      // batch 3: new group appears mid-stream
      feed(Seq.fill(10)(("g3", "only")) ++ Seq.fill(15)(("g1", "hot")))
      // the dominant item must be GUARANTEED present: 105 > n/(m+1)
      val g1 = spark.sql(
        "SELECT e.item FROM (SELECT explode(summary) AS e FROM hh_stream " +
          "WHERE grp = 'g1')").collect().map(_.getString(0)).toSet
      assert(g1.contains("hot"), "guaranteed heavy hitter missing from state")
    } finally q.stop()
  }
}
