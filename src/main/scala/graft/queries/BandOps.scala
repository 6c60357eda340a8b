package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q270: cross-user event coincidence census — pairs of events from
  * DIFFERENT users within one second of each other, counted per user
  * pair. The Spark code states the NATURAL predicate — an inner join
  * on `abs(t_a − t_b) <= 1s ∧ user_a < user_b` with no equi key — and
  * relies on the [[graft.plans.BandJoinRewrite]] optimizer rule, which
  * every engine session carries from its build (`GraftExtensions`), for
  * the scale plan: the rule rewrites the would-be
  * BroadcastNestedLoopJoin into a granule-bucketed equi-join
  * automatically (the q22/q100 device, now applied by the engine, not
  * the query author). The spec pins the plan shape; the DuckDB oracle
  * evaluates the same naive predicate its own way (IEJoin), so the
  * hash match also re-proves the rewrite lossless on real data.
  *
  * Scale (100 TB): with the rule, one shuffle on the 1-second granule
  * buckets (3× replication of one side); pair output bounded by true
  * coincidences. Without the rule it would be |E|²— the before/after
  * this operator exists to demonstrate.
  */
object BandOps {

  private val WindowUs = 1000000L // 1 second

  def eventCoincidence(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr("unix_micros(ts)").as("t"))
    val a = ev.select(col("user_id").as("user_a"), col("t").as("ta"))
    val b = ev.select(col("user_id").as("user_b"), col("t").as("tb"))
    a.join(b,
        abs(col("ta") - col("tb")) <= WindowUs &&
          col("user_a") < col("user_b"))
      .groupBy(col("user_a"), col("user_b"))
      .agg(count(lit(1)).as("n_coincident"),
        min(abs(col("ta") - col("tb"))).as("min_gap_us"))
      .orderBy(col("user_a"), col("user_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q270_event_coincidence" -> eventCoincidence)

  val oracle: Map[String, String] = Map(
    "q270_event_coincidence" ->
      s"""WITH ev AS (
         |  SELECT user_id,
         |    epoch_us(date_trunc('microseconds', ts)) AS t
         |  FROM events)
         |SELECT a.user_id AS user_a, b.user_id AS user_b,
         |  COUNT(*) AS n_coincident,
         |  CAST(MIN(abs(a.t - b.t)) AS BIGINT) AS min_gap_us
         |FROM ev a JOIN ev b
         |  ON abs(a.t - b.t) <= $WindowUs AND a.user_id < b.user_id
         |GROUP BY a.user_id, b.user_id
         |ORDER BY user_a, user_b""".stripMargin)
}
