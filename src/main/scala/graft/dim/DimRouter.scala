package graft.dim

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Config-driven dimension routing — the DimApp analog (SURVEY.md §2.1 S4,
  * §2.4 J7, §2.2 K4; ref app/dim/DimApp.java:66-102 +
  * app/func/TableProcessFunction.java).
  *
  * The reference CDC-streams a tiny `table_process` config table and
  * broadcasts it to every task; each envelope row looks up its routing
  * rule (sink table, kept columns, pk). Here the config is re-read per
  * micro-batch (it is a handful of rows) and applied as a broadcast join
  * (J7) + config-driven column projection; the per-table write is a
  * partitioned parquet overwrite with keep-latest-per-pk semantics
  * replacing the Phoenix upsert (K4).
  */
object DimRouter {

  /** Routing rule (ref bean/TableProcess.java:31-35; FIXTURES.md §3). */
  case class TableProcess(sourceTable: String, sinkTable: String,
      sinkColumns: Seq[String], sinkPk: String)

  def parseConfig(config: DataFrame): Seq[TableProcess] =
    config.select("source_table", "sink_table", "sink_columns", "sink_pk")
      .collect().toSeq.map { (r: Row) =>
        TableProcess(r.getString(0), r.getString(1),
          Option(r.getString(2)).map(_.split(",").map(_.trim).toSeq)
            .getOrElse(Seq("id")),
          Option(r.getString(3)).filter(_.nonEmpty).getOrElse("id"))
      }

  /** J7: keep only envelope rows some routing rule wants (broadcast join
    * on table = source_table), tagged with their sink table. */
  def route(topicDb: DataFrame, config: DataFrame): DataFrame =
    topicDb
      .filter(col("type").isin("insert", "update", "bootstrap-insert"))
      .join(broadcast(config.select(col("source_table"), col("sink_table"))),
        col("table") === col("source_table"))
      .drop("source_table")

  /** K4: one micro-batch's routed rows → per-dim-table frames with the
    * configured column set and keep-latest-per-pk dedup (replaces the
    * Phoenix upsert — last write wins). Binlog order columns
    * (`_ts/_xid/_xoffset`) are RETAINED so the writer can merge against
    * previously persisted rows (Sinks.writeDim) — without them an
    * overwrite would lose every dim row not re-sent in the current batch.
    *
    * The batch is materialized once and only tables with rows in it get
    * a frame: a `foreachBatch` frame re-reads its source on every action,
    * and each table's frame is acted on more than once. */
  def dimFrames(routed: DataFrame, rules: Seq[TableProcess])
      : Map[String, DimFrame] = {
    val batch = routed.localCheckpoint()
    val present = batch.select("sink_table").distinct().collect()
      .map(_.getString(0)).toSet
    rules.filter(r => present(r.sinkTable)).map { rule =>
      val cols = rule.sinkColumns.map(c => col("data").getItem(c).as(c))
      val base = batch.filter(col("sink_table") === rule.sinkTable)
        .select(cols :+ col("ts").as("_ts") :+ col("xid").as("_xid") :+
          col("xoffset").as("_xoffset"): _*)
      rule.sinkTable -> DimFrame(dedupLatest(base, rule.sinkPk), rule.sinkPk)
    }.toMap
  }

  /** Keep-latest per pk in binlog order (ts, xid, xoffset). */
  def dedupLatest(df: DataFrame, pk: String): DataFrame =
    df.withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(pk))
          .orderBy(col("_ts").desc, col("_xid").desc, col("_xoffset").desc)))
      .filter(col("_rn") === 1)
      .drop("_rn")

  /** A dim batch frame + the pk the writer merges on. Carries
    * `_ts/_xid/_xoffset` for cross-batch last-write-wins. */
  case class DimFrame(frame: DataFrame, pk: String)
}
