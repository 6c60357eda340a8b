package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row
import graft.dim.DimRouter.DimFrame

/** Sink builders (SURVEY.md §2.2 K1–K5). Every streaming writer takes a
  * checkpoint dir — Structured Streaming's always-on exactly-once
  * bookkeeping (the reference's checkpoint configs are commented out;
  * here they are mandatory).
  */
object Sinks {

  /** K1: plain Kafka producer (append topic). */
  def kafka(df: DataFrame, bootstrap: String, topic: String,
      checkpoint: String): DataStreamWriter[Row] =
    df.select(to_json(struct(col("*"))).as("value"))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** K2: upsert-Kafka analog — messages KEYED by the primary key so
    * log-compacted topics + consumer-side keep-latest (Dedup.keepLatest)
    * reproduce the reference's changelog semantics
    * (MyKafkaUtil.getUpsertKafkaDDL, MyKafkaUtil.java:80-89). */
  def upsertKafka(df: DataFrame, bootstrap: String, topic: String,
      pkCols: Seq[String], checkpoint: String): DataStreamWriter[Row] =
    df.select(
        concat_ws("|", pkCols.map(col): _*).as("key"),
        to_json(struct(col("*"))).as("value"))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** K3: the ClickHouse-sink analog — dws_* serving tables as parquet
    * PARTITIONED BY dt (yyyyMMdd of window start). Every §2.10 serving
    * query filters on one date, so partition pruning reads exactly one
    * partition — the same effect as ClickHouse's date partitioning. The
    * whole micro-batch is one columnar file write (vs the reference's
    * 5-row JDBC batches). */
  def dwsParquet(df: DataFrame, path: String, checkpoint: String)
      : DataStreamWriter[Row] =
    df.withColumn("dt", date_format(col("stt"), "yyyyMMdd").cast("int"))
      .writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("dt")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime("10 seconds"))

  /** Batch flavor of K3 for foreachBatch bodies and tests. */
  def writeDwsBatch(df: DataFrame, path: String): Unit =
    df.withColumn("dt", date_format(col("stt"), "yyyyMMdd").cast("int"))
      .write.mode("append").partitionBy("dt").parquet(path)

  /** K4: dimension upsert — MERGE semantics per sink table: union the
    * batch rows with the previously persisted snapshot, keep-latest per
    * pk (binlog order carried in `_ts/_xid/_xoffset`), rewrite. A plain
    * overwrite of the batch frame would delete every dim row not re-sent
    * in the current batch — the opposite of the Phoenix `upsert into`
    * this replaces. (With a table format that supports MERGE INTO, this
    * becomes one statement; parquet needs the read-union-rewrite.)
    *
    * Precondition: every frame has rows. A table with no rows in the
    * batch is left untouched by leaving it out of `frames`, as
    * `DimRouter.dimFrames` does; an empty frame would rewrite its
    * snapshot unchanged, or write an empty one. Each frame is read once,
    * by the write. */
  def writeDim(frames: Map[String, DimFrame], rootPath: String): Unit =
    frames.foreach { case (table, DimFrame(batch, pk)) =>
      val spark = batch.sparkSession
      val path = new org.apache.hadoop.fs.Path(s"$rootPath/$table")
      // Hadoop FS, not java.io.File: the dim root is HDFS/S3 in
      // production and a local File check would silently skip the merge
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(s"$rootPath/.${table}_tmp")
      val old = new org.apache.hadoop.fs.Path(s"$rootPath/.${table}_old")
      // Hadoop rename signals failure by RETURNING FALSE, not throwing;
      // proceeding after a silent failure could delete the only
      // surviving snapshot, so every rename in the swap is checked
      def mustRename(from: org.apache.hadoop.fs.Path,
          to: org.apache.hadoop.fs.Path): Unit =
        if (!fs.rename(from, to)) throw new IllegalStateException(
          s"dim swap aborted: rename $from -> $to failed")
      // crash recovery: a previous swap may have parked the live
      // snapshot at `old` and died before promoting `tmp` — restore it
      if (!fs.exists(path) && fs.exists(old)) mustRename(old, path)
      val merged =
        if (fs.exists(path)) {
          val existing = spark.read.parquet(path.toString)
          // allowMissingColumns: survives config evolution (sink_columns
          // changes) and upgrades over older snapshots
          graft.dim.DimRouter.dedupLatest(
            existing.unionByName(batch, allowMissingColumns = true), pk)
        } else batch
      // write-to-temp, park-old, promote, then delete old: at every
      // point a complete snapshot exists on disk (`path`, or `old`+`tmp`
      // after the park), so a crash never loses the dimension — unlike
      // delete-then-rename, whose window between delete and rename had
      // no live copy. The write (which reads `path`) finishes before any
      // rename touches it. A transactional table format (MERGE INTO) is
      // the real fix when available.
      fs.delete(tmp, true)
      merged.write.parquet(tmp.toString)
      fs.delete(old, true)
      if (fs.exists(path)) mustRename(path, old)
      mustRename(tmp, path)
      fs.delete(old, true)
    }

  /** Bucketed table writer — the co-located-join primitive for repeated
    * large-fact joins at 100 TB: both sides bucketed (and sorted) by the
    * join key into the same bucket count join with ZERO shuffle exchanges
    * (BucketedJoinSpec asserts the plan). This is the batch analog of
    * pre-partitioning a Kafka topic by key; use it for fact tables that
    * are joined on the same key by many downstream queries, where one
    * write-time shuffle amortizes across every read. */
  def writeBucketed(df: DataFrame, table: String, path: String,
      bucketCol: String, buckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** K5: console debug sink. */
  def console(df: DataFrame, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream.format("console")
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)

  /** Small-file compaction: rewrite a parquet directory into files
    * sized for scan efficiency. A streaming ingest (CorpusApp, the dws
    * sinks) lands one file per micro-batch per partition — at 100 TB
    * that is millions of KB-size files, and file-open overhead starts
    * to dominate the scan. Target partition count = ceil(input bytes /
    * targetBytes) from the ACTUAL on-disk listing (not a row-count
    * guess — compression ratios vary per column/partition);
    * coalesce(…) when shrinking so the rewrite itself does not shuffle,
    * repartition(…) only when files must grow in number. Fails fast on
    * an input with no parquet files (schema inference would otherwise
    * die with an unrelated-looking error) and on outDir == inDir
    * (mode-overwrite would truncate the input mid-read — Spark only
    * errors at write time). Returns the parquet file count actually
    * written, counted from the output listing. */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, targetBytes: Long = 128L << 20): Int = {
    val inPath = new org.apache.hadoop.fs.Path(inDir)
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = inPath.getFileSystem(conf)
    require(!fs.makeQualified(inPath).equals(
        outPath.getFileSystem(conf).makeQualified(outPath)),
      s"compact: outDir must differ from inDir ($inDir) — an overwrite " +
        "in place would truncate the input while reading it")
    def parquetFiles(p: org.apache.hadoop.fs.Path): (Long, Int) = {
      val it = p.getFileSystem(conf).listFiles(p, true)
      var bytes = 0L; var n = 0
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) { bytes += f.getLen; n += 1 }
      }
      (bytes, n)
    }
    val (bytes, nIn) = parquetFiles(inPath)
    require(nIn > 0, s"compact: no parquet files under $inDir")
    val df = spark.read.parquet(inDir)
    val current = df.rdd.getNumPartitions
    val target = math.max(1, ((bytes + targetBytes - 1) / targetBytes).toInt)
    val out = if (target < current) df.coalesce(target)
      else if (target > current) df.repartition(target)
      else df
    out.write.mode("overwrite").parquet(outDir)
    parquetFiles(outPath)._2
  }
}
