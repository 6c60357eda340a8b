package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal,
  UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Each generated class compiles once per JVM (`GraftSession`'s
  * `withCodegenReuse`): a restarted streaming query, a plan re-run on
  * `spark.newSession()` and a plan re-run after hundreds of other classes
  * compiled compile nothing again. Counts are deltas of Spark's compile
  * counter (one per code-cache miss); ScalaTest runs one suite at a time
  * in the forked test JVM, so nothing else compiles meanwhile. */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def compiles(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Lands `lines` as a new JSON file in `d/in`, then runs `query` once,
    * as an `AvailableNow` drain on the checkpoint `d/ck`, and gives the
    * classes that drain compiled. */
  private def drain(d: JPath, file: String, lines: Seq[String])
      (query: => DataStreamWriter[Row]): Long = {
    Files.write(Files.createDirectories(d.resolve("in")).resolve(file),
      lines.mkString("\n").getBytes)
    compiles {
      val q = query.option("checkpointLocation", d.resolve("ck").toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
  }

  test("a restarted stateless file-to-parquet query compiles nothing") {
    val d = Files.createTempDirectory("codegen_stateless")
    val out = d.resolve("out").toString
    def query = spark.readStream.schema("k STRING, v LONG").json(d.resolve("in").toString)
      .filter(col("v") > 1).select(col("k"), (col("v") * 2).as("v2"))
      .writeStream.format("parquet").option("path", out)
    drain(d, "f1.json", Seq("""{"k":"a","v":1}""", """{"k":"b","v":2}"""))(query)
    assert(drain(d, "f2.json", Seq("""{"k":"c","v":3}"""))(query) == 0)
    assert(spark.read.parquet(out).orderBy("k").collect().toSeq ==
      Seq(Row("b", 4L), Row("c", 6L)))
  }

  test("a restarted watermarked window aggregation recompiles only its watermark's class") {
    val d = Files.createTempDirectory("codegen_window")
    val out = d.resolve("out").toString
    def query = spark.readStream.schema("ts TIMESTAMP, k STRING").json(d.resolve("in").toString)
      .withWatermark("ts", "2 seconds")
      .groupBy(window(col("ts"), "10 seconds"), col("k")).count()
      .select(col("window.start").as("stt"), col("k"), col("count"))
      .writeStream.outputMode("append").format("parquet").option("path", out)
    def line(ts: String, k: String) = s"""{"ts":"2022-04-29T10:00:$ts","k":"$k"}"""
    drain(d, "f1.json", Seq(line("01", "a"), line("03", "b"), line("12", "a")))(query)
    // one watermark-bearing operator: at most its watermark predicate,
    // whose code embeds the new watermark, compiles again
    assert(drain(d, "f2.json", Seq(line("15", "a"), line("25", "b")))(query) <= 1)
    assert(spark.read.parquet(out).orderBy("stt", "k").collect().map(_.toSeq.drop(1)).toSeq ==
      Seq(Seq("a", 1L), Seq("b", 1L), Seq("a", 2L)))
  }

  test("a plan already run compiles nothing on spark.newSession()") {
    def q(s: SparkSession) = s.range(0, 1000, 1, 4)
      .selectExpr("id % 7 AS k", "id * 3 AS v")
      .groupBy("k").agg(sum("v").as("s")).orderBy("k").collect().toSeq
    val first = q(spark)
    var again = Seq.empty[Row]
    assert(compiles { again = q(spark.newSession()) } == 0)
    assert(again == first)
  }

  test("a plan re-run after 300 other classes compiled compiles nothing") {
    def q() = spark.range(0, 100, 1, 2).selectExpr("id * 5 + 1 AS x")
      .agg(sum("x")).head().getLong(0)
    val first = q()
    // each projection inlines its own literal, so each is a new class
    val others = compiles {
      (1 to 320).foreach { i =>
        UnsafeProjection.create(Seq(
          Add(BoundReference(0, LongType, nullable = false), Literal(7_000_000L + i))))
      }
    }
    assert(others >= 300, others)
    var again = 0L
    assert(compiles { again = q() } == 0)
    assert(again == first)
  }
}
