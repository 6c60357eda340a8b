package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}

/** Shows that [[Timed.compute]] evaluates every result column: a frame
  * whose projection throws must fail under it, while `count()` on the same
  * frame succeeds because the throwing column is pruned. Exits nonzero
  * when either half does not hold. */
object TimedActionCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val boom = udf((x: Long) => { if (x >= 0) throw new IllegalStateException("boom"); x })
    val df = spark.range(10).withColumn("boom", boom(col("id")))
    val counted = df.count()
    def fromUdf(e: Throwable): Boolean =
      e != null && (String.valueOf(e.getMessage).contains("boom") || fromUdf(e.getCause))
    val computed =
      try { Timed.compute(df); "returned" }
      catch { case e: Throwable if fromUdf(e) => "threw" }
    spark.stop()
    println(s"count=$counted compute=$computed")
    if (counted != 10 || computed != "threw") sys.exit(1)
  }
}
