package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.harness("local[4]", "4").appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
