package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name substrings to run
    // (local iteration only; the driver always passes two args)
    val only: String => Boolean =
      if (args.length > 2) { val pats = args(2).split(',').toSeq
        name => pats.exists(name.contains)
      } else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_PROFILE=production layers the GraftSession.production()
    // conf block (4096 shuffle partitions + AQE coalesce/skew + RocksDB)
    // over the local master — the partition-count-invariance run.
    val prod = sys.env.get("SPARK_GRAFT_PROFILE").contains("production")
    val builder0 = GraftSession.harness(s"local[$cpus]", cpus)
    val spark =
      (if (prod) GraftSession.withProductionConfs(builder0) else builder0)
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val attempted = SparkEntry.queries.filter(kv => only(kv._1)).keys
      .toSeq.sorted
    // Manifest of every ATTEMPTED query, written BEFORE the loop: a
    // query that throws produces no output directory and would
    // otherwise silently shrink the compare's denominator (the q70
    // ANSI divide-by-zero lesson), and a mid-run driver crash (OOM,
    // kill) must leave the partial run visible as MISSING_OUTPUT rows
    // rather than a smaller denominator.
    Files.writeString(Paths.get(s"$outDir/manifest.txt"),
      attempted.mkString("\n"))
    var failed = 0
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    System.err.println(
      s"[verify] attempted=${attempted.size} failed=$failed")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
