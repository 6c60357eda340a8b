package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew-handling operators for hot keys at 100 TB (SURVEY.md §4 shuffle
  * notes). AQE's skew-join splitting (on in GraftSession) handles most
  * cases at runtime; these explicit forms are for the pathological ones —
  * a single key holding >1 partition of data.
  *
  * All are TRANSPARENT: results equal the unsalted plan (salted
  * aggregation is oracle-checked as q47). Salts are deterministic hashes
  * of carrier columns, never `rand()` — repeatable under retries/replays.
  */
object Skew {

  /** Rows per salt cell before a blocked self-join splits a block.
    * Bounded blocks (sf-corpus name blocks of ~100, LSH band buckets)
    * stay whole (kb = 1, pair set and plan unchanged); a hot block of B
    * rows splits into kb = ⌈B/256⌉ cells, so its B²/2 pair enumeration
    * spreads over kb partitions instead of serializing in one task
    * (guide §2.5). */
  private val SubBlockTarget = 256

  /** Salt cells of each row's block: kb = ⌈|block|/SubBlockTarget⌉, one
    * window count over the block key. Add it as column `kb` before
    * [[blockSaltedSides]]. */
  def blockCells(keys: Column*): Column =
    ceil(count(lit(1)).over(Window.partitionBy(keys: _*))
      / lit(SubBlockTarget)).cast("int")

  /** Salted sides for a blocked self-join (guide §2.5); `probe` and
    * `build` carry the block `keys` and their [[blockCells]] as `kb`.
    *
    * The probe side takes a deterministic salt in [0, kb) from
    * `saltFrom` (never rand() — re-run tasks must re-derive the same
    * cell, SPARK-38388), the build side is replicated to every salt, so
    * each pair meets in EXACTLY the probe row's cell: join on keys +
    * `salt`. Both sides are explicitly repartitioned on (keys, salt) at
    * core-count width: user-specified counts are exempt from AQE's
    * byte-based coalescing, which otherwise collapses a CPU-quadratic,
    * byte-tiny match stage to one task (measured r15: 740k banded-DP
    * calls single-task behind a sub-MB exchange); (keys, salt)-keyed so
    * the join reuses the pin AND a hot block's cells land on kb
    * different tasks. */
  def blockSaltedSides(probe: DataFrame, build: DataFrame, keys: Seq[String],
      saltFrom: Column): (DataFrame, DataFrame) = {
    val p = probe.sparkSession.sparkContext.defaultParallelism
    val by = (keys :+ "salt").map(col)
    (probe.withColumn("salt", pmod(xxhash64(saltFrom), col("kb")).cast("int"))
      .repartition(p, by: _*),
     build.withColumn("salt", explode(sequence(lit(0), col("kb") - lit(1))))
      .repartition(p, by: _*))
  }

  /** Two-phase salted aggregation: partial-aggregate on (keys, salt),
    * then final-aggregate on keys. Only associative aggregates may pass
    * through (sums/counts/min/max). `aggs` maps output name → (partial
    * agg of the input column, final agg of the partial column). */
  def saltedSumCount(df: DataFrame, keys: Seq[String], sumCols: Seq[(String, Column)],
      saltFrom: Column, salts: Int = 16): DataFrame = {
    val salted = df.withColumn("_salt", pmod(hash(saltFrom), lit(salts)))
    val partialAggs = sumCols.map { case (name, c) => sum(c).as(name) } :+
      count(lit(1)).as("_cnt")
    val partial = salted.groupBy((keys :+ "_salt").map(col): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
    val finalAggs = sumCols.map { case (name, _) => sum(col(name)).as(name) } :+
      sum(col("_cnt")).as("row_count")
    partial.groupBy(keys.map(col): _*).agg(finalAggs.head, finalAggs.tail: _*)
  }

  /** Salted broadcast-free join for a skewed fact key: the dim side is
    * exploded `salts`× (one copy per salt), the fact side gets a
    * deterministic salt — so one hot key spreads over `salts` reducers.
    * Use when the dim is too big to broadcast AND the fact key is hot. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltFrom: Column, salts: Int = 16): DataFrame = {
    val saltedFact = fact.withColumn("_salt", pmod(hash(saltFrom), lit(salts)))
    val saltedDim = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(saltedDim, Seq(key, "_salt")).drop("_salt")
  }
}
