package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-handling utilities. AQE's skew-join splitting (default-on) covers
  * sort-merge joins at runtime; these cover the cases AQE doesn't: hot-key
  * aggregation fan-in and broadcast-infeasible skewed joins.
  */
object Skew {

  /** Two-phase salted aggregation for hot keys: phase 1 aggregates on
    * (key, salt) — spreading a hot key over `buckets` reducers — phase 2
    * combines the partials. Works for any algebraic aggregate; exposed for
    * count+sum, the metrics-pipeline pair. The salt is derived
    * deterministically from `saltSource` (any column with per-row spread,
    * e.g. the row id).
    */
  def saltedSumCount(df: DataFrame, key: Seq[String], valueCol: String,
      saltSource: String, buckets: Int): DataFrame = {
    val salted = df.withColumn("_salt", pmod(xxhash64(col(saltSource)), lit(buckets)))
    salted.groupBy((key.map(col) :+ col("_salt")): _*)
      .agg(count(lit(1)).as("_n"), sum(col(valueCol)).as("_s"))
      .groupBy(key.map(col): _*)
      .agg(sum(col("_n")).as("n"), sum(col("_s")).as("total"))
  }

  /** Salted join for a skewed large side against a small-but-not-broadcast
    * side: the large side gets a deterministic salt in [0, factor); the
    * small side is replicated `factor` times; the join key becomes
    * (key, salt), so one hot key spreads over `factor` tasks. Result is
    * row-identical to the unsalted join.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: Seq[String],
      saltSource: String, factor: Int): DataFrame = {
    val spark = large.sparkSession
    val salts = spark.range(factor).select(col("id").cast("int").as("_salt"))
    val saltedLarge = large.withColumn("_salt",
      pmod(xxhash64(col(saltSource)), lit(factor)).cast("int"))
    val replicatedSmall = small.crossJoin(salts)
    saltedLarge.join(replicatedSmall, key :+ "_salt").drop("_salt")
  }
}
