package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Step 5 — `update_nominations_updated_data` (updatescript.py:154-218):
  * route successful new transactions into per-metric sinks, each with its own
  * derived `volume` column. One shared incremental scan, three filtered
  * projections (SURVEY.md §3.4) — never three scans.
  *
  * Behavioral contract preserved from the reference (SURVEY.md §2.12):
  *  - Q1: on kusama the `stake > alreadyBonded` branch routes into the
  *    *nominations* sink (updatescript.py:201-204), not a separate
  *    amount-staked sink as on polkadot (updatescript.py:169-172). Encoded
  *    explicitly in [[kusamaNominations]] rather than bug-ported silently.
  *  - Q2: each sink's `volume` is derived independently from its own branch
  *    (the reference mutates one aliased dict in branch order; the final
  *    per-sink values are what we replicate).
  *  - Q7: failed transactions are dropped entirely here (updatescript.py:158),
  *    unlike step 2 which keeps them with value 0.
  *
  * The AUM sink's "is this stash already known?" probe (updatescript.py:175)
  * is sequential state: a row sees every row *previously inserted*. Set
  * re-derivation: per (chain, stashId) in (createdAt, _id) order, the first
  * successful row is always inserted with volume = stake (it finds no prior
  * row, both branches insert); later rows are inserted iff stake ≠ bonded,
  * with volume = stake - alreadyBonded (sign preserved — the reference does
  * not abs() here, updatescript.py:178). Window `row_number` — one shuffle on
  * (chain, stashId), which is the minimum any stateful first-seen needs.
  */
object Routing {
  import Tables._

  /** Successful transactions after the watermark — the shared scan, with
    * the watermark predicate pushed to parquet (Tables.eventsSince).
    */
  private def batch(spark: SparkSession, sfDir: String): DataFrame =
    txSince(spark, sfDir, WM).filter(col("successful"))

  private val passthrough = Seq("_id", "createdAt", "stashId", "stake",
    "alreadyBonded", "successful", "chain").map(col)

  // ---- DataFrame-level cores (library surface; unit-testable on any
  // ---- frame with the tx schema of successful-only rows) ----

  /** Equal-stake rows → volume = stake (updatescript.py:164-167). */
  def nominationsRows(batch: DataFrame): DataFrame =
    batch.filter(col("stake") === col("alreadyBonded"))
      .select(passthrough :+ col("stake").as("volume"): _*)

  /** Increased-stake rows → volume = delta (updatescript.py:169-172). */
  def amountStakedRows(batch: DataFrame): DataFrame =
    batch.filter(col("stake") > col("alreadyBonded"))
      .select(passthrough :+ (col("stake") - col("alreadyBonded")).as("volume"): _*)

  /** Q1 merged kusama routing: both branches, branch-specific volume. */
  def kusamaNominationsRows(batch: DataFrame): DataFrame =
    batch.filter(col("stake") >= col("alreadyBonded"))
      .select(passthrough :+
        when(col("stake") === col("alreadyBonded"), col("stake"))
          .otherwise(col("stake") - col("alreadyBonded")).as("volume"): _*)

  /** First-seen AUM semantics (see object doc). `priorStashes` is the
    * cross-run state — stashIds already present in the AUM sink from
    * earlier runs (updatescript.py:175 probes the sink, which spans runs);
    * rows of known stashes never get rn=1 treatment.
    */
  def aumRows(batch: DataFrame, priorStashes: Option[DataFrame]): DataFrame = {
    val w = Window.partitionBy(col("chain"), col("stashId"))
      .orderBy(col("createdAt"), col("_id"))
    val numbered = batch.withColumn("rn", row_number().over(w))
    val withState = priorStashes match {
      case None => numbered.withColumn("known", lit(false))
      case Some(st) => numbered.join(
          st.select(col("chain"), col("stashId"), lit(true).as("known")),
          Seq("chain", "stashId"), "left")
        .withColumn("known", coalesce(col("known"), lit(false)))
    }
    withState
      .withColumn("isFirst", col("rn") === 1 && !col("known"))
      .filter(col("isFirst") || col("stake") =!= col("alreadyBonded"))
      .select(passthrough :+
        when(col("isFirst"), col("stake"))
          .otherwise(col("stake") - col("alreadyBonded")).as("volume"): _*)
  }

  private val BATCH_CTE: String =
    s"""batch AS (
       |  SELECT * FROM tx WHERE createdAt > TIMESTAMP '$WM' AND successful)""".stripMargin

  /** Polkadot nominations-updated sink (updatescript.py:164-167). */
  def polkadotNominations(spark: SparkSession, sfDir: String): DataFrame =
    nominationsRows(batch(spark, sfDir).filter(col("chain") === 0))

  val polkadotNominationsSql: String =
    s"""WITH $TX_CTE,
       |$BATCH_CTE
       |SELECT _id, createdAt, stashId, stake, alreadyBonded, successful, chain,
       |       stake AS volume
       |FROM batch WHERE chain = 0 AND stake = alreadyBonded""".stripMargin

  /** Polkadot amount-staked sink (updatescript.py:169-172). */
  def polkadotAmountStaked(spark: SparkSession, sfDir: String): DataFrame =
    amountStakedRows(batch(spark, sfDir).filter(col("chain") === 0))

  val polkadotAmountStakedSql: String =
    s"""WITH $TX_CTE,
       |$BATCH_CTE
       |SELECT _id, createdAt, stashId, stake, alreadyBonded, successful, chain,
       |       stake - alreadyBonded AS volume
       |FROM batch WHERE chain = 0 AND stake > alreadyBonded""".stripMargin

  /** Kusama nominations sink — receives BOTH the equal-stake and the
    * increased-stake branches (quirk Q1, updatescript.py:196-204), with the
    * branch-specific volume.
    */
  def kusamaNominations(spark: SparkSession, sfDir: String): DataFrame =
    kusamaNominationsRows(batch(spark, sfDir).filter(col("chain") === 1))

  val kusamaNominationsSql: String =
    s"""WITH $TX_CTE,
       |$BATCH_CTE
       |SELECT _id, createdAt, stashId, stake, alreadyBonded, successful, chain,
       |       CASE WHEN stake = alreadyBonded THEN stake ELSE stake - alreadyBonded END AS volume
       |FROM batch WHERE chain = 1 AND stake >= alreadyBonded""".stripMargin

  /** AUM sink, both chains (updatescript.py:174-186, 206-218): first row per
    * (chain, stashId) always lands with volume = stake; later rows land only
    * when stake ≠ alreadyBonded, with the signed delta.
    */
  def aum(spark: SparkSession, sfDir: String): DataFrame =
    aumRows(batch(spark, sfDir), None)

  val aumSql: String =
    s"""WITH $TX_CTE,
       |$BATCH_CTE,
       |numbered AS (
       |  SELECT *, row_number() OVER (PARTITION BY chain, stashId
       |                               ORDER BY createdAt, _id) AS rn
       |  FROM batch)
       |SELECT _id, createdAt, stashId, stake, alreadyBonded, successful, chain,
       |       CASE WHEN rn = 1 THEN stake ELSE stake - alreadyBonded END AS volume
       |FROM numbered WHERE rn = 1 OR stake <> alreadyBonded""".stripMargin

  /** Standalone W1 operator (SURVEY.md §2.5): the first event ever seen per
    * (chain, stashId) across full history — the reference's implicit
    * first-seen semantics as an explicit ranking query.
    */
  def firstSeenStash(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("chain"), col("stashId"))
      .orderBy(col("createdAt"), col("_id"))
    tx(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("chain"), col("stashId"), col("_id"),
        col("createdAt").as("firstSeenAt"), col("stake").as("firstStake"))
  }

  val firstSeenStashSql: String =
    s"""WITH $TX_CTE,
       |numbered AS (
       |  SELECT *, row_number() OVER (PARTITION BY chain, stashId
       |                               ORDER BY createdAt, _id) AS rn
       |  FROM tx)
       |SELECT chain, stashId, _id, createdAt AS firstSeenAt, stake AS firstStake
       |FROM numbered WHERE rn = 1""".stripMargin
}
