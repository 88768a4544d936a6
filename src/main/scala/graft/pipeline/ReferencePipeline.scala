package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's five cron steps re-expressed as pure, set-oriented Spark
  * queries (SURVEY.md §2, §3). Each query returns "the rows this step would
  * write", so the DuckDB oracle can replay it side-effect-free.
  *
  * The reference executes all of this row-at-a-time with ≥3 network
  * round-trips per row (/root/reference/updatescript.py:60-82); here every
  * per-row `find_one` probe becomes a set-oriented join: day-bucket price
  * probes (updatescript.py:66-67) → broadcast hash join on the day key,
  * `_id` existence probes (updatescript.py:62) → LEFT ANTI join,
  * first-seen-stash probes (updatescript.py:175) → window `row_number`.
  */
object ReferencePipeline {
  import Tables._

  private def wmLit = lit(WM).cast("timestamp")

  /** Step 2 flagship — `update_transaction_data` (updatescript.py:57-108):
    * incremental scan (createdAt > watermark), enrich each transaction with
    * that day's price (broadcast join: the price dim is ~1 row/day/chain even
    * at 100 TB) and the derived CASE-WHEN dollar value (updatescript.py:69-77).
    * Failed transactions are kept with txDollarValue = 0 (quirk Q7).
    * The reference's per-`_id` dedup probe (updatescript.py:62) is an anti
    * join against sink state; first-run state is empty (FIXTURES.md §C), so
    * it is the identity here and the enrichment itself is the query.
    */
  def enrich(t: DataFrame, p: DataFrame): DataFrame =
    t.join(broadcast(p),
        t("chain") === p("chain") && to_date(t("createdAt")) === p("price_date"))
      .select(enrichedCols(t(_), p("price")): _*)

  /** The enriched-tx projection over a joined tx row (`tx` resolves a tx
    * column) and its day's `price`: the seven tx columns, priceUSD, and
    * txDollarValue (Q7: a failed tx is kept with value 0).
    */
  private[graft] def enrichedCols(tx: String => Column, price: Column): Seq[Column] =
    Seq("_id", "createdAt", "stashId", "stake", "alreadyBonded", "successful", "chain")
      .map(tx) ++ Seq(price.as("priceUSD"),
      when(tx("successful"),
        when(tx("stake") === tx("alreadyBonded"), tx("stake") * price)
          .otherwise(abs(tx("stake") - tx("alreadyBonded")) * price))
        .otherwise(lit(0.0)).as("txDollarValue"))

  def txEnrich(spark: SparkSession, sfDir: String): DataFrame =
    enrich(txSince(spark, sfDir, WM), dailyPrice(spark, sfDir))

  val txEnrichSql: String =
    s"""WITH $TX_CTE,
       |$PRICE_CTE
       |SELECT t._id, t.createdAt, t.stashId, t.stake, t.alreadyBonded, t.successful, t.chain,
       |       p.price AS priceUSD,
       |       CASE WHEN t.successful THEN
       |         CASE WHEN t.stake = t.alreadyBonded THEN t.stake * p.price
       |              ELSE abs(t.stake - t.alreadyBonded) * p.price END
       |       ELSE 0.0 END AS txDollarValue
       |FROM tx t JOIN price p
       |  ON t.chain = p.chain AND CAST(t.createdAt AS DATE) = p.price_date
       |WHERE t.createdAt > TIMESTAMP '$WM'""".stripMargin

  /** The flagship enrichment through the SALTED join path
    * ([[graft.ops.Skew.saltedJoin]]) — the fallback for when the dim has
    * outgrown the broadcast threshold but one hot key (a dominant chain)
    * would skew a plain shuffle join: the fact side salts on `_id`, the
    * dim replicates ×factor, and one hot (chain, day) spreads over
    * `factor` tasks. The oracle is tx_enrich's own SQL — the driver's
    * exact-hash compare proves the salted plan changes bytes nowhere,
    * the same proof discipline as `salted_user_volume`.
    */
  def txEnrichSalted(spark: SparkSession, sfDir: String): DataFrame = {
    val t = txSince(spark, sfDir, WM)
      .withColumn("price_date", to_date(col("createdAt")))
    val joined = graft.ops.Skew.saltedJoin(
      t, dailyPrice(spark, sfDir), Seq("chain", "price_date"), "_id", factor = 8)
    joined.select(enrichedCols(col, col("price")): _*)
  }

  /** The daily price dimension itself (the one aggregation the fixture
    * mapping adds — SURVEY.md §2.4). Dates emitted as ISO strings so both
    * engines hash identically.
    */
  def dailyPriceQuery(spark: SparkSession, sfDir: String): DataFrame =
    dailyPrice(spark, sfDir)
      .select(col("chain"), col("price_date").cast("string").as("price_date"), col("price"))

  val dailyPriceSql: String =
    s"""WITH $TX_CTE,
       |$PRICE_CTE
       |SELECT chain, CAST(price_date AS VARCHAR) AS price_date, price FROM price""".stripMargin

  /** Step 1 — `update_coin_prices` (updatescript.py:27-54): generate every
    * calendar day from the watermark to asOf (G1: `sequence` + `explode`,
    * the reference's while-loop date generator), LEFT ANTI join away days
    * already present in the sink (the `find_one` day-bucket dedup,
    * updatescript.py:36-37), then join the remaining gap days to the price
    * source. Returns the rows the backfill would append.
    */
  def priceBackfill(spark: SparkSession, sfDir: String): DataFrame = {
    val chains = spark.range(2).select(col("id").as("chain"))
    val days = chains.crossJoin(
      spark.sql(s"SELECT explode(sequence(to_date('$WM'), to_date('$ASOF_DATE'), interval 1 day)) AS price_date"))
    val p = dailyPrice(spark, sfDir)
    val existing = p.filter(col("price_date") <= to_date(wmLit))
    days.join(existing, Seq("chain", "price_date"), "left_anti")
      .join(p, Seq("chain", "price_date"))
      .select(col("chain"), col("price_date").cast("string").as("price_date"), col("price"))
  }

  val priceBackfillSql: String =
    s"""WITH $TX_CTE,
       |$PRICE_CTE
       |SELECT chain, CAST(price_date AS VARCHAR) AS price_date, price
       |FROM price
       |WHERE price_date > DATE '${WM.take(10)}' AND price_date <= DATE '$ASOF_DATE'""".stripMargin

  /** Rolling 7-day price statistics per chain — the moving-average /
    * volatility view a metrics dashboard layers over the daily price dim
    * (the reference stops at the raw daily rows, updatescript.py:43-52;
    * this is the standard OLAP extension of that table). ROWS-framed
    * window (6 preceding + current), partitioned by chain, so the sort
    * and frame state stay inside each chain's partition — nothing global.
    * The frame input is the already-aggregated daily dim (~1 row/day/
    * chain), so the window's volume is days × chains, never the fact
    * table, at any corpus scale.
    *
    * Volatility is computed from the EXPLICIT sum-of-squares identity
    * (n·Σx² − (Σx)²) / (n·(n−1)) on round-pinned prices rather than
    * `stddev_samp`, so both engines evaluate the identical arithmetic
    * expression — implementation-defined accumulation order inside two
    * engines' native stddev kernels is exactly the hash-parity trap the
    * round-pinning discipline exists to avoid.
    */
  def priceRolling(spark: SparkSession, sfDir: String): DataFrame =
    rollingStats(dailyPrice(spark, sfDir))

  /** The rolling core over any (chain, price_date, price) frame. */
  def rollingStats(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("chain")).orderBy(col("price_date"))
      .rowsBetween(-6, 0)
    daily
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("sum_p", sum(col("price")).over(w))
      .withColumn("sum_p2", sum(round(col("price") * col("price"), 6)).over(w))
      .select(col("chain"), col("price_date").cast("string").as("price_date"),
        col("price"),
        round(col("sum_p") / col("n_win"), 6).as("ma7"),
        // nullif: n_win = 1 has no sample variance — NULL on both engines
        // (Spark's non-ANSI /0 → NULL vs DuckDB's IEEE inf is exactly the
        // parity trap); greatest: the identity can go −ε when variance ≈ 0
        round(
          sqrt(greatest(col("n_win") * col("sum_p2") - col("sum_p") * col("sum_p"), lit(0.0)) /
            nullif(col("n_win") * (col("n_win") - lit(1)), lit(0L))), 6).as("vol7"),
        col("n_win").cast("long").as("n_win"))
  }

  val priceRollingSql: String =
    s"""WITH $TX_CTE,
       |$PRICE_CTE,
       |w AS (
       |  SELECT chain, price_date, price,
       |         count(*) OVER win AS n_win,
       |         sum(price) OVER win AS sum_p,
       |         sum(round(price * price, 6)) OVER win AS sum_p2
       |  FROM price
       |  WINDOW win AS (PARTITION BY chain ORDER BY price_date
       |                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
       |SELECT chain, CAST(price_date AS VARCHAR) AS price_date, price,
       |       round(sum_p / n_win, 6) AS ma7,
       |       round(sqrt(greatest(n_win * sum_p2 - sum_p * sum_p, 0) /
       |                  nullif(n_win * (n_win - 1), 0)), 6) AS vol7,
       |       CAST(n_win AS BIGINT) AS n_win
       |FROM w""".stripMargin

  /** Step 3 — `update_stats` (updatescript.py:111-147): one rolling stats row
    * per chain. AUM (the YieldScan API scalar, modeled per FIXTURES.md §C as
    * the purchase-value sum) × total staked (the `nominatorstats` singleton,
    * modeled as the orders total) → ratio. Singleton × singleton cross join —
    * Spark picks BroadcastNestedLoopJoin on 1-row sides.
    * Sums are round-pinned: at 10^4..10^5 rows the partial-agg reordering
    * noise is ≤1e-5, far inside round(.,4)/round(.,2).
    */
  def statsRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val aum = events(spark, sfDir).filter(col("event_type") === "purchase")
      .groupBy((col("event_id") % 2).as("chain"))
      .agg(round(sum(col("value")), 4).as("totalAmountCurrentlyManaged"))
    val staked = orders(spark, sfDir)
      .groupBy((col("o_orderkey") % 2).as("chain"))
      .agg(round(sum(col("o_totalprice")), 2).as("totalAmountStaked"))
    aum.join(staked, Seq("chain"))
      .select(col("chain"), lit(ASOF_DATE).as("statsDate"),
        col("totalAmountCurrentlyManaged"), col("totalAmountStaked"),
        (col("totalAmountCurrentlyManaged") * 100 / col("totalAmountStaked"))
          .as("percentMarketCaptured"))
  }

  val statsRollupSql: String =
    s"""WITH aum AS (
       |  SELECT event_id % 2 AS chain, round(sum(value), 4) AS totalAmountCurrentlyManaged
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |staked AS (
       |  SELECT o_orderkey % 2 AS chain, round(sum(o_totalprice), 2) AS totalAmountStaked
       |  FROM orders GROUP BY 1)
       |SELECT a.chain, '$ASOF_DATE' AS statsDate, a.totalAmountCurrentlyManaged,
       |       s.totalAmountStaked,
       |       a.totalAmountCurrentlyManaged * 100 / s.totalAmountStaked AS percentMarketCaptured
       |FROM aum a JOIN staked s ON a.chain = s.chain""".stripMargin

  /** Step 4 — `update_last_updated` (updatescript.py:149-152): the advanced
    * watermark. Data-derived (max event time of the processed batch) instead
    * of wall-clock now() for determinism (SURVEY.md §7.5.3).
    */
  def watermarkAdvance(spark: SparkSession, sfDir: String): DataFrame =
    eventsSince(spark, sfDir, WM)
      .agg(max(col("ts")).as("newWatermark"), count(lit(1)).as("batchRows"))
      .select(lit(WM).cast("timestamp").as("prevWatermark"), col("newWatermark"), col("batchRows"))

  val watermarkAdvanceSql: String =
    s"""SELECT TIMESTAMP '$WM' AS prevWatermark, max(ts) AS newWatermark,
       |       count(*) AS batchRows
       |FROM events WHERE ts > TIMESTAMP '$WM'""".stripMargin
}
