package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Tables

/** General relational operators over the TPC-H-ish tables: the partial-agg
  * (map-side combine) and broadcast-join/top-k shapes every metrics pipeline
  * at scale is built from.
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: hash aggregate with map-side partial
    * aggregation over the fact table; only the 6 referenced columns are read
    * (column pruning to the parquet scan). `sum(l_quantity)` is a sum of
    * integer-valued doubles — exact in any order; the non-integral money sums
    * are round-pinned against partial-agg reordering (noise ≤1e-4 at 10^5
    * rows vs round(.,2)).
    */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        count(lit(1)).as("count_order"))

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       sum(l_quantity) AS sum_qty,
      |       round(sum(l_extendedprice), 2) AS sum_base_price,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |       round(avg(l_quantity), 6) AS avg_qty,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 shape — the shipping-priority query: the unshipped-revenue
    * top-10 over a three-way customer ⋈ orders ⋈ lineitem join. The plan
    * this wants at scale: segment-filtered customer keys BROADCAST into
    * orders, the orders survivors shuffle-join lineitem on the order key
    * (both sides big → partial agg before TakeOrderedAndProject, never a
    * global sort).
    *
    * Revenue parity across engines: Σ price·(1−disc) over doubles is
    * accumulation-order-dependent, so both engines sum EXACT integers
    * instead — cents × (100 − disc_cents), recovered per row via
    * round(x·100) (the data is cent-precise; the products are < 2⁶³ by
    * ~10 orders) — and divide once at the end. Bit-identical at any
    * partition layout, the same discipline as `event_anomaly`.
    */
  val Q3_SEGMENT = "BUILDING"
  val Q3_CUT = "1998-01-01"

  def q3Shipping(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === Q3_SEGMENT)
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < lit(Q3_CUT).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > lit(Q3_CUT).cast("timestamp"))
      .select(col("l_orderkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_u"))
    val agg = ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev_u")).as("rev_sum"))
    agg.orderBy(col("rev_sum").desc, col("o_orderkey")).limit(10)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"),
        round(col("rev_sum").cast("double") / 10000.0, 6).as("revenue"))
  }

  val q3ShippingSql: String =
    s"""WITH agg AS (
       |  SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
       |         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
       |                   * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS rev_sum
       |  FROM customer c
       |  JOIN orders o ON o.o_custkey = c.c_custkey
       |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |  WHERE c.c_mktsegment = '$Q3_SEGMENT'
       |    AND o.o_orderdate < TIMESTAMP '$Q3_CUT 00:00:00'
       |    AND l.l_shipdate > TIMESTAMP '$Q3_CUT 00:00:00'
       |  GROUP BY 1, 2, 3)
       |SELECT o_orderkey, o_orderdate, o_orderpriority,
       |       round(CAST(rev_sum AS DOUBLE) / 10000.0, 6) AS revenue
       |FROM agg ORDER BY rev_sum DESC, o_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5 shape — local-supplier volume per nation inside one region
    * and order-date year: the full snowflake chain region → nation →
    * supplier joined with customer → orders → lineitem, plus the
    * "local" constraint c_nationkey = s_nationkey. The dimension arm
    * (region ∪ nation ∪ supplier) is joined FIRST and broadcast — it
    * stays dim-sized at any corpus scale — while orders⋈customer and
    * the lineitem probe shuffle on their keys under AQE. Revenue uses
    * the same exact integer cent-sums as [[q3Shipping]]. Together with
    * Q1/Q3/Q14 this closes the loop on every table in the test star
    * schema.
    */
  val Q5_REGION = "ASIA"
  val Q5_FROM = "1998-01-01"
  val Q5_UNTIL = "1999-01-01"

  def q5RegionVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val dims = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
        .join(broadcast(Tables.region(spark, sfDir)
          .filter(col("r_name") === Q5_REGION)),
          col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey").as("sup_nk"), col("n_name"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(Q5_FROM).cast("timestamp") &&
        col("o_orderdate") < lit(Q5_UNTIL).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_u"))
    ord.join(cust, col("o_custkey") === col("c_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(dims),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("sup_nk"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_u")).as("rev_sum"))
      .select(col("n_name"),
        round(col("rev_sum").cast("double") / 10000.0, 6).as("revenue"))
  }

  val q5RegionVolumeSql: String =
    s"""SELECT n.n_name,
       |       round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
       |                       * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS DOUBLE)
       |             / 10000.0, 6) AS revenue
       |FROM customer c
       |JOIN orders o ON o.o_custkey = c.c_custkey
       |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
       |JOIN nation n ON s.s_nationkey = n.n_nationkey
       |JOIN region r ON n.n_regionkey = r.r_regionkey
       |WHERE r.r_name = '$Q5_REGION'
       |  AND o.o_orderdate >= TIMESTAMP '$Q5_FROM 00:00:00'
       |  AND o.o_orderdate < TIMESTAMP '$Q5_UNTIL 00:00:00'
       |GROUP BY 1""".stripMargin

  /** TPC-H Q14 shape — promotion revenue share for one ship month:
    * lineitem ⋈ part with a conditional aggregate splitting PROMO-type
    * revenue from the total. The part side is a dimension (broadcast);
    * the promo/total split is one conditional sum in the same partial
    * agg — no second scan. Integer cent-sums as in [[q3Shipping]]; the
    * share is computed once from the two exact integers.
    */
  val Q14_FROM = "1998-06-01"
  val Q14_UNTIL = "1998-07-01"

  def q14Promo(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(Q14_FROM).cast("timestamp") &&
        col("l_shipdate") < lit(Q14_UNTIL).cast("timestamp"))
      .select(col("l_partkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_u"))
    li.join(broadcast(Tables.part(spark, sfDir).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev_u")).otherwise(lit(0L))).as("promo_u"),
        sum(col("rev_u")).as("total_u"))
      .select(
        round(col("promo_u").cast("double") / 10000.0, 6).as("promo_revenue"),
        round(col("total_u").cast("double") / 10000.0, 6).as("total_revenue"),
        round(lit(100.0) * col("promo_u").cast("double") /
          col("total_u").cast("double"), 6).as("promo_share"))
  }

  val q14PromoSql: String =
    s"""WITH s AS (
       |  SELECT
       |    CAST(sum(CASE WHEN p.p_type = 'PROMO'
       |             THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
       |                  * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
       |             ELSE 0 END) AS BIGINT) AS promo_u,
       |    CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
       |             * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS total_u
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  WHERE l.l_shipdate >= TIMESTAMP '$Q14_FROM 00:00:00'
       |    AND l.l_shipdate < TIMESTAMP '$Q14_UNTIL 00:00:00')
       |SELECT round(CAST(promo_u AS DOUBLE) / 10000.0, 6) AS promo_revenue,
       |       round(CAST(total_u AS DOUBLE) / 10000.0, 6) AS total_revenue,
       |       round(100.0 * CAST(promo_u AS DOUBLE) / CAST(total_u AS DOUBLE), 6) AS promo_share
       |FROM s""".stripMargin

  /** Top 10 customers by total order value: shuffle-agg on the fact side,
    * broadcast join to the small customer dim, then `orderBy().limit(10)` —
    * Spark compiles that to TakeOrderedAndProject (per-partition heaps, no
    * global sort/shuffle), which is the top-k that survives 100 TB; a global
    * rank window would funnel everything through one partition. The rank
    * column is added after the limit, over 10 rows. Rounding before ranking
    * keeps the order identical across engines; custkey breaks ties.
    */
  def topCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val spend = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("total_spend"),
        count(lit(1)).as("n_orders"))
    val top = spend
      .join(broadcast(Tables.customer(spark, sfDir)),
        col("o_custkey") === col("c_custkey"))
      .orderBy(col("total_spend").desc, col("c_custkey"))
      .limit(10)
    top.withColumn("rnk", row_number().over(
        Window.orderBy(col("total_spend").desc, col("c_custkey"))))
      .select(col("c_custkey"), col("c_name"), col("total_spend"),
        col("n_orders"), col("rnk"))
  }

  /** Sessionization: split each user's event stream into sessions at
    * >30-minute gaps — `lag` to find the gap, a running `sum` over the
    * session-start flags to number sessions, then two aggregations. The
    * classic lag + cumulative-sum window stack; shuffles once on user_id
    * and reuses that partitioning for both windows.
    */
  /** The 30-minute session gap, in microseconds — THE sessionization
    * contract; every session-derived operator shares [[sessionized]] so
    * the rule lives in exactly one place.
    */
  val SESSION_GAP_US: Long = 1800L * 1000000L

  /** (user_id, ts, event_id, us, session_id) — the shared sessionizer:
    * `lag` finds the gap, a running sum over the start flags numbers the
    * sessions. Shuffles once on user_id; both windows reuse that
    * partitioning.
    */
  private[graft] def sessionized(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > SESSION_GAP_US, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  def userSessions(spark: SparkSession, sfDir: String): DataFrame = {
    sessionized(Tables.events(spark, sfDir))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("session_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("session_events")).as("n_events"),
        max(col("session_events")).as("max_session_events"))
  }

  val userSessionsSql: String =
    """WITH numbered AS (
      |  SELECT user_id, ts, event_id,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM numbered),
      |sessions AS (
      |  SELECT user_id, event_id,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged),
      |per_session AS (
      |  SELECT user_id, session_id, count(*) AS session_events
      |  FROM sessions GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_sessions, CAST(sum(session_events) AS BIGINT) AS n_events,
      |       max(session_events) AS max_session_events
      |FROM per_session GROUP BY 1""".stripMargin

  /** Event-type transition matrix — the Markov/path-analysis shape the
    * funnel (fixed target sequence) and retention (day cohorts) queries
    * don't cover: which step actually FOLLOWS which, over every user's
    * event stream. One lag window partitioned by user (the same single
    * user_id shuffle the sessionizer pays, deterministic (ts, event_id)
    * order), then one hash aggregation to (prev, cur) counts — at most
    * |event_types|² rows — with the transition probability a rounded
    * ratio of exact integer counts against the broadcast per-prev
    * totals. First events of a user have no predecessor and are
    * excluded (the matrix describes transitions, not starts).
    */
  def eventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    transitionMatrix(
      Tables.events(spark, sfDir)
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_type").isNotNull)
        .select(col("prev_type"), col("event_type").as("cur_type")))
  }

  /** The matrix rollup over raw (prev_type, cur_type) pairs — shared by
    * the batch lag window above and the streaming replay's sink
    * ([[graft.streaming.StreamingPipeline.eventTransitionsReplay]]), so
    * both rank on identical arithmetic.
    */
  def transitionMatrix(transitions: DataFrame): DataFrame = {
    val pairs = transitions
      .groupBy(col("prev_type"), col("cur_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("prev_type")).agg(sum(col("n")).as("n_from"))
    pairs.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("cur_type"), col("n"),
        round(col("n").cast("double") / col("n_from").cast("double"), 6).as("p"))
  }

  val eventTransitionsSql: String =
    """WITH pairs AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
      |         event_type AS cur_type
      |  FROM events),
      |cnt AS (
      |  SELECT prev_type, cur_type, CAST(count(*) AS BIGINT) AS n
      |  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (
      |  SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from FROM cnt GROUP BY 1)
      |SELECT c.prev_type, c.cur_type, c.n,
      |       round(CAST(c.n AS DOUBLE) / CAST(t.n_from AS DOUBLE), 6) AS p
      |FROM cnt c JOIN tot t ON c.prev_type = t.prev_type""".stripMargin

  /** Multi-level aggregation: ROLLUP over (chain, event_type) — partial
    * aggregation handles each grouping set in one pass. Null grouping keys
    * are coalesced to 'ALL' so both engines emit identical strings.
    */
  def aggRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select((col("event_id") % 2).as("chain"), col("event_type"),
        col("value").as("stake"))
      .rollup(col("chain"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("stake")), 4).as("total_stake"))
      .select(
        coalesce(col("chain").cast("string"), lit("ALL")).as("chain"),
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("n"), col("total_stake"))

  val aggRollupSql: String =
    """SELECT coalesce(CAST(event_id % 2 AS VARCHAR), 'ALL') AS chain,
      |       coalesce(event_type, 'ALL') AS event_type,
      |       count(*) AS n, round(sum(value), 4) AS total_stake
      |FROM events
      |GROUP BY ROLLUP (event_id % 2, event_type)""".stripMargin

  /** CUBE over (chain, event_type): all four grouping sets in one pass —
    * the full cross-dimensional rollup a metrics dashboard reads. Same
    * partial-agg-friendly shape as ROLLUP; grouping-set expansion happens
    * before the shuffle, so one aggregation serves every slice.
    */
  def aggCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select((col("event_id") % 2).as("chain"), col("event_type"),
        col("value").as("stake"))
      .cube(col("chain"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("stake")), 4).as("total_stake"))
      .select(
        coalesce(col("chain").cast("string"), lit("ALL")).as("chain"),
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("n"), col("total_stake"))

  val aggCubeSql: String =
    """SELECT coalesce(CAST(event_id % 2 AS VARCHAR), 'ALL') AS chain,
      |       coalesce(event_type, 'ALL') AS event_type,
      |       count(*) AS n, round(sum(value), 4) AS total_stake
      |FROM events
      |GROUP BY CUBE (event_id % 2, event_type)""".stripMargin

  /** Set operations: users who purchased but never errored —
    * EXCEPT (distinct) over two filtered projections of the same scan.
    */
  def purchasersNoError(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_type") === "purchase").select(col("user_id"))
      .except(ev.filter(col("event_type") === "error").select(col("user_id")))
  }

  val purchasersNoErrorSql: String =
    """SELECT user_id FROM events WHERE event_type = 'purchase'
      |EXCEPT
      |SELECT user_id FROM events WHERE event_type = 'error'""".stripMargin

  /** Exact interpolated percentiles per event_type — Spark `percentile`
    * and DuckDB `quantile_cont` share the type-7 definition (interpolate
    * at rank (n−1)·p over the sorted values), so the results agree
    * bit-for-bit under the usual round-pin. Exact percentile is a
    * sort-based aggregate; at 100 TB the same query shape swaps in
    * `approx_percentile` (t-digest) with no plan change.
    */
  def eventQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 6).as("median_value"),
        round(expr("percentile(value, 0.95)"), 6).as("p95_value"))

  val eventQuantilesSql: String =
    """SELECT event_type, count(*) AS n,
      |       round(quantile_cont(value, 0.5), 6) AS median_value,
      |       round(quantile_cont(value, 0.95), 6) AS p95_value
      |FROM events GROUP BY 1""".stripMargin

  /** Top-k per group (vs [[topCustomers]]' global top-k): rank inside each
    * (chain) partition and keep the 3 highest-volume users. The window
    * shuffles once on the group key; per-group state is a running rank,
    * never a global sort. Sums are round-pinned, ranking is on the pinned
    * value with an id tie-break — both engines rank identically.
    */
  def topUsersPerChain(spark: SparkSession, sfDir: String): DataFrame = {
    val volume = Tables.events(spark, sfDir)
      .groupBy((col("event_id") % 2).as("chain"), col("user_id"))
      .agg(round(sum(col("value")), 4).as("volume"))
    val w = Window.partitionBy(col("chain")).orderBy(col("volume").desc, col("user_id"))
    volume.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("chain"), col("user_id"), col("volume"), col("rnk"))
  }

  val topUsersPerChainSql: String =
    """WITH volume AS (
      |  SELECT event_id % 2 AS chain, user_id, round(sum(value), 4) AS volume
      |  FROM events GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY chain
      |                               ORDER BY volume DESC, user_id) AS rnk
      |  FROM volume)
      |SELECT chain, user_id, volume, rnk FROM ranked WHERE rnk <= 3""".stripMargin

  /** Hot-key aggregation through the two-phase salted path — the oracle is
    * the PLAIN group-by (salting is result-identical by construction), so
    * the driver's exact-hash compare proves the skew mitigation changes
    * bytes nowhere.
    */
  def saltedUserVolume(spark: SparkSession, sfDir: String): DataFrame =
    Skew.saltedSumCount(Tables.events(spark, sfDir),
        Seq("user_id"), "value", "event_id", buckets = 16)
      .select(col("user_id"), col("n"), round(col("total"), 4).as("total"))

  val saltedUserVolumeSql: String =
    """SELECT user_id, count(*) AS n, round(sum(value), 4) AS total
      |FROM events GROUP BY 1""".stripMargin

  /** Distribution-position windows: per-chain user-volume quartiles
    * (`ntile`) and percentile position (`percent_rank`) — the cohorting
    * view behind "top-quartile users" features. Both windows share one
    * (chain)-partitioned sort over the AGGREGATED per-user volumes —
    * users per chain, not events — and ranking is on the round-pinned
    * volume with a user_id tie-break so both engines order identically.
    * ntile/percent_rank are rank arithmetic (no float accumulation);
    * percent_rank is re-rounded because (rank−1)/(n−1) is a division.
    */
  def userValueQuartiles(spark: SparkSession, sfDir: String): DataFrame = {
    val volume = Tables.events(spark, sfDir)
      .groupBy((col("event_id") % 2).as("chain"), col("user_id"))
      .agg(round(sum(col("value")), 4).as("volume"))
    val w = Window.partitionBy(col("chain")).orderBy(col("volume"), col("user_id"))
    volume
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .select(col("chain"), col("user_id"), col("volume"),
        col("quartile"), col("pct_rank"))
  }

  val userValueQuartilesSql: String =
    """WITH volume AS (
      |  SELECT event_id % 2 AS chain, user_id, round(sum(value), 4) AS volume
      |  FROM events GROUP BY 1, 2)
      |SELECT chain, user_id, volume,
      |       ntile(4) OVER w AS quartile,
      |       round(percent_rank() OVER w, 6) AS pct_rank
      |FROM volume
      |WINDOW w AS (PARTITION BY chain ORDER BY volume, user_id)""".stripMargin

  /** Approximate sketch aggregates — the shapes that replace their exact
    * twins at 100 TB: HyperLogLog++ distinct counts (fixed-size sketch,
    * mergeable map-side) and t-digest/GK percentiles (no global sort).
    * Sketch VALUES differ across engines by design, so the gate is
    * BANDED: each engine computes its own sketch AND its own exact
    * value in the same aggregation, and the gated output carries the
    * exact values (hash-compared cross-engine) plus per-metric
    * within-published-bounds booleans — each engine attests its sketch
    * lands inside the error bound its implementation publishes, and the
    * driver exact-compares the attestations. Bands: distinct count
    * within 3σ of Spark's default HLL++ rsd (3·5% = 15%; DuckDB's HLL
    * error is far tighter); median between the exact 0.49/0.51
    * quantiles (±1% rank — two orders looser than Spark's guaranteed
    * 1/accuracy = 0.01% rank error, comfortably covering DuckDB's
    * t-digest, while still catching any off-by-distribution bug). This
    * retires the suite's one rows-only check without pretending
    * sketches hash-match (round-11 worklist #7).
    */
  def approxStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy((col("event_id") % 2).as("chain"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        round(expr("approx_percentile(value, 0.5, 10000)"), 6).as("approx_median"),
        expr("percentile(value, array(0.49D, 0.51D))").as("qb"))
      .select(col("chain"), col("n"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users"))
          <= lit(0.15) * col("exact_users")).as("users_in_band"),
        (col("approx_median") >= element_at(col("qb"), 1)
          && col("approx_median") <= element_at(col("qb"), 2)).as("median_in_band"))

  val approxStatsSql: String =
    """SELECT event_id % 2 AS chain,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      |       abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
      |         <= 0.15 * count(DISTINCT user_id) AS users_in_band,
      |       approx_quantile(value, 0.5)
      |         BETWEEN quantile_cont(value, 0.49) AND quantile_cont(value, 0.51)
      |         AS median_in_band
      |FROM events GROUP BY 1""".stripMargin

  /** F8 (SURVEY.md §2.8): structured JSON parsing — `from_json` with a
    * declared schema (not regex), then typed aggregation over the extracted
    * field. The parse happens once per row inside codegen; only `props` and
    * `value` are read from the scan.
    */
  def propsParse(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
        .getField("k").as("k"), col("value"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n_events"), round(avg(col("value")), 6).as("avg_value"))

  val propsParseSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
      |       count(*) AS n_events, round(avg(value), 6) AS avg_value
      |FROM events GROUP BY 1""".stripMargin

  val topCustomersSql: String =
    """WITH spend AS (
      |  SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend,
      |         count(*) AS n_orders
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT c.c_custkey, c.c_name, s.total_spend, s.n_orders,
      |         row_number() OVER (ORDER BY s.total_spend DESC, c.c_custkey) AS rnk
      |  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey)
      |SELECT c_custkey, c_name, total_spend, n_orders, rnk
      |FROM ranked WHERE rnk <= 10""".stripMargin

  /** Ordered funnel steps for [[eventFunnel]] and the max step-to-step
    * delay (6 h, in µs) — without a window a month-long dense fixture
    * converts every user at every stage.
    */
  val FUNNEL_STEPS: Seq[String] = Seq("signup", "view", "purchase")
  val FUNNEL_GAP_US: Long = 6L * 3600L * 1000000L

  /** Windowed funnel analysis: per user, the earliest step-1 event, then
    * the earliest step-2 event strictly after it WITHIN the gap window,
    * then step-3 likewise — the sequential-min formulation (one
    * aggregation + one join per step; each stage's frame is one row per
    * surviving user, so the joins shrink monotonically). All time
    * comparisons run in microsecond space, the engines' shared precision
    * floor. Emits per-stage user counts and conversion vs stage 1.
    */
  def eventFunnel(spark: SparkSession, sfDir: String): DataFrame =
    funnel(Tables.events(spark, sfDir))

  /** The funnel core over any (user_id, event_type, ts) frame. */
  def funnel(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val stages = FUNNEL_STEPS.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, _)) =>
        val hits = ev.filter(col("event_type") === step)
        val gated = prev match {
          case None => hits
          case Some(p) => hits.join(p.select(col("user_id"), col("t").as("prev_t")),
            Seq("user_id"))
            .filter(col("us") > col("prev_t") &&
              col("us") <= col("prev_t") + lit(FUNNEL_GAP_US))
        }
        // each stage frame (one row per surviving user) fans into the
        // next stage, its own count, and — for stage 1 — the conversion
        // base; without a checkpoint every branch re-scans events
        Some(gated.groupBy(col("user_id")).agg(min(col("us")).as("t"))
          .localCheckpoint())
    }.flatten
    val first = broadcast(stages.head.agg(count(lit(1)).as("n1")))
    stages.zip(FUNNEL_STEPS).zipWithIndex.map { case ((df, step), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .crossJoin(first)
        .select(lit((i + 1).toLong).as("stage"), lit(step).as("step"),
          col("n_users"),
          // nullif guard: with zero stage-1 users Spark's non-ANSI
          // division returns NULL but DuckDB's IEEE division gives
          // NaN/inf — pin both engines to NULL
          round(col("n_users").cast("double") /
              nullif(col("n1"), lit(0)).cast("double"), 6)
            .as("rate_from_first"))
    }.reduce(_.unionByName(_))
  }

  val eventFunnelSql: String = {
    val stepCtes = FUNNEL_STEPS.zipWithIndex.map { case (step, i) =>
      if (i == 0)
        s"""s1 AS (
           |  SELECT user_id, min(us) AS t FROM e
           |  WHERE event_type = '$step' GROUP BY 1)""".stripMargin
      else
        s"""s${i + 1} AS (
           |  SELECT e.user_id, min(e.us) AS t
           |  FROM e JOIN s$i ON e.user_id = s$i.user_id
           |  WHERE e.event_type = '$step' AND e.us > s$i.t
           |    AND e.us <= s$i.t + $FUNNEL_GAP_US GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val countCtes = FUNNEL_STEPS.indices
      .map(i => s"n${i + 1} AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s${i + 1})")
      .mkString(",\n")
    val selects = FUNNEL_STEPS.zipWithIndex.map { case (step, i) =>
      s"""SELECT CAST(${i + 1} AS BIGINT) AS stage, '$step' AS step, a.n AS n_users,
         |       round(CAST(a.n AS DOUBLE) / CAST(nullif(b.n, 0) AS DOUBLE), 6) AS rate_from_first
         |FROM n${i + 1} a CROSS JOIN n1 b""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       |$stepCtes,
       |$countCtes
       |$selects""".stripMargin
  }

  /** Retention cohorts: users grouped by first-seen day, counted on each
    * later day they were active — the classic cohort triangle. One
    * distinct projection, one aggregation for the cohort day, one join,
    * one count; the (user, day) distinct set is the only shuffle that
    * scales with the corpus.
    */
  def eventRetention(spark: SparkSession, sfDir: String): DataFrame =
    retention(Tables.events(spark, sfDir))

  /** The cohort core over any (user_id, ts) frame. */
  def retention(events: DataFrame): DataFrame = {
    val byDay = events
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val cohorts = byDay.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
    byDay.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"), datediff(col("d"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("cohort_day").cast("string").as("cohort_day"),
        col("day_offset").cast("long").as("day_offset"), col("n_users"))
  }

  val eventRetentionSql: String =
    """WITH byday AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |coh AS (SELECT user_id, min(d) AS cohort_day FROM byday GROUP BY 1)
      |SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
      |       CAST(date_diff('day', c.cohort_day, b.d) AS BIGINT) AS day_offset,
      |       CAST(count(*) AS BIGINT) AS n_users
      |FROM byday b JOIN coh c ON b.user_id = c.user_id
      |GROUP BY 1, 2""".stripMargin

  /** Daily-volume anomaly detection per event type — the monitoring query
    * a metrics pipeline runs after each load: flag days whose event count
    * sits more than 2σ from the type's own mean. The variance derives
    * from EXACT integer sums (n, Σx, Σx²) rather than a float `stddev`
    * aggregate, so there is no accumulation-order hazard anywhere: both
    * engines evaluate the identical closed-form expression over identical
    * integers. (Σx² fits BIGINT while daily counts stay < 3e9 — beyond
    * that, swap the daily grain for an hourly one long before the square
    * overflows.) Two hash aggregations; the per-type stats broadcast.
    */
  /** DAU / rolling-7-day WAU / stickiness per day — the engagement
    * rollup every metrics dashboard carries. A distinct-over-window is
    * not expressible as a window aggregate, and the naive day-range
    * self-join is quadratic in days; instead each (user, activity-day)
    * row EXPLODES into the 7 report days it counts toward (fixed ×7
    * fan-out, linear), and WAU is a count-distinct per report day.
    * Report days with no activity of their own drop via the inner join
    * to DAU — a day that never happened has no dashboard row.
    */
  def eventWau(spark: SparkSession, sfDir: String): DataFrame = {
    // the distinct (day, user) frame fans into DAU, the WAU explode
    val du = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("d"), col("user_id"))
      .distinct()
      .localCheckpoint()
    val dau = du.groupBy(col("d")).agg(count(lit(1)).cast("long").as("dau"))
    val wau = du
      .select(col("user_id"), explode(expr("sequence(d, date_add(d, 6))")).as("d"))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).cast("long").as("wau"))
    dau.join(wau, Seq("d"))
      .select(col("d").cast("string").as("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6).as("stickiness"))
  }

  val eventWauSql: String =
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
      |dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1),
      |contrib AS (
      |  SELECT user_id,
      |         CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
      |                CAST(d AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS d
      |  FROM du),
      |wau AS (SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      |        FROM contrib GROUP BY 1)
      |SELECT CAST(a.d AS VARCHAR) AS day, a.dau, w.wau,
      |       round(CAST(a.dau AS DOUBLE) / CAST(w.wau AS DOUBLE), 6) AS stickiness
      |FROM dau a JOIN wau w ON a.d = w.d""".stripMargin

  /** Daily event counts PIVOTED into one column per event type — the
    * wide daily-health table a dashboard reads directly. The type list
    * is declared (the monitoring contract's fixed vocabulary), so Spark
    * compiles the pivot to one pass of CASE-filtered counts — no
    * distinct-values pre-query, no second shuffle — and the oracle
    * spells the identical FILTER arms. Unseen types produce 0 via the
    * count, never NULL.
    */
  val EVENT_TYPES = Seq("click", "error", "purchase", "signup", "view")

  def eventTypePivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).cast("string").as("day"))
      .pivot("event_type", EVENT_TYPES)
      .agg(count(lit(1)))
      .na.fill(0L, EVENT_TYPES)

  val eventTypePivotSql: String = {
    val arms = EVENT_TYPES
      .map(t => s"CAST(count(*) FILTER (WHERE event_type = '$t') AS BIGINT) AS $t")
      .mkString(",\n      |       ")
    s"""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       |       $arms
       |FROM events GROUP BY 1""".stripMargin
  }

  /** Per-type history profile over (event_type, d, n_events) daily
    * counts: exact integer sums (n_days, Σx, Σx²) — the broadcastable
    * state both the batch labeler and the streaming twin score against.
    */
  def typeStats(daily: DataFrame): DataFrame =
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(col("n_events")).cast("long").as("s"),
        sum(col("n_events") * col("n_events")).cast("long").as("q"))

  /** z-score of `n_events` against the (n_days, s, q) profile columns.
    * Sample variance from exact sums; clamp the tiny negative a float
    * subtraction can leave, and nullif the σ=0 divisor (constant series
    * have no z-score — NULL in both engines, never an IEEE infinity).
    */
  def anomalyZ: Column = {
    val nd = col("n_days").cast("double")
    val mean = col("s").cast("double") / nd
    val variance = greatest(
      (col("q").cast("double") - col("s").cast("double") * col("s").cast("double") / nd)
        / (nd - 1.0), lit(0.0))
    round((col("n_events").cast("double") - mean) /
      nullif(sqrt(variance), lit(0.0)), 6)
  }

  def eventAnomaly(events: DataFrame): DataFrame = {
    // (type, day) counts feed BOTH the stats aggregate and the labeling
    // join; without operator-owned storage the events scan + partial agg
    // executes once per branch (verified in the executed plan — the
    // broadcast side does not reuse the exchange)
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).cast("long").as("n_events"))
      .localCheckpoint()
    daily.join(broadcast(typeStats(daily)), Seq("event_type"))
      .filter(col("n_days") > 1)
      .withColumn("z_score", anomalyZ)
      .select(col("event_type"), col("d").cast("string").as("day"),
        col("n_events"), col("z_score"),
        (abs(col("z_score")) > 2.0).as("is_anomaly"))
  }

  def eventAnomalyQuery(spark: SparkSession, sfDir: String): DataFrame =
    eventAnomaly(Tables.events(spark, sfDir))

  val eventAnomalySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |         CAST(sum(n_events) AS BIGINT) AS s,
      |         CAST(sum(n_events * n_events) AS BIGINT) AS q
      |  FROM daily GROUP BY 1),
      |sc AS (
      |  SELECT d.event_type, CAST(d.d AS VARCHAR) AS day, d.n_events,
      |         round((CAST(d.n_events AS DOUBLE) - CAST(st.s AS DOUBLE) / CAST(st.n_days AS DOUBLE))
      |               / nullif(sqrt(greatest(
      |                   (CAST(st.q AS DOUBLE)
      |                    - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE) / CAST(st.n_days AS DOUBLE))
      |                   / (CAST(st.n_days AS DOUBLE) - 1.0), 0.0)), 0.0), 6) AS z_score
      |  FROM daily d JOIN st ON d.event_type = st.event_type
      |  WHERE st.n_days > 1)
      |SELECT event_type, day, n_events, z_score, abs(z_score) > 2.0 AS is_anomaly
      |FROM sc""".stripMargin

  // --------------------------------------------------------------------
  // TPC-H Q18 shape: large-volume customers (agg → HAVING → join back)
  // --------------------------------------------------------------------

  /** Q18's HAVING threshold on per-order quantity. l_quantity values are
    * whole numbers stored as doubles, so the sums are exact in both
    * engines at any accumulation order.
    */
  val Q18_QTY_MIN = 200.0

  /** TPC-H Q18 shape (large-volume orders): aggregate the fact table,
    * keep groups over a HAVING threshold, then join the surviving KEYS
    * back through orders→customer and re-aggregate. The scale-relevant
    * property: the first aggregation is a full map-side-combined hash
    * agg over lineitem, but everything after it is sized by the
    * SURVIVORS (≈1% of orders here), so the threshold semi-join back to
    * lineitem prunes the second pass; the final top-100 is
    * TakeOrderedAndProject, never a global sort.
    */
  def q18LargeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"))
    val big = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > Q18_QTY_MIN)
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"))
    big.join(ord, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q18LargeOrdersSql: String =
    s"""WITH big AS (
       |  SELECT l_orderkey, sum(l_quantity) AS total_qty
       |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > $Q18_QTY_MIN)
       |SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       |       o.o_totalprice, b.total_qty
       |FROM big b
       |JOIN orders o ON o.o_orderkey = b.l_orderkey
       |JOIN customer c ON c.c_custkey = o.o_custkey
       |ORDER BY o.o_totalprice DESC, o.o_orderkey
       |LIMIT 100""".stripMargin

  // --------------------------------------------------------------------
  // Z-order data layout (multi-dimensional clustering)
  // --------------------------------------------------------------------

  /** Bits per dimension in the z-order key (10-bit interleaved key).
    * Five bits each: the day dimension genuinely spans 0..29, and the
    * user dimension is bucketed to match — unequal bit widths would pin
    * the high interleaved bits to zero and collapse the shard space.
    */
  val Z_BITS = 5

  /** Z-order shard width: 10-bit key >> 4 → 64 shards of 16 z-cells. */
  val Z_SHARD_SHIFT = 4

  /** Bit-interleave two [[Z_BITS]]-bit values into a z-order key —
    * pure integer shifts/masks, bit-identical across engines.
    * Public so the property suite can check the Morton coding is a
    * bijection on the [0, 2^[[Z_BITS]])² domain.
    */
  def zInterleave(a: Column, b: Column): Column =
    (0 until Z_BITS).map { i =>
      shiftleft(shiftrightunsigned(a, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftrightunsigned(b, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)

  private def zInterleaveSql(a: String, b: String): String =
    (0 until Z_BITS).map { i =>
      s"((($a >> $i) & 1) << ${2 * i + 1}) | ((($b >> $i) & 1) << ${2 * i})"
    }.mkString(" | ")

  /** Unpivot (melt) — the inverse of [[eventTypePivot]], through Spark's
    * native `unpivot` operator (an Expand node: one pass, rows×types
    * output, no shuffle beyond the pivot's own aggregation). Zero-filled
    * cells are dropped on the way back, so pivot∘unpivot lands exactly
    * on the long-form daily counts — which is what the oracle states
    * directly: the round-trip is the identity, and THAT is the checked
    * property.
    */
  def eventTypeUnpivot(spark: SparkSession, sfDir: String): DataFrame =
    eventTypePivot(spark, sfDir)
      .unpivot(Array(col("day")), EVENT_TYPES.map(col).toArray, "event_type", "n")
      .filter(col("n") =!= 0L)

  val eventTypeUnpivotSql: String = {
    // the engine side can only melt the pivot's declared EVENT_TYPES
    // columns, so the oracle states the SAME vocabulary — without the
    // IN filter an out-of-vocabulary event_type would appear in the
    // oracle but be silently dropped by the pivot∘unpivot round-trip
    val vocab = EVENT_TYPES.map(t => s"'$t'").mkString(", ")
    s"""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
       |       count(*) AS n
       |FROM events WHERE event_type IN ($vocab) GROUP BY 1, 2""".stripMargin
  }

  // --------------------------------------------------------------------
  // SCD2 state intervals (gaps and islands)
  // --------------------------------------------------------------------

  /** Slowly-changing-dimension (type 2) build over the event stream: each
    * user's DAILY state is the event_type of their last event that day,
    * and consecutive same-state days collapse into validity intervals
    * [valid_from, valid_to] — the change-feed → dimension-table
    * compression every warehouse maintains, via the gaps-and-islands
    * pattern (island id = day rank − day rank within state; two window
    * ranks, both partitioned by user, so no window ever sees more than
    * one user's days and the corpus never global-sorts). The interval
    * roll-up is one hash aggregation on (user, state, island).
    */
  def userStateScd2(events: DataFrame): DataFrame = {
    val byDay = Window.partitionBy(col("user_id"), col("d"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = events
      .select(col("user_id"), to_date(col("ts")).as("d"), col("ts"),
        col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("d"), col("event_type").as("state"))
    val allDays = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val inState = Window.partitionBy(col("user_id"), col("state")).orderBy(col("d"))
    daily
      .withColumn("grp",
        row_number().over(allDays) - row_number().over(inState))
      .groupBy(col("user_id"), col("state"), col("grp"))
      .agg(min(col("d")).cast("string").as("valid_from"),
        max(col("d")).cast("string").as("valid_to"),
        count(lit(1)).as("n_days"))
      .drop("grp")
  }

  def eventsScd2(spark: SparkSession, sfDir: String): DataFrame =
    userStateScd2(Tables.events(spark, sfDir))

  val eventsScd2Sql: String =
    """WITH daily AS (
      |  SELECT user_id, d, state FROM (
      |    SELECT user_id, CAST(ts AS DATE) AS d, event_type AS state,
      |           row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                              ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events)
      |  WHERE rn = 1),
      |grps AS (
      |  SELECT user_id, state, d,
      |         row_number() OVER (PARTITION BY user_id ORDER BY d)
      |           - row_number() OVER (PARTITION BY user_id, state ORDER BY d) AS grp
      |  FROM daily)
      |SELECT user_id, state,
      |       CAST(min(d) AS VARCHAR) AS valid_from,
      |       CAST(max(d) AS VARCHAR) AS valid_to,
      |       count(*) AS n_days
      |FROM grps GROUP BY user_id, state, grp""".stripMargin

  /** Decay half-life in days for [[decayValue]]. */
  val DECAY_HALF_LIFE_DAYS = 7.0

  /** Rows kept by [[decayValue]]. */
  val DECAY_TOP = 100

  /** Decay weight per integer age day in exact micro-units:
    * W(a) = round(2^(−a/half-life)·1e6), computed ONCE driver-side and
    * embedded as the same literal lookup table in BOTH engines. Neither
    * JVM `Math.pow` nor DuckDB's C `pow` is correctly rounded, so
    * evaluating the weight per row in each engine risks a 1-ulp
    * divergence that flips a .5 rounding boundary at some age the
    * fixture never exercises; a shared integer table is bit-identical
    * BY CONSTRUCTION at any scale factor or date span. The table runs
    * until the weight rounds to 0 (~21 half-lives) and ends in an
    * explicit 0 entry; older events clamp onto it, future-dated events
    * clamp to age 0 (weight 1).
    */
  val DECAY_W_MICROS: IndexedSeq[Long] =
    (Iterator.from(0)
      .map(a => math.round(math.pow(2.0, -a / DECAY_HALF_LIFE_DAYS) * 1e6))
      .takeWhile(_ > 0L).toIndexedSeq :+ 0L)

  /** Recency-weighted user value — the exponential time-decay
    * aggregation every engagement/LTV/freshness scorer runs: each
    * event's value counts as value·2^(−age/half-life) with age measured
    * back from the corpus as-of date, summed per user, top-k by decayed
    * value. The weight is a [[DECAY_W_MICROS]] integer table lookup
    * (never a per-row transcendental), value quantizes to exact micros
    * first, and the per-event decayed value is one integer
    * multiply-then-divide — `value` is non-negative by contract, so
    * Spark's truncating `DIV` and DuckDB's flooring `//` agree. The sum
    * is a map-side-combined hash agg and selection is
    * TakeOrderedAndProject. The same weighting applied to documents is
    * how a pretraining mix up-weights fresh crawl.
    */
  def decayValue(events: DataFrame): DataFrame = {
    val maxAge = DECAY_W_MICROS.size - 1
    val age = datediff(lit(Tables.ASOF_DATE).cast("date"), to_date(col("ts")))
    val w = element_at(typedLit(DECAY_W_MICROS),
      least(greatest(age, lit(0)), lit(maxAge)).cast("int") + lit(1))
    // fixed-point micro-units per row, then EXACT integer sums — the
    // engine-parity discipline of q3/q5/event_anomaly: accumulation
    // order can never flip a rounding boundary, and the top-100 cut
    // orders on an exact integer
    events
      .select(col("user_id"),
        round(col("value") * 1e6).cast("long").as("v_u"),
        w.as("w_micros"))
      .select(col("user_id"), col("v_u"),
        expr("v_u * w_micros DIV 1000000").as("dv_u"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("v_u")).as("raw_u"),
        sum(col("dv_u")).as("dec_u"))
      .orderBy(col("dec_u").desc, col("user_id"))
      .limit(DECAY_TOP)
      .select(col("user_id"), col("n_events"),
        round(col("raw_u").cast("double") / 1e6, 4).as("raw_value"),
        round(col("dec_u").cast("double") / 1e6, 4).as("decayed_value"))
  }

  def userDecayValue(spark: SparkSession, sfDir: String): DataFrame =
    decayValue(Tables.events(spark, sfDir))

  val userDecayValueSql: String = {
    // the SAME driver-computed integer weight table as the engine —
    // never re-derive the weight with the other engine's pow
    val wList = DECAY_W_MICROS.mkString("[", ", ", "]")
    val maxAge = DECAY_W_MICROS.size - 1
    s"""WITH u AS (
       |  SELECT user_id,
       |         CAST(round(value * 1e6) AS BIGINT)
       |           * list_extract($wList,
       |               least(greatest(date_diff('day', CAST(ts AS DATE),
       |                                        DATE '${Tables.ASOF_DATE}'), 0),
       |                     $maxAge) + 1)
       |           // 1000000 AS dv_u,
       |         CAST(round(value * 1e6) AS BIGINT) AS v_u
       |  FROM events),
       |agg AS (
       |  SELECT user_id, count(*) AS n_events,
       |         CAST(sum(v_u) AS BIGINT) AS raw_u,
       |         CAST(sum(dv_u) AS BIGINT) AS dec_u
       |  FROM u GROUP BY 1
       |  ORDER BY dec_u DESC, user_id
       |  LIMIT $DECAY_TOP)
       |SELECT user_id, n_events,
       |       round(CAST(raw_u AS DOUBLE) / 1e6, 4) AS raw_value,
       |       round(CAST(dec_u AS DOUBLE) / 1e6, 4) AS decayed_value
       |FROM agg""".stripMargin
  }

  /** Histogram bins for [[columnStats]]. */
  val STATS_BINS = 10

  /** ANALYZE-style column statistics — the stats-collection pass a
    * cost-based optimizer (and every capacity planner) runs over a
    * table: per tracked column the row/NDV counts, min/max, and an
    * equi-width [[STATS_BINS]]-bin histogram. One long-format union of
    * narrow projections (column pruning still reaches the scan — each
    * arm reads its own column), one stats aggregation, the bin pass
    * against the broadcast per-column ranges, one final hash agg. The
    * bin expression is a single double-precision formula evaluated
    * identically in both engines. NDV here is exact (count distinct);
    * the sketched version of the same number is `approx_stats`.
    */
  def columnStats(events: DataFrame): DataFrame = {
    // checkpointed: the long frame feeds both the stats aggregation and
    // the bin probe — without it each consumer re-scans events ×3 arms
    val long = events.select(lit("user_id").as("col_name"),
        col("user_id").cast("double").as("x"))
      .unionByName(events.select(lit("value").as("col_name"),
        col("value").cast("double").as("x")))
      .unionByName(events.select(lit("day").as("col_name"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("double").as("x")))
      .localCheckpoint()
    val stats = long.groupBy(col("col_name"))
      .agg(count(lit(1)).as("n"), countDistinct(col("x")).as("ndv"),
        min(col("x")).as("vmin"), max(col("x")).as("vmax"))
    // constant column → one bin, stated explicitly: 0/0 NaN-vs-NULL
    // semantics differ across engines, so neither side may reach it
    val bin = when(col("vmax") === col("vmin"), lit(0L))
      .otherwise(least(
        floor((col("x") - col("vmin")) * STATS_BINS /
          (col("vmax") - col("vmin"))).cast("long"),
        lit(STATS_BINS - 1L)))
    long.join(broadcast(stats), Seq("col_name"))
      .withColumn("bin", bin)
      .groupBy(col("col_name"), col("bin"))
      .agg(first(col("n")).as("n"), first(col("ndv")).as("ndv"),
        round(first(col("vmin")), 6).as("vmin"),
        round(first(col("vmax")), 6).as("vmax"),
        count(lit(1)).as("bin_count"))
  }

  def eventsColumnStats(spark: SparkSession, sfDir: String): DataFrame =
    columnStats(Tables.events(spark, sfDir))

  val eventsColumnStatsSql: String =
    s"""WITH long AS (
       |  SELECT 'user_id' AS col_name, CAST(user_id AS DOUBLE) AS x FROM events
       |  UNION ALL
       |  SELECT 'value' AS col_name, CAST(value AS DOUBLE) AS x FROM events
       |  UNION ALL
       |  SELECT 'day' AS col_name,
       |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x
       |  FROM events),
       |stats AS (
       |  SELECT col_name, count(*) AS n, CAST(count(DISTINCT x) AS BIGINT) AS ndv,
       |         min(x) AS vmin, max(x) AS vmax
       |  FROM long GROUP BY 1)
       |SELECT l.col_name,
       |       CASE WHEN s.vmax = s.vmin THEN 0
       |            ELSE least(CAST(floor((l.x - s.vmin) * $STATS_BINS
       |                                  / (s.vmax - s.vmin)) AS BIGINT),
       |                       ${STATS_BINS - 1}) END AS bin,
       |       first(s.n) AS n, first(s.ndv) AS ndv,
       |       round(first(s.vmin), 6) AS vmin, round(first(s.vmax), 6) AS vmax,
       |       count(*) AS bin_count
       |FROM long l JOIN stats s ON l.col_name = s.col_name
       |GROUP BY 1, 2""".stripMargin

  /** Z-order layout report over events — the lakehouse OPTIMIZE/ZORDER
    * primitive (Morton-curve clustering on the two hot filter dimensions,
    * user and day), expressed as the per-shard locality report a layout
    * job emits: each of the 64 z-shards touches few distinct users AND
    * few distinct days simultaneously, which is what makes BOTH
    * `user_id = ?` and `day = ?` scans prune to a handful of files —
    * a linear-key sort clusters one dimension and scatters the other.
    * The z-key is a narrow codegen'd projection; writing the layout is
    * `repartitionByRange(zkey)` on top of it (range boundaries from the
    * sampled sketch Spark already computes), so nothing here ever
    * global-sorts, and the report is one hash aggregation.
    */
  def zorderLayout(events: DataFrame): DataFrame = {
    val ub = pmod(col("user_id"), lit(1L << Z_BITS))
    // the day dimension is bucketed mod 2^Z_BITS EXPLICITLY, like the
    // user dimension: zInterleave only reads bits 0..Z_BITS−1, so an
    // implicit truncation would silently alias distinct days on any
    // corpus spanning ≥ 2^Z_BITS days while the report kept claiming
    // locality — the stated contract is now "day RESIDUE locality",
    // loud in the code and identical in both engines
    val db = pmod(
      datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).cast("long"),
      lit(1L << Z_BITS))
    val keyed = events.select(
      shiftrightunsigned(zInterleave(ub, db), Z_SHARD_SHIFT).as("shard"),
      col("user_id"), to_date(col("ts")).as("d"))
    keyed.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("d")).as("n_days"))
  }

  def eventsZorder(spark: SparkSession, sfDir: String): DataFrame =
    zorderLayout(Tables.events(spark, sfDir))

  val eventsZorderSql: String = {
    // pmod twin: DuckDB % is signed where Spark's pmod is not — keep the
    // bucket non-negative for any sentinel/negative user_id
    val m = 1L << Z_BITS
    val z = zInterleaveSql(s"(((user_id % $m) + $m) % $m)",
      s"(((date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % $m) + $m) % $m)")
    s"""WITH keyed AS (
       |  SELECT ($z) >> $Z_SHARD_SHIFT AS shard, user_id, CAST(ts AS DATE) AS d
       |  FROM events)
       |SELECT shard, count(*) AS n_events,
       |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |       CAST(count(DISTINCT d) AS BIGINT) AS n_days
       |FROM keyed GROUP BY 1""".stripMargin
  }

  /** Last-touch attribution — each purchase's value credited to the
    * user's most recent PRECEDING touch event (view/click/signup),
    * 'none' when nothing touchable precedes it. The reference resolves
    * per-row "what came before" questions with a find_one probe per row
    * (updatescript.py:66-67); the set-oriented form is ONE user-keyed
    * window (the sessionizer's shuffle) carrying the touch forward via
    * last(..., ignoreNulls) over an unbounded-preceding frame — no
    * self-join, no per-purchase lookup, and the rollup is a hash agg to
    * ≤|touch types|+1 rows. Revenue sums in exact integer cents so both
    * engines agree bit-for-bit at any partial-agg order. At 100 TB the
    * window partitions by user (millions of small partitions, no skew
    * beyond the sessionizer's own) and nothing else shuffles.
    */
  def attribution(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev
      .withColumn("touch_type",
        last(when(col("event_type").isin("view", "click", "signup"),
          col("event_type")), ignoreNulls = true).over(byUser))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch_type"), lit("none")).as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(round(col("value") * 100).cast("long")).as("revenue_cents"))
  }

  def eventAttribution(spark: SparkSession, sfDir: String): DataFrame =
    attribution(Tables.events(spark, sfDir))

  val eventAttributionSql: String =
    """WITH touched AS (
      |  SELECT event_type, value,
      |         last_value(CASE WHEN event_type IN ('view','click','signup')
      |                         THEN event_type END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type
      |  FROM events)
      |SELECT coalesce(touch_type, 'none') AS touch_type,
      |       count(*) AS n_purchases,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM touched WHERE event_type = 'purchase' GROUP BY 1""".stripMargin

  /** Incremental materialized-view maintenance — the rollup tier of the
    * incremental family (next to text_pack_incremental and
    * dedup_clusters_incremental): a standing per-(chain, day) daily
    * rollup absorbs an arriving batch by MERGING partial aggregates
    * (count and cents-sum are algebraic — partials add), never by
    * re-scanning history. The standing side here is computed once from
    * the pre-watermark slice with the same pushed scan predicate as
    * every incremental operator ([[graft.pipeline.Tables.eventsUntil]],
    * raw-nanos pushdown), standing in for the stored MV a production
    * run would read back; the delta side reads only post-watermark row
    * groups ([[graft.pipeline.Tables.eventsSince]]). The merge itself
    * re-aggregates |days × chains| partial rows — constant-size work at
    * any corpus scale, the entire point of maintaining the view
    * incrementally. The watermark sits MID-day (noon, unlike the
    * pipeline's midnight [[graft.pipeline.Tables.WM]]) so the cut day
    * genuinely splits across both halves and lands correct BECAUSE the
    * merge is a partial-agg combine — a midnight cut would never produce
    * two partials for one key and the merge would be an untested union.
    */
  val MERGE_WM = "2024-01-10 12:00:00"

  /** The partial/merge pipeline itself, over ARBITRARY pre/post event
    * slices — factored out so the split-point-invariance property can
    * drive the production code path at randomized watermarks (not just
    * the [[MERGE_WM]] split). Output keys on (chain, day-as-date);
    * [[aggIncremental]] string-casts the day for the oracle compare.
    */
  def aggIncrementalMerge(pre: DataFrame, post: DataFrame): DataFrame = {
    def partial(df: DataFrame): DataFrame =
      df.select((col("event_id") % 2).as("chain"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("chain"), col("day"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"))
    partial(pre)
      .unionByName(partial(post))
      .groupBy(col("chain"), col("day"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("total_cents")).as("total_cents"))
  }

  def aggIncremental(spark: SparkSession, sfDir: String): DataFrame =
    aggIncrementalMerge(
      Tables.eventsUntil(spark, sfDir, MERGE_WM),
      Tables.eventsSince(spark, sfDir, MERGE_WM))
      .select(col("chain"), col("day").cast("string").as("day"),
        col("n_events"), col("total_cents"))

  /** The general keyed MERGE upsert — the Delta/Iceberg bread-and-butter
    * (`MERGE INTO target USING delta ON key WHEN MATCHED THEN UPDATE
    * WHEN NOT MATCHED THEN INSERT`) expressed set-orientedly: matched
    * keys take the delta's row (the delta is computed from strictly
    * later events, so replace-on-match is last-write-wins), unmatched
    * target rows survive, new keys insert. One LEFT ANTI join on the
    * key plus a union — no row is rewritten that didn't change
    * partition, and at 100 TB the anti-join prunes to the delta's key
    * set (broadcastable when the batch is small, the usual case).
    * S10 (`PipelineRunner.upsertSingleton`) is this with |keys| = 1.
    */
  def keyedMergeUpsert(target: DataFrame, delta: DataFrame,
      key: Seq[String]): DataFrame =
    target.join(delta.select(key.map(col): _*), key, "left_anti")
      .unionByName(delta)

  /** Per-user CURRENT-STATE row (the MERGE fact: user_id → last event's
    * ts/type/cents) from an event slice — rank by full-precision
    * (ts, event_id) so ties resolve identically in both engines.
    */
  def lastStatePerUser(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("ts").as("last_ts"),
        col("event_type").as("last_type"),
        round(col("value") * 100).cast("long").as("last_cents"))
  }

  /** `merge_upsert`: the post-merge current-state table — standing side
    * computed from the pre-watermark slice (standing in for the stored
    * keyed fact table a production run reads back), delta from the
    * arriving batch, merged by [[keyedMergeUpsert]]. Oracle = the cold
    * last-state ranking over ALL events: the merge must land exactly
    * there because every delta row postdates the standing row it
    * replaces. Idempotency (re-merging the same delta is a no-op) is
    * property-tested in EventOpsProps.
    */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame =
    keyedMergeUpsert(
      lastStatePerUser(Tables.eventsUntil(spark, sfDir, MERGE_WM)),
      lastStatePerUser(Tables.eventsSince(spark, sfDir, MERGE_WM)),
      Seq("user_id"))

  val mergeUpsertSql: String =
    """WITH ranked AS (
      |  SELECT user_id, ts, event_type, value,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, ts AS last_ts, event_type AS last_type,
      |       CAST(round(value * 100) AS BIGINT) AS last_cents
      |FROM ranked WHERE rn = 1""".stripMargin

  /** Market-basket co-occurrence — the frequent-pairs mining shape
    * (Apriori's k=2 pass, the recommender's "bought together" table):
    * distinct parts per order self-join WITHIN the order (d1 < d2), hash
    * agg to pair supports, top-k via TakeOrdered. The pair space is
    * bounded by order size squared — lineitems per order is a small
    * constant (TPC-H ≤ 7; real carts similar), so the fan-out is a
    * constant factor on the fact scan, never corpus². Only the two
    * referenced columns are read.
    */
  val BASKET_TOP_K = 20

  def basketPairs(spark: SparkSession, sfDir: String): DataFrame =
    basketPairsFrom(
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .distinct())

  val basketPairsSql: String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
       |pairs AS (
       |  SELECT a.part AS p1, b.part AS p2, count(*) AS support
       |  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
       |  GROUP BY 1, 2)
       |SELECT p1, p2, support FROM pairs
       |ORDER BY support DESC, p1, p2 LIMIT $BASKET_TOP_K""".stripMargin

  /** Association rules over the frequent pairs — Apriori's rule step:
    * each top pair yields both directed rules with CONFIDENCE
    * (support(pair)/support(antecedent)) and LIFT
    * (support(pair)·n_orders / (support(p1)·support(p2))) — all ratios
    * of exact integers, round-pinned once, so both engines agree
    * bit-for-bit. Item supports are a |parts|-row broadcastable dim; the
    * order count is one scalar; nothing beyond [[basketPairs]]'s bounded
    * pair space is computed.
    */
  def basketRules(spark: SparkSession, sfDir: String): DataFrame = {
    val items = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .distinct()
      .localCheckpoint()
    val itemSup = items.groupBy(col("part")).agg(count(lit(1)).as("sup"))
    val nOrders = items.agg(countDistinct(col("okey")).as("n_orders"))
    // the directed union reads pairs TWICE; unpinned, each side replanned
    // the whole items self-join + top-k — pinned it is a 20-row frame
    val pairs = basketPairsFrom(items).localCheckpoint()
    val directed = pairs.select(col("p1").as("antecedent"),
        col("p2").as("consequent"), col("support"))
      .unionByName(pairs.select(col("p2").as("antecedent"),
        col("p1").as("consequent"), col("support")))
    directed
      .join(broadcast(itemSup.select(col("part").as("antecedent"),
        col("sup").as("sup_a"))), Seq("antecedent"))
      .join(broadcast(itemSup.select(col("part").as("consequent"),
        col("sup").as("sup_c"))), Seq("consequent"))
      .crossJoin(broadcast(nOrders))
      .select(col("antecedent"), col("consequent"), col("support"),
        round(col("support").cast("double") / col("sup_a").cast("double"), 6)
          .as("confidence"),
        round(col("support").cast("double") * col("n_orders").cast("double") /
          (col("sup_a").cast("double") * col("sup_c").cast("double")), 6)
          .as("lift"))
  }

  private def basketPairsFrom(items: DataFrame): DataFrame =
    items.select(col("okey"), col("part").as("p1"))
      .join(items.select(col("okey"), col("part").as("p2")), Seq("okey"))
      .filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("p1"), col("p2"))
      .limit(BASKET_TOP_K)

  val basketRulesSql: String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
       |isup AS (SELECT part, CAST(count(*) AS BIGINT) AS sup FROM items GROUP BY 1),
       |no AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM items),
       |pairs AS (
       |  SELECT a.part AS p1, b.part AS p2, CAST(count(*) AS BIGINT) AS support
       |  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
       |  GROUP BY 1, 2
       |  ORDER BY support DESC, p1, p2 LIMIT $BASKET_TOP_K),
       |directed AS (
       |  SELECT p1 AS antecedent, p2 AS consequent, support FROM pairs
       |  UNION ALL
       |  SELECT p2 AS antecedent, p1 AS consequent, support FROM pairs)
       |SELECT d.antecedent, d.consequent, d.support,
       |       round(CAST(d.support AS DOUBLE) / CAST(sa.sup AS DOUBLE), 6) AS confidence,
       |       round(CAST(d.support AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
       |             / (CAST(sa.sup AS DOUBLE) * CAST(sc.sup AS DOUBLE)), 6) AS lift
       |FROM directed d
       |JOIN isup sa ON d.antecedent = sa.part
       |JOIN isup sc ON d.consequent = sc.part, no n""".stripMargin

  /** Calendar split of session intervals — the interval×day OVERLAP
    * shape the point-in-interval range join doesn't cover: each
    * (user, session) interval is split across every calendar day it
    * touches, crediting each day its exact in-day microseconds
    * (time-in-day attribution, the dashboard's "usage by day" that a
    * session's midnight crossing must not double- or mis-count). The
    * sessionizer's user-keyed windows are the only corpus shuffle; the
    * explode fans a session into its day count (sessions are gap-bounded,
    * so almost always 1–2 rows); overlap arithmetic is integer
    * microseconds — exact in both engines at any aggregation order.
    */
  def sessionDaySplit(spark: SparkSession, sfDir: String): DataFrame =
    sessionDaySplitFrom(Tables.events(spark, sfDir))

  def sessionDaySplitFrom(events: DataFrame): DataFrame = {
    val dayUs = 86400L * 1000000L
    val sessions = sessionized(events)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"))
    sessions
      .withColumn("day", explode(expr(
        "sequence(to_date(timestamp_micros(start_us)), to_date(timestamp_micros(end_us)))")))
      .withColumn("day_start_us", unix_micros(col("day").cast("timestamp")))
      .withColumn("overlap_us",
        least(col("end_us"), col("day_start_us") + lit(dayUs)) -
          greatest(col("start_us"), col("day_start_us")))
      // a session ENDING exactly at midnight touches the next day for 0 µs
      // — not usage on that day; zero-duration (single-event) sessions DO
      // count on their own start day
      .filter(col("overlap_us") > 0 ||
        col("day") === to_date(timestamp_micros(col("start_us"))))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("overlap_us")).as("in_day_us"))
      .select(col("day").cast("string").as("day"), col("n_sessions"), col("in_day_us"))
  }

  val sessionDaySplitSql: String =
    """WITH numbered AS (
      |  SELECT user_id, ts, event_id,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM numbered),
      |sess AS (
      |  SELECT user_id, ts,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged),
      |per_session AS (
      |  SELECT user_id, session_id,
      |         min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
      |  FROM sess GROUP BY 1, 2),
      |days AS (
      |  SELECT start_us, end_us,
      |         CAST(unnest(generate_series(
      |           CAST(CAST(make_timestamp(start_us) AS DATE) AS TIMESTAMP),
      |           CAST(CAST(make_timestamp(end_us) AS DATE) AS TIMESTAMP),
      |           INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM per_session),
      |split AS (
      |  SELECT day, start_us,
      |         least(end_us, epoch_us(CAST(day AS TIMESTAMP)) + 86400000000)
      |           - greatest(start_us, epoch_us(CAST(day AS TIMESTAMP))) AS overlap_us
      |  FROM days)
      |SELECT CAST(day AS VARCHAR) AS day, count(*) AS n_sessions,
      |       CAST(sum(overlap_us) AS BIGINT) AS in_day_us
      |FROM split
      |WHERE overlap_us > 0 OR day = CAST(make_timestamp(start_us) AS DATE)
      |GROUP BY 1""".stripMargin

  /** Oracle = the full recompute: the merged incremental view must equal
    * the rollup a cold batch job would build from scratch.
    */
  val aggIncrementalSql: String =
    """SELECT event_id % 2 AS chain, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM events GROUP BY 1, 2""".stripMargin
}
