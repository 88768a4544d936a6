package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Tables

/** Declarative data-quality expectations over the warehouse tables — the
  * Deequ/Great-Expectations stage a 100 TB ingest runs BEFORE anything
  * downstream trusts the data. The reference pipeline encodes its
  * expectations implicitly (skip-if-missing guards, `successful` filters,
  * /root/reference/updatescript.py:37-47,62-96); this family makes the
  * contract explicit: one ledger row per rule with (checked, violations,
  * pass), so a regression is a diffable row, not a silent downstream skew.
  *
  * Scale design: every ROW-LEVEL rule on a table folds into ONE shared
  * single-pass aggregate over that table (conditional `sum(cast(bool))`
  * columns melted to rows by `stack` — the Deequ "one scan, many metrics"
  * discipline; adding a rule adds a column to the agg, not a scan).
  * UNIQUENESS inherently needs key distinctness — that rule rides the same
  * agg as a `count_distinct` (hash-partial + final, the unavoidable
  * shuffle priced by the check, not by re-scanning). REFERENTIAL rules are
  * one-pass orphan counts (LEFT equi-join + conditional sum): dimension
  * key-sets broadcast (customer), fact→fact (lineitem→orders) shuffles on
  * the join key under AQE. The ledger output is ≤ |rules| rows.
  */
object DataQuality {

  /** One row-level rule: name + the VIOLATION predicate (true = bad row). */
  private final case class Rule(name: String, bad: Column)

  /** `k` parsed out of the events `props` JSON as a long — shared by the
    * ledger, the incremental partials, the stream melt, and the drift
    * rollup so all four check the identical predicate.
    */
  private def propsK: Column =
    from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))).getField("k")

  /** The events row-level rules — one definition, four consumers. */
  private def eventRowRules: Seq[Rule] = Seq(
    Rule("not_null_user_id", col("user_id").isNull),
    Rule("positive_value", !(col("value") > 0)),
    Rule("json_props_has_k", propsK.isNull))

  /** All row-level rules for one table as a single aggregate pass, melted
    * to (rule, tbl, checked, violations) rows via `stack`.
    */
  private def rowRules(df: DataFrame, tbl: String, rules: Seq[Rule],
                       uniqueKey: Option[(String, Column)]): DataFrame = {
    val aggs =
      rules.map(r => sum(r.bad.cast("long")).as(r.name)) ++
        uniqueKey.map { case (n, k) =>
          (count(lit(1)) - count_distinct(k)).as(n)
        }
    val names = rules.map(_.name) ++ uniqueKey.map(_._1)
    val one = df.agg(count(lit(1)).as("checked"), aggs: _*)
    val stackArgs = names.map(n => s"'$n', $n").mkString(", ")
    one.selectExpr(
      s"stack(${names.size}, $stackArgs) as (rule, violations)", "checked")
      .select(col("rule"), lit(tbl).as("tbl"), col("checked"),
        col("violations").cast("long").as("violations"))
  }

  /** A referential rule: orphans of `child` (on `key`) absent from
    * `parent` (on `pkey`). ONE pass: LEFT equi-join against the parent's
    * distinct key set (distinct so a corrupt duplicate parent key can't
    * inflate `checked`), then `checked` and `violations` fall out of the
    * same aggregate — never a row-by-row probe, never a second child scan.
    * A null child key never equi-joins, so it counts as an orphan, which
    * is the semantics we want: a null FK is as dangling as a wrong one.
    */
  private def refRule(name: String, tbl: String, child: DataFrame, key: String,
                      parent: DataFrame, pkey: String): DataFrame =
    child.select(col(key))
      .join(parent.select(col(pkey).as(key)).distinct()
        .withColumn("__hit", lit(1)), Seq(key), "left")
      .agg(count(lit(1)).as("checked"),
        sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("violations"))
      .select(lit(name).as("rule"), lit(tbl).as("tbl"),
        col("checked"), col("violations"))

  /** `dq_expectations`: the full rule ledger. Columns: rule, tbl, checked,
    * violations, pass (1 iff violations = 0).
    */
  def dqExpectations(spark: SparkSession, sfDir: String): DataFrame =
    dqLedger(
      Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir),
      Tables.customer(spark, sfDir), Tables.events(spark, sfDir),
      Tables.documents(spark, sfDir))

  /** The ledger over explicit table frames — the seam the spec uses to
    * prove each rule actually FIRES on planted corruption (the production
    * fixture is clean, so violations=0 there proves nothing about
    * detection).
    */
  private[graft] def dqLedger(orders: DataFrame, lineitem: DataFrame,
                              customer: DataFrame, events: DataFrame,
                              documents: DataFrame): DataFrame = {

    val orderRules = rowRules(orders, "orders", Seq(
      Rule("not_null_o_custkey", col("o_custkey").isNull),
      Rule("accepted_o_orderstatus", !col("o_orderstatus").isin("O", "F", "P")),
      Rule("positive_o_totalprice", !(col("o_totalprice") > 0))),
      uniqueKey = Some(("unique_o_orderkey", col("o_orderkey"))))

    val lineRules = rowRules(lineitem, "lineitem", Seq(
      Rule("range_l_quantity", !col("l_quantity").between(1, 50)),
      Rule("range_l_discount", !col("l_discount").between(0, 0.1)),
      Rule("nonneg_l_extendedprice", !(col("l_extendedprice") >= 0))), None)

    val eventRules = rowRules(events, "events", eventRowRules, None)

    val docRules = rowRules(documents, "documents", Seq(
      Rule("chars_consistency", col("n_chars") =!= length(col("text"))),
      Rule("nonempty_text", !(length(col("text")) > 0))), None)

    val refs = Seq(
      refRule("ref_orders_customer", "orders", orders, "o_custkey", customer, "c_custkey"),
      refRule("ref_lineitem_orders", "lineitem",
        lineitem.withColumnRenamed("l_orderkey", "lkey"), "lkey",
        orders.withColumnRenamed("o_orderkey", "lkey"), "lkey"),
      refRule("ref_events_customer", "events", events, "user_id",
        customer.withColumnRenamed("c_custkey", "user_id"), "user_id"))

    (Seq(orderRules, lineRules, eventRules, docRules) ++ refs)
      .reduce(_ unionByName _)
      .withColumn("pass", (col("violations") === 0).cast("int"))
  }

  // ── Incremental maintenance ────────────────────────────────────────────

  /** The events-table slice of the ledger as a PARTIAL: the three row
    * rules and the referential rule over an arbitrary event slice. Every
    * counter here is algebraic — conditional sums, counts, and the
    * orphan count (each row checks independently against the standing
    * dimension key set) all ADD across slices — so a standing ledger
    * absorbs an arriving batch by summing partials, never by re-scanning
    * history. (The one non-algebraic ledger rule, `unique_o_orderkey`'s
    * count-distinct, lives on orders, not here; its incremental form is
    * [[dqUniqueIncremental]] — a standing key set probed by anti-join.)
    */
  private[graft] def dqEventPartial(ev: DataFrame,
      customer: DataFrame): DataFrame =
    rowRules(ev, "events", eventRowRules, None)
      .unionByName(refRule("ref_events_customer", "events", ev, "user_id",
        customer.withColumnRenamed("c_custkey", "user_id"), "user_id"))

  /** Incremental UNIQUENESS — the one ledger rule whose counter is NOT
    * algebraic (count-distinct partials don't add), maintained exactly
    * with a standing KEY SET instead of a recount: violations =
    * N − |distinct keys|, and the distinct count advances by the number
    * of arriving keys that are new — (distinct within the batch) ∖
    * (standing keys), one LEFT ANTI probe against the standing set (the
    * FitStore-shaped artifact a production run persists; here the
    * standing side is the even-orderkey half, the ER/dedup split
    * convention, since orders carries no event time). History is never
    * recounted: per-batch cost is the batch's distinct + one anti-join,
    * and the anti-join prunes to the batch's key set. Oracle = the cold
    * full-table `count − count_distinct`.
    */
  def dqUniqueIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    dqUniqueIncrementalOver(
      orders.filter(col("o_orderkey") % 2 === 0),
      orders.filter(col("o_orderkey") % 2 === 1))
  }

  private[graft] def dqUniqueIncrementalOver(standing: DataFrame,
      arrivals: DataFrame): DataFrame = {
    val standingKeys = standing.select(col("o_orderkey")).distinct()
    val standingAgg = standing.agg(
      count(lit(1)).as("s_checked"), count_distinct(col("o_orderkey")).as("s_distinct"))
    val newKeys = arrivals.select(col("o_orderkey")).distinct()
      .join(standingKeys, Seq("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("a_new_distinct"))
    val arrivalsAgg = arrivals.agg(count(lit(1)).as("a_checked"))
    standingAgg.crossJoin(arrivalsAgg).crossJoin(newKeys) // three 1-row aggs
      .select(lit("unique_o_orderkey").as("rule"), lit("orders").as("tbl"),
        (col("s_checked") + col("a_checked")).as("checked"),
        (col("s_checked") + col("a_checked")
          - col("s_distinct") - col("a_new_distinct")).as("violations"))
      .withColumn("pass", (col("violations") === 0).cast("int"))
  }

  val dqUniqueIncrementalSql: String =
    """SELECT 'unique_o_orderkey' AS rule, 'orders' AS tbl,
      |       CAST(count(*) AS BIGINT) AS checked,
      |       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations,
      |       CASE WHEN count(*) = count(DISTINCT o_orderkey) THEN 1 ELSE 0 END AS pass
      |FROM orders""".stripMargin

  /** Merge two partial ledgers: counters add per (rule, tbl). The
    * coalesce guards the empty-slice partial, whose conditional sums
    * come back null.
    */
  private[graft] def dqIncrementalMerge(pre: DataFrame,
      post: DataFrame): DataFrame =
    pre.unionByName(post)
      .groupBy(col("rule"), col("tbl"))
      .agg(sum(col("checked")).as("checked"),
        sum(coalesce(col("violations"), lit(0L))).as("violations"))
      .withColumn("pass", (col("violations") === 0).cast("int"))

  /** `dq_expectations_incremental`: the events ledger maintained
    * incrementally — standing counters from the pre-watermark slice
    * (pushed scan, [[graft.pipeline.Tables.eventsUntil]]), arriving
    * counters from the post-watermark slice, merged by partial-sum. The
    * merge re-aggregates ≤ |rules| rows — constant work at any corpus
    * scale, next to [[Relational.aggIncremental]] in the incremental
    * family. Oracle = the cold full-table events ledger.
    */
  def dqExpectationsIncremental(spark: SparkSession,
      sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    dqIncrementalMerge(
      dqEventPartial(Tables.eventsUntil(spark, sfDir, Relational.MERGE_WM), cust),
      dqEventPartial(Tables.eventsSince(spark, sfDir, Relational.MERGE_WM), cust))
  }

  /** The ROW-LEVEL melt of the events rules — (rule, bad) pairs per
    * event, the shape the STREAMING ledger needs: a streaming
    * aggregation keys its state by group, so `rule` must be a row value
    * before the agg, not a `stack` applied after it (the batch ledger
    * melts after the agg because one scan serving many metrics is the
    * batch economy; a stream pays |rules|× rows pre-agg and gets
    * |rules|-keyed O(1) state in return — same counters either way).
    * The referential rule rides a stream-static broadcast left join
    * against the dimension's distinct key set.
    */
  private[graft] def dqEventMelt(ev: DataFrame,
      customer: DataFrame): DataFrame = {
    val withHit = ev.join(
      broadcast(customer.select(col("c_custkey").as("user_id")).distinct()
        .withColumn("__hit", lit(1))), Seq("user_id"), "left")
    val rules: Seq[(String, Column)] =
      eventRowRules.map(r => r.name -> r.bad) :+
        ("ref_events_customer" -> col("__hit").isNull)
    withHit.select(explode(array(rules.map { case (n, b) =>
      struct(lit(n).as("rule"),
        coalesce(b.cast("long"), lit(0L)).as("bad"))
    }: _*)).as("m")).select(col("m.rule").as("rule"), col("m.bad").as("bad"))
  }

  // ── Metric drift (the Deequ anomaly-detection shape) ──────────────────

  /** Violation-rate drift multiplier: a day whose violation rate exceeds
    * this multiple of the trailing (all prior days) rate flags. With a
    * clean history (prior violations = 0) ANY violation flags — the
    * regression-alarm semantics.
    */
  val DQ_DRIFT_VIOL_MULT = 4L

  /** `dq_drift`: per-day quality-metric series over events with
    * threshold-gated drift flags — anomaly detection ON the metrics, the
    * stage that turns the ledger from a gate into a monitor. Per day:
    * row volume and total row-rule violations; each day compares against
    * its TRAILING baseline (all prior days) in exact INTEGER
    * cross-multiplication (a float rate is not the same number in DuckDB
    * and Spark):
    *   volume_flag: n·k > 2·prior_rows  or  2·n·k < prior_rows
    *     (day volume beyond ±2× the trailing mean)
    *   viol_flag:   viol·prior_rows > [[DQ_DRIFT_VIOL_MULT]]·prior_viol·n
    *     (violation rate beyond 4× the trailing rate)
    * Day 1 has no baseline and never flags. The window is partitionless
    * but runs over the ALREADY-AGGREGATED |days|-row frame (the
    * adjudicated bounded-frame pattern) — the per-row work all happens
    * in the day rollup, one scan.
    */
  def dqDrift(spark: SparkSession, sfDir: String): DataFrame =
    dqDriftOver(Tables.events(spark, sfDir))

  /** [[dqDrift]] over an explicit event frame — the seam the spec uses
    * to plant a violation day and a volume spike (the production fixture
    * is clean and steady, so its all-zero flags prove nothing about
    * detection).
    */
  private[graft] def dqDriftOver(ev: DataFrame): DataFrame = {
    val perRow = eventRowRules
      .map(r => coalesce(r.bad.cast("long"), lit(0L)))
      .reduce(_ + _)
    val day = ev
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_rows"), sum(perRow).as("n_viol"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    day.select(col("day"), col("n_rows"), col("n_viol"),
        count(lit(1)).over(w).as("k"),
        coalesce(sum(col("n_rows")).over(w), lit(0L)).as("prior_rows"),
        coalesce(sum(col("n_viol")).over(w), lit(0L)).as("prior_viol"))
      .select(col("day").cast("string").as("day"), col("n_rows"), col("n_viol"),
        (col("k") > 0 && (col("n_rows") * col("k") > lit(2L) * col("prior_rows") ||
          lit(2L) * col("n_rows") * col("k") < col("prior_rows")))
          .cast("int").as("volume_flag"),
        (col("k") > 0 && col("n_viol") * col("prior_rows") >
          lit(DQ_DRIFT_VIOL_MULT) * col("prior_viol") * col("n_rows"))
          .cast("int").as("viol_flag"))
  }

  private def sqlRow(rule: String, tbl: String, checkedSql: String,
      violSql: String) =
    s"""SELECT '$rule' AS rule, '$tbl' AS tbl,
       |       CAST(($checkedSql) AS BIGINT) AS checked,
       |       CAST(($violSql) AS BIGINT) AS violations""".stripMargin

  /** The events-slice oracle rows — shared by the full ledger, the
    * incremental merge, and the streaming replay (all three must land on
    * the same cold full-table counters).
    */
  private def eventsOracleRows: Seq[String] = Seq(
    sqlRow("not_null_user_id", "events", "SELECT count(*) FROM events",
      "SELECT count(*) FROM events WHERE user_id IS NULL"),
    sqlRow("positive_value", "events", "SELECT count(*) FROM events",
      "SELECT count(*) FROM events WHERE NOT (value > 0)"),
    sqlRow("json_props_has_k", "events", "SELECT count(*) FROM events",
      "SELECT count(*) FROM events WHERE try_cast(json_extract_string(props, '$.k') AS BIGINT) IS NULL"),
    sqlRow("ref_events_customer", "events", "SELECT count(*) FROM events",
      """SELECT count(*) FROM events e LEFT JOIN customer c
        |   ON e.user_id = c.c_custkey WHERE c.c_custkey IS NULL""".stripMargin))

  private def withPass(rows: Seq[String]): String =
    s"""SELECT rule, tbl, checked, violations,
       |       CASE WHEN violations = 0 THEN 1 ELSE 0 END AS pass
       |FROM (${rows.mkString("\nUNION ALL\n")})""".stripMargin

  /** Oracle for both the incremental merge and the streaming replay:
    * the cold full-table events ledger.
    */
  val dqEventsLedgerSql: String = withPass(eventsOracleRows)

  val dqDriftSql: String =
    s"""WITH d AS (
       |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_rows,
       |         COALESCE(sum(
       |             CASE WHEN user_id IS NULL THEN 1 ELSE 0 END
       |           + CASE WHEN NOT (value > 0) THEN 1 ELSE 0 END
       |           + CASE WHEN try_cast(json_extract_string(props, '$$.k') AS BIGINT) IS NULL THEN 1 ELSE 0 END
       |         ), 0) AS n_viol
       |  FROM events GROUP BY 1),
       |c AS (
       |  SELECT day, n_rows, n_viol,
       |         count(*)                  OVER w AS k,
       |         COALESCE(sum(n_rows) OVER w, 0) AS prior_rows,
       |         COALESCE(sum(n_viol) OVER w, 0) AS prior_viol
       |  FROM d
       |  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
       |SELECT CAST(day AS VARCHAR) AS day,
       |       CAST(n_rows AS BIGINT) AS n_rows,
       |       CAST(n_viol AS BIGINT) AS n_viol,
       |       CASE WHEN k > 0 AND (n_rows * k > 2 * prior_rows
       |                        OR 2 * n_rows * k < prior_rows)
       |            THEN 1 ELSE 0 END AS volume_flag,
       |       CASE WHEN k > 0 AND n_viol * prior_rows > $DQ_DRIFT_VIOL_MULT * prior_viol * n_rows
       |            THEN 1 ELSE 0 END AS viol_flag
       |FROM c""".stripMargin

  val dqExpectationsSql: String = {
    val row = sqlRow _
    val rows = Seq(
      row("not_null_o_custkey", "orders", "SELECT count(*) FROM orders",
        "SELECT count(*) FROM orders WHERE o_custkey IS NULL"),
      row("accepted_o_orderstatus", "orders", "SELECT count(*) FROM orders",
        "SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('O','F','P')"),
      row("positive_o_totalprice", "orders", "SELECT count(*) FROM orders",
        "SELECT count(*) FROM orders WHERE NOT (o_totalprice > 0)"),
      row("unique_o_orderkey", "orders", "SELECT count(*) FROM orders",
        "SELECT count(*) - count(DISTINCT o_orderkey) FROM orders"),
      row("range_l_quantity", "lineitem", "SELECT count(*) FROM lineitem",
        "SELECT count(*) FROM lineitem WHERE l_quantity NOT BETWEEN 1 AND 50"),
      row("range_l_discount", "lineitem", "SELECT count(*) FROM lineitem",
        "SELECT count(*) FROM lineitem WHERE l_discount NOT BETWEEN 0 AND 0.1"),
      row("nonneg_l_extendedprice", "lineitem", "SELECT count(*) FROM lineitem",
        "SELECT count(*) FROM lineitem WHERE NOT (l_extendedprice >= 0)"),
      row("chars_consistency", "documents", "SELECT count(*) FROM documents",
        "SELECT count(*) FROM documents WHERE n_chars <> length(text)"),
      row("nonempty_text", "documents", "SELECT count(*) FROM documents",
        "SELECT count(*) FROM documents WHERE NOT (length(text) > 0)"),
      row("ref_orders_customer", "orders", "SELECT count(*) FROM orders",
        """SELECT count(*) FROM orders o LEFT JOIN customer c
          |   ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL""".stripMargin),
      row("ref_lineitem_orders", "lineitem", "SELECT count(*) FROM lineitem",
        """SELECT count(*) FROM lineitem l LEFT JOIN orders o
          |   ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL""".stripMargin))
    withPass(rows ++ eventsOracleRows)
  }
}
