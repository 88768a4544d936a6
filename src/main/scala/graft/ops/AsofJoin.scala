package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.pipeline.Tables

/** As-of join: enrich each left row with the most recent right row whose
  * time is at-or-before the left row's time, per key — the operator Spark
  * lacks natively (SPARK-22947). Built by composition (preference (a) of
  * the custom-operator ladder): union both sides into one frame, sort by
  * (key, time, side) inside a window, and carry the right-side values
  * forward with `last(..., ignoreNulls)` — one shuffle on the key, linear
  * in |left|+|right|, versus the quadratic blowup of the naive range-join
  * formulation.
  *
  * Two variants: [[asofJoin]] partitions the window by the key alone —
  * right for fine-grained keys (instrument id, user id), where per-key
  * serialization is already parallel. [[asofJoinBucketed]] partitions by
  * (key, time-bucket) and seeds each bucket with the latest right value
  * from earlier buckets — the shape for LOW-cardinality keys at 100 TB,
  * where a key-only window would funnel everything through |keys| tasks.
  */
object AsofJoin {

  /** Left rows + `valueCols` from the as-of matching right row (null where
    * no right row precedes). Ties (equal timestamps) match, like DuckDB's
    * `ASOF JOIN ... ON l.t >= r.t`.
    *
    * Matched-row semantics (all variants, aligned with DuckDB ASOF and the
    * native exec): the matched right row is taken WHOLE — the carry is a
    * single `last(struct(valueCols), ignoreNulls)` so a null inside a
    * matched row is NOT backfilled from an older right row, and all value
    * columns come from the same right row. Right rows with a null time
    * match nothing and are dropped up front.
    *
    * Null-key caveat (all variants): rows whose key is null group
    * together and can match each other — window/clustering semantics, not
    * SQL join equality (where null keys never match). Filter null keys
    * upstream when SQL-join behavior is required.
    *
    * Duplicate right timestamps (composed variants): among right rows of
    * one key at the same instant, the matched row is the one with the
    * GREATEST value struct (field-lexicographic over `valueCols`) — a
    * deterministic tiebreak applied identically in the row-level windows
    * and the bucket-seed summary, so plain and bucketed never diverge.
    * Requires orderable value types; the native exec instead keeps input
    * order — give it unique right times per key for determinism.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, valueCols: Seq[String]): DataFrame = {
    requireNoReserved(left, "left"); requireNoReserved(right, "right")
    val leftOther = left.columns.toSeq.filterNot(c => keys.contains(c) || c == leftTime)
    val rvType = StructType(valueCols.map(c => right.schema(c)))
    val l2 = left.select(
      keys.map(col) ++ Seq(col(leftTime).as("_t"), lit(0).as("_is_r"),
        lit(null).cast(rvType).as("_rv")) ++
        leftOther.map(col): _*)
    val r2 = right.filter(col(rightTime).isNotNull).select(
      keys.map(col) ++ Seq(col(rightTime).as("_t"), lit(1).as("_is_r"),
        struct(valueCols.map(col): _*).as("_rv")) ++
        leftOther.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    // right rows sort before left rows at the same instant, so an
    // exactly-coincident right value is visible to the left row; the final
    // `_rv` key makes the pick among duplicate right timestamps
    // deterministic (greatest value struct wins — last() takes the last
    // non-null in sort order)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_t").asc, col("_is_r").desc, col("_rv").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l2.unionByName(r2)
      .select(
        keys.map(col) ++ Seq(col("_t"), col("_is_r")) ++ leftOther.map(col) :+
          last(col("_rv"), ignoreNulls = true).over(w).as("_rv"): _*)
      .filter(col("_is_r") === 0)
      .select(keys.map(col) ++ Seq(col("_t").as(leftTime)) ++ leftOther.map(col) ++
        valueCols.map(c => col("_rv").getField(c).as(c)): _*)
  }

  /** Internal scratch columns of the composed variants — inputs must not
    * use these names (they would be silently overwritten and dropped).
    */
  private val ReservedCols =
    Set("_t", "_rv", "_prio", "_is_r", "_bkt", "_is_sum", "_rn")

  private def requireNoReserved(df: DataFrame, side: String): Unit = {
    val bad = df.columns.filter(ReservedCols.contains)
    require(bad.isEmpty,
      s"$side input uses reserved as-of join column name(s) " +
        s"${bad.mkString(", ")} — rename them before the join")
  }

  /** One seed row per (key, bucket) that contains left rows: the latest
    * right `_rv` struct from STRICTLY-earlier buckets (null `_rv` when no
    * earlier right row exists). `r2` must carry (keys, `_t`, `_rv`,
    * `_bkt`); `lBkts` the distinct (keys, `_bkt`) of the left side. The
    * carry window partitions by the bare key, but over key×bucket-
    * granularity SUMMARY rows — kilobytes per key at any corpus size.
    */
  private def bucketSeeds(lBkts: DataFrame, r2: DataFrame,
      kCols: Seq[Column]): DataFrame = {
    // one summary row per (key, bucket): the bucket's latest right row;
    // `_rv` desc breaks duplicate-timestamp ties exactly like the
    // row-level windows (greatest value struct wins)
    val sw = Window.partitionBy(kCols :+ col("_bkt"): _*)
      .orderBy(col("_t").desc, col("_rv").desc)
    val summaries = r2
      .withColumn("_rn", row_number().over(sw)).filter(col("_rn") === 1)
      .select(kCols ++ Seq(col("_bkt"), col("_rv")) :+ lit(1).as("_is_sum"): _*)
    // markers sort before the same bucket's summary, so the carried value
    // excludes in-bucket rights (the row-level pass handles those)
    val markers = lBkts.withColumn("_is_sum", lit(0))
    val cw = Window.partitionBy(kCols: _*)
      .orderBy(col("_bkt").asc, col("_is_sum").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    summaries.unionByName(markers, allowMissingColumns = true)
      .select(kCols ++ Seq(col("_bkt"), col("_is_sum")) :+
        last(col("_rv"), ignoreNulls = true).over(cw).as("_rv"): _*)
      .filter(col("_is_sum") === 0)
      .select(kCols ++ Seq(col("_bkt"), col("_rv")): _*)
  }

  /** As-of join partitioned by (key, time-bucket): identical semantics to
    * [[asofJoin]], but the carry-forward window never sees more than one
    * bucket's rows. `bucketOf` maps a time to its bucket START, in the same
    * type and order as the time column (e.g. `date_trunc("DAY", _)`):
    * the bucket value doubles as the seed row's sort position.
    *
    * Seeding: the latest right row of each (key, bucket) is summarized
    * (one row per key×bucket), and a key-partitioned window over those
    * summaries carries the latest prior-bucket value onto each bucket that
    * contains left rows. That window still partitions by the bare key, but
    * over key×bucket-granularity rows — thousands of bytes per key at any
    * corpus size — while the row-level window runs on (key, bucket), so no
    * task ever sorts more than one bucket of real data.
    */
  def asofJoinBucketed(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, valueCols: Seq[String],
      bucketOf: Column => Column): DataFrame = {
    requireNoReserved(left, "left"); requireNoReserved(right, "right")
    val leftOther = left.columns.toSeq.filterNot(c => keys.contains(c) || c == leftTime)
    val kCols = keys.map(col)
    val rvType = StructType(valueCols.map(c => right.schema(c)))
    val l2 = left.select(
      kCols ++ Seq(col(leftTime).as("_t"), lit(0).as("_prio"),
        lit(null).cast(rvType).as("_rv")) ++
        leftOther.map(col): _*)
      .withColumn("_bkt", bucketOf(col("_t")))
    val r2 = right.filter(col(rightTime).isNotNull).select(
      kCols ++ Seq(col(rightTime).as("_t"), lit(1).as("_prio"),
        struct(valueCols.map(col): _*).as("_rv")): _*)
      .withColumn("_bkt", bucketOf(col("_t")))
    val seeds = bucketSeeds(l2.select(kCols :+ col("_bkt"): _*).distinct(), r2, kCols)
      .select(kCols ++ Seq(col("_bkt").as("_t"), lit(2).as("_prio"), col("_rv"),
        col("_bkt")) ++
        leftOther.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    // seed (prio 2) sorts before a coincident right row (1), which sorts
    // before a coincident left row (0) — tie semantics match asofJoin,
    // including the greatest-value-struct pick among duplicate right times
    val w = Window.partitionBy(kCols :+ col("_bkt"): _*)
      .orderBy(col("_t").asc, col("_prio").desc, col("_rv").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l2.unionByName(r2, allowMissingColumns = true).unionByName(seeds)
      .select(
        kCols ++ Seq(col("_t"), col("_prio")) ++ leftOther.map(col) :+
          last(col("_rv"), ignoreNulls = true).over(w).as("_rv"): _*)
      .filter(col("_prio") === 0)
      .select(kCols ++ Seq(col("_t").as(leftTime)) ++ leftOther.map(col) ++
        valueCols.map(c => col("_rv").getField(c).as(c)): _*)
  }

  /** Native as-of join via the custom operator (ladder step (c) —
    * graft.plans.AsofJoinPlan/Exec): same semantics as [[asofJoin]], but
    * executed as one forward merge per co-partition instead of a
    * union+window. Installs [[graft.plans.AsofJoinStrategy]] into the
    * session's extra strategies (idempotent).
    */
  def asofJoinNative(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, valueCols: Seq[String]): DataFrame = {
    import graft.plans.{AsofJoinPlan, AsofJoinStrategy}
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy
    }
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val node = AsofJoinPlan(lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      attr(lPlan, leftTime), attr(rPlan, rightTime),
      valueCols.map(attr(rPlan, _)))
    org.apache.spark.sql.graft.DatasetBridge.ofRows(spark, node)
  }

  /** Native as-of join partitioned by (key, time-bucket) — the scale-safe
    * mode for LOW-cardinality keys. [[asofJoinNative]] clusters on the bare
    * key, so a 2-value key merges the whole fact table in 2 tasks no
    * matter the cluster size; here the merge exec is keyed on
    * (key, bucket), giving key×bucket parallelism.
    *
    * The cross-bucket carry is hoisted out of the exec: one seed row per
    * (key, bucket)-with-left-rows holds the latest right row of
    * strictly-earlier buckets ([[bucketSeeds]], shared with
    * [[asofJoinBucketed]] — key×bucket-granularity summaries, kilobytes
    * per key). Seeds join the right side timestamped at bucket start minus
    * 1 microsecond — Spark timestamps are micros, so the seed sorts before
    * any real in-bucket right row (earliest possible is the bucket start
    * itself) and after everything in earlier buckets, which live under
    * different (key, bucket) join keys anyway. `bucketOf` must return the
    * bucket START as a timestamp (e.g. `date_trunc("DAY", _)`).
    */
  def asofJoinNativeBucketed(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, valueCols: Seq[String],
      bucketOf: Column => Column): DataFrame = {
    requireNoReserved(left, "left"); requireNoReserved(right, "right")
    val kCols = keys.map(col)
    val r2 = right.filter(col(rightTime).isNotNull).select(
      kCols ++ Seq(col(rightTime).as("_t"),
        struct(valueCols.map(col): _*).as("_rv")): _*)
      .withColumn("_bkt", bucketOf(col("_t")))
    val l2 = left.withColumn("_bkt", bucketOf(col(leftTime)))
    val seedRows = bucketSeeds(l2.select(kCols :+ col("_bkt"): _*).distinct(), r2, kCols)
      .filter(col("_rv").isNotNull)
      .select(kCols ++ Seq(col("_bkt"),
        (col("_bkt") - expr("INTERVAL 1 MICROSECOND")).as("_t"), col("_rv")): _*)
    val rAll = r2.select(kCols ++ Seq(col("_bkt"), col("_t"), col("_rv")): _*)
      .unionByName(seedRows)
      .select(kCols ++ Seq(col("_bkt"), col("_t")) ++
        valueCols.map(c => col("_rv").getField(c).as(c)): _*)
    asofJoinNative(l2, rAll, keys :+ "_bkt", leftTime, "_t", valueCols)
      .drop("_bkt")
  }

  /** tx enrichment via as-of semantics: each transaction takes the most
    * recent daily price at-or-before its timestamp (vs. the reference's
    * strict same-day bucket, updatescript.py:66-67 — as-of also covers
    * gap days). Inner semantics: transactions before the first price drop.
    * Uses the bucketed variant: `chain` has TWO values, so the plain
    * key-partitioned window would sort the whole fact table in 2 tasks;
    * day buckets give (chain × day) parallelism.
    */
  def txEnrichAsof(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.txSince(spark, sfDir, Tables.WM)
    val p = Tables.dailyPrice(spark, sfDir)
      .select(col("chain"), col("price_date").cast("timestamp").as("pts"), col("price"))
    asofJoinBucketed(t, p, Seq("chain"), "createdAt", "pts", Seq("price"),
      date_trunc("DAY", _))
      .filter(col("price").isNotNull)
      .select(col("_id"), col("createdAt"), col("chain"), col("stake"),
        col("price").as("asof_price"))
  }

  /** The same tx enrichment through the NATIVE operator — same oracle as
    * [[txEnrichAsof]] (the semantics are identical; only the physical
    * plan differs: merge exec instead of union+window). Uses the BUCKETED
    * native mode: `chain` has two values, so the bare-key exec would merge
    * in 2 tasks at any scale; (chain, day) clustering keeps the merge
    * parallel.
    */
  def txEnrichAsofNative(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.txSince(spark, sfDir, Tables.WM)
    val p = Tables.dailyPrice(spark, sfDir)
      .select(col("chain"), col("price_date").cast("timestamp").as("pts"), col("price"))
    asofJoinNativeBucketed(t, p, Seq("chain"), "createdAt", "pts", Seq("price"),
        date_trunc("DAY", _))
      .filter(col("price").isNotNull)
      .select(col("_id"), col("createdAt"), col("chain"), col("stake"),
        col("price").as("asof_price"))
  }

  /** Range (interval) join: left rows matched to the right interval
    * [start, end) of the same key that contains their time. Spark plans a
    * raw inequality join as BroadcastNestedLoopJoin — quadratic. This
    * composition is exact and equi-join-shaped: every right interval is
    * exploded into the `bucketWidth`-sized buckets it covers, the join key
    * is (key, bucket(t)), and the residual range predicate filters inside
    * the bucket. No dedup is needed — t lies in exactly one bucket, so
    * each (left row, interval) pair meets exactly once. Bucket fan-out =
    * interval span / bucketWidth (cap open intervals before calling).
    */
  def rangeJoinBucketed(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, startCol: String, endCol: String,
      bucketSeconds: Long): DataFrame = {
    // Bucket index = floorDiv(micros, width) at FULL timestamp precision.
    // unix_timestamp() truncates sub-second digits, which would compute
    // the last covered bucket of an end like `boundary + 0.5s` as the
    // bucket BEFORE the boundary and silently drop left rows in
    // [boundary, end). pmod (not %) floors correctly pre-1970; subtracting
    // it makes the numerator an exact multiple of width, so although
    // Spark's long `/` detours through double, it divides two exactly-
    // representable values (|µs| < 2^53) into an exact integer quotient.
    val width = bucketSeconds * 1000000L
    def bkt(us: Column): Column =
      ((us - pmod(us, lit(width))) / width).cast("long")
    val lb = bkt(unix_micros(col(leftTime)))
    val rStart = bkt(unix_micros(col(startCol)))
    // end is exclusive: the last covered bucket holds the largest instant
    // strictly below end — end minus one microsecond (Spark's quantum)
    val rEnd = bkt(unix_micros(col(endCol)) - 1)
    val r2 = right
      .filter(col(endCol) > col(startCol)) // degenerate [s, e<=s) holds nothing
      .withColumn("_bkt", explode(sequence(rStart, rEnd)))
    left.withColumn("_bkt", lb)
      .join(r2, keys :+ "_bkt")
      .filter(col(leftTime) >= col(startCol) && col(leftTime) < col(endCol))
      .drop("_bkt")
  }

  /** tx enrichment as a range join: each daily price row becomes the
    * interval [price_date, next price_date) (the last one capped at the
    * fixture horizon), and transactions join the interval containing
    * their timestamp — same result set as the as-of enrichment, exercised
    * through the interval path. The DuckDB oracle uses the raw
    * inequality join.
    */
  def txEnrichRange(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.txSince(spark, sfDir, Tables.WM)
    val nextDay = Window.partitionBy(col("chain")).orderBy(col("pts"))
    val p = Tables.dailyPrice(spark, sfDir)
      .select(col("chain"), col("price_date").cast("timestamp").as("pts"), col("price"))
      .withColumn("pend", coalesce(lead(col("pts"), 1).over(nextDay),
        lit(Tables.ASOF_DATE).cast("timestamp") + expr("INTERVAL 1 DAY")))
    rangeJoinBucketed(t, p, Seq("chain"), "createdAt", "pts", "pend", 86400L)
      .select(col("_id"), col("createdAt"), col("chain"), col("stake"),
        col("price").as("range_price"))
  }

  val txEnrichRangeSql: String =
    s"""WITH ${Tables.TX_CTE},
       |${Tables.PRICE_CTE},
       |p2 AS (
       |  SELECT chain, CAST(price_date AS TIMESTAMP) AS pts, price,
       |         coalesce(lead(CAST(price_date AS TIMESTAMP), 1)
       |                    OVER (PARTITION BY chain ORDER BY price_date),
       |                  TIMESTAMP '${Tables.ASOF_DATE} 00:00:00' + INTERVAL 1 DAY) AS pend
       |  FROM price),
       |t AS (SELECT * FROM tx WHERE createdAt > TIMESTAMP '${Tables.WM}')
       |SELECT t._id, t.createdAt, t.chain, t.stake, p.price AS range_price
       |FROM t JOIN p2 p ON t.chain = p.chain
       |               AND t.createdAt >= p.pts AND t.createdAt < p.pend""".stripMargin

  val txEnrichAsofSql: String =
    s"""WITH ${Tables.TX_CTE},
       |${Tables.PRICE_CTE},
       |p2 AS (SELECT chain, CAST(price_date AS TIMESTAMP) AS pts, price FROM price),
       |t AS (SELECT * FROM tx WHERE createdAt > TIMESTAMP '${Tables.WM}')
       |SELECT t._id, t.createdAt, t.chain, t.stake, p.price AS asof_price
       |FROM t ASOF JOIN p2 p ON t.chain = p.chain AND t.createdAt >= p.pts""".stripMargin
}
