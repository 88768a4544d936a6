package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The whole cron job (updatescript.py:221-241) as one batch run over
  * parquet sinks: read the watermark, run the five steps in driver order,
  * advance the watermark last-ish (Q4: the reference advances it between
  * steps 3 and 5 but hands the *captured* watermark to step 5; we capture
  * once at start, so the observable behavior is identical and a crash
  * between steps can only cause re-processing, which the anti-joins absorb).
  *
  * Sink layout under `sinkDir`: one parquet dir per reference collection
  * (FIXTURES.md §A.2). Every write goes through [[Sink]]. Append sinks
  * are written idempotently ([[Sink.appendNew]]: incoming LEFT ANTI JOIN
  * sink-on-key, then append), so re-running any window is a no-op, exactly
  * the reference's insert-if-absent contract (updatescript.py:62,87,166,...).
  * Singletons (stats, lastUpdated) are replaced whole by a generation swap
  * ([[Sink.replace]]; Q3: the stats docs are rolling, no history), so a
  * run killed mid-write leaves the previous watermark readable instead of
  * restarting from `bootstrapWm`.
  *
  * Scale posture: the anti-join keys the sink scan on the join column only
  * (column pruning); at 100 TB the sinks would be date-partitioned so the
  * incremental window prunes to the recent partitions. No driver-side data
  * movement except the watermark scalar.
  */
object PipelineRunner {

  case class Config(sfDir: String, sinkDir: String,
      bootstrapWm: String, asOfDate: String)

  /** Rows appended per sink in one run. */
  case class RunReport(appended: Map[String, Long], watermark: String, newWatermark: String)

  private def sinkPath(c: Config, name: String) = s"${c.sinkDir}/$name"

  def currentWatermark(spark: SparkSession, c: Config): String =
    Sink.read(spark, sinkPath(c, "lastUpdated"))
      .map(_.select(col("lastUpdated").cast("string")).head().getString(0))
      .getOrElse(c.bootstrapWm)

  def run(spark: SparkSession, c: Config): RunReport = {
    val wm = currentWatermark(spark, c)

    // step 1 — price backfill (updatescript.py:27-54): generated day series,
    // anti-join days already in the sink, fill from the source dim, append.
    val price = Tables.dailyPrice(spark, c.sfDir)
    val days = spark.range(2).select(col("id").as("chain")).crossJoin(
      spark.sql(s"SELECT explode(sequence(to_date('$wm'), to_date('${c.asOfDate}'), interval 1 day)) AS price_date"))
    val gapPrices = days.join(price, Seq("chain", "price_date"))
    val priceAppended = Sink.appendNew(gapPrices, sinkPath(c, "priceInUSD"),
      Seq("chain", "price_date"), None, None)

    // step 2 — tx enrichment (updatescript.py:57-108), dedup by _id;
    // sink date-partitioned, anti-join pruned to the replayable window.
    val priceSink = spark.read.parquet(sinkPath(c, "priceInUSD"))
      .select(col("chain"), col("price_date"), col("price"))
    val enriched = ReferencePipeline.enrich(Tables.txSince(spark, c.sfDir, wm), priceSink)
    val wmDate = to_date(lit(wm).cast("timestamp"))
    val txAppended = Sink.appendNew(enriched, sinkPath(c, "transactiondatas"), Seq("_id"),
      partitionDate = Some(to_date(col("createdAt"))),
      prune = Some(col("p_date") >= wmDate))

    // step 3 — rolling stats singletons (Q3: replaced, no history).
    Sink.replace(ReferencePipeline.statsRollup(spark, c.sfDir).coalesce(1), sinkPath(c, "stats"))

    // step 4 — advance the watermark (updatescript.py:149-152). Data-derived:
    // max processed event time, so reprocessing windows stay contiguous.
    val batch = Tables.txSince(spark, c.sfDir, wm)
    val newWm = batch.agg(max(col("createdAt")).cast("string")).head().getString(0)
    val effectiveWm = Option(newWm).getOrElse(wm)
    import spark.implicits._
    Sink.replace(Seq(effectiveWm).toDF("lastUpdated")
      .select(col("lastUpdated").cast("timestamp")).coalesce(1), sinkPath(c, "lastUpdated"))

    // step 5 — routing (updatescript.py:154-218); runs on the watermark
    // captured at start (Q4), against current AUM sink state for first-seen.
    val successful = batch.filter(col("successful"))
    val priorStashes = Sink.read(spark, sinkPath(c, "AUMdata")).map(_.select("chain", "stashId").distinct())
    val routed = Map(
      "nominationsupdateddata" ->
        Routing.nominationsRows(successful.filter(col("chain") === 0)),
      "amountstakeddata" ->
        Routing.amountStakedRows(successful.filter(col("chain") === 0)),
      "kusamanominationsupdateddata" ->
        Routing.kusamaNominationsRows(successful.filter(col("chain") === 1)),
      "AUMdata" -> Routing.aumRows(successful, priorStashes))
    val routedCounts = routed.map { case (name, df) =>
      name -> Sink.appendNew(df, sinkPath(c, name), Seq("_id"),
        partitionDate = Some(to_date(col("createdAt"))),
        prune = Some(col("p_date") >= wmDate))
    }

    RunReport(
      routedCounts ++ Map("priceInUSD" -> priceAppended, "transactiondatas" -> txAppended),
      wm, effectiveWm)
  }
}
