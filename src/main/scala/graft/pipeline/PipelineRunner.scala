package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.Overlap

/** The whole cron job (updatescript.py:221-241) as one batch run over
  * parquet sinks, one parquet dir per reference collection under
  * `sinkDir` (FIXTURES.md §A.2). A run
  *
  *  1. reads the watermark;
  *  2. pins the window (`createdAt > wm`) once: enrichment, routing and
  *     the new watermark all derive from that one scan, the watermark as
  *     `max(createdAt)` observed while the pin materializes;
  *  3. runs the independent write chains in one [[Overlap.all]], longest
  *     first: price backfill then enrichment (which reads the price
  *     sink), the `stats` replace, and the four routed appends (`AUMdata`
  *     reads its prior stashes inside its own chain);
  *  4. after every chain has succeeded, replaces `lastUpdated` with the
  *     observed `max(createdAt)`, the run's last write.
  *
  * Crash contract: the first failing chain cancels the others and the
  * watermark stays, so the next run re-processes the same window. Append
  * sinks absorb that ([[Sink.appendNew]]: incoming LEFT ANTI JOIN
  * sink-on-key, the reference's insert-if-absent, updatescript.py:62,87,
  * 166); singletons are replaced whole by a generation swap
  * ([[Sink.replace]]; Q3: the stats docs are rolling, no history).
  * Routing sees the watermark captured at start, as the reference's
  * step 5 does (Q4).
  */
object PipelineRunner {

  case class Config(sfDir: String, sinkDir: String,
      bootstrapWm: String, asOfDate: String)

  /** Rows appended per sink in one run. */
  case class RunReport(appended: Map[String, Long], watermark: String, newWatermark: String)

  private def sinkPath(c: Config, name: String) = s"${c.sinkDir}/$name"

  def currentWatermark(spark: SparkSession, c: Config): String =
    Sink.read(spark, sinkPath(c, "lastUpdated"), Some(StructType.fromDDL("lastUpdated TIMESTAMP")))
      .map(_.select(col("lastUpdated").cast("string")).head().getString(0))
      .getOrElse(c.bootstrapWm)

  def run(spark: SparkSession, c: Config): RunReport = {
    val wm = currentWatermark(spark, c)
    val seen = Observation()
    val batch = Tables.txSince(spark, c.sfDir, wm)
      .observe(seen, max(col("createdAt")).cast("string").as("wm")).localCheckpoint()
    val wmDate = to_date(lit(wm).cast("timestamp"))
    // date-partitioned sink, anti-join pruned to the replayable window
    def appendDated(df: DataFrame, name: String): Map[String, Long] =
      Map(name -> Sink.appendNew(df, sinkPath(c, name), Seq("_id"),
        partitionDate = Some(to_date(col("createdAt"))),
        prune = Some(col("p_date") >= wmDate)))
    // price backfill (updatescript.py:27-54): day series anti-joined with the
    // sink, filled from the source dim; then enrichment (:57-108) against it
    val priceThenEnrich = () => {
      val days = spark.range(2).select(col("id").as("chain")).crossJoin(
        spark.sql(s"SELECT explode(sequence(to_date('$wm'), to_date('${c.asOfDate}'), interval 1 day)) AS price_date"))
      val gapPrices = days.join(Tables.dailyPrice(spark, c.sfDir), Seq("chain", "price_date"))
      val priceAppended = Sink.appendNew(gapPrices, sinkPath(c, "priceInUSD"),
        Seq("chain", "price_date"), None, None)
      val priceSink = spark.read.schema(StructType(Seq("chain", "price_date", "price")
        .map(gapPrices.schema(_)))).parquet(sinkPath(c, "priceInUSD"))
      Map("priceInUSD" -> priceAppended) ++
        appendDated(ReferencePipeline.enrich(batch, priceSink), "transactiondatas")
    }
    val stats = () => { // rolling singletons (Q3: replaced, no history)
      Sink.replace(ReferencePipeline.statsRollup(spark, c.sfDir).coalesce(1), sinkPath(c, "stats"))
      Map.empty[String, Long]
    }
    // routing (updatescript.py:154-218)
    val successful = batch.filter(col("successful"))
    val (dot, ksm) = (successful.filter(col("chain") === 0), successful.filter(col("chain") === 1))
    val routed = Seq(
      () => appendDated(Routing.aumRows(successful, Sink.read(spark, sinkPath(c, "AUMdata"),
          Some(StructType(Seq("chain", "stashId").map(successful.schema(_)))))
        .map(_.select("chain", "stashId").distinct())), "AUMdata"),
      () => appendDated(Routing.nominationsRows(dot), "nominationsupdateddata"),
      () => appendDated(Routing.amountStakedRows(dot), "amountstakeddata"),
      () => appendDated(Routing.kusamaNominationsRows(ksm), "kusamanominationsupdateddata"))
    val appended =
      Overlap.all(priceThenEnrich +: stats +: routed, Overlap.DEFAULT_CAP).reduce(_ ++ _)
    // the watermark last (updatescript.py:149-152): max processed event time,
    // observed by the eager pin above, so `get` (unbounded wait) returns at once
    val newWm = Option(seen.get("wm")).fold(wm)(_.toString)
    import spark.implicits._
    Sink.replace(Seq(newWm).toDF("lastUpdated")
      .select(col("lastUpdated").cast("timestamp")).coalesce(1), sinkPath(c, "lastUpdated"))
    RunReport(appended, wm, newWm)
  }
}
