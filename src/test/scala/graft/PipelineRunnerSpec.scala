package graft

import java.nio.file.{Files, Paths}

import java.util.concurrent.TimeUnit

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.pipeline.{PipelineRunner, Sink, Tables}

/** Golden end-to-end: the full 5-step pipeline over sf0.001, run twice
  * (SURVEY.md §5.2 item 5). The second run must append nothing — both via
  * the advanced watermark (empty batch) and, when forced back to the
  * original watermark, via the anti-join dedup (idempotency).
  */
class PipelineRunnerSpec extends SparkSpec {

  test("pipeline run is idempotent and advances the watermark") {
    val sink = SparkSpec.tempDir("graft-sink").toString
    val c = PipelineRunner.Config("/root/testdata/sf0.001", sink,
      Tables.WM, Tables.ASOF_DATE)

    val r1 = PipelineRunner.run(spark, c)
    assert(r1.appended("transactiondatas") > 0)
    assert(r1.appended("AUMdata") > 0)
    assert(r1.appended("priceInUSD") > 0)
    assert(r1.watermark == "2024-01-10 00:00:00")
    assert(r1.newWatermark > r1.watermark)
    for (name <- Seq("priceInUSD", "transactiondatas", "AUMdata", "nominationsupdateddata",
        "amountstakeddata", "kusamanominationsupdateddata"))
      assert(r1.appended(name) == Sink.read(spark, s"$sink/$name", None).fold(0L)(_.count()), name)

    // second run: watermark advanced past all data -> empty batch
    val r2 = PipelineRunner.run(spark, c)
    assert(r2.watermark == r1.newWatermark)
    assert(r2.appended.values.forall(_ == 0L), s"r2=${r2.appended}")

    // third run forced back to the ORIGINAL watermark: the whole window
    // re-processes, and every append must be absorbed by the anti-joins
    val sink2 = s"$sink-replay"
    // copy sinks by re-running into a fresh dir, then force-replay
    val c2 = PipelineRunner.Config("/root/testdata/sf0.001", sink2,
      Tables.WM, Tables.ASOF_DATE)
    PipelineRunner.run(spark, c2)
    // force the watermark back
    import spark.implicits._
    Seq("2024-01-10 00:00:00").toDF("lastUpdated")
      .select(org.apache.spark.sql.functions.col("lastUpdated").cast("timestamp"))
      .coalesce(1).write.mode("overwrite").parquet(s"$sink2/lastUpdated")
    val r3 = PipelineRunner.run(spark, c2)
    assert(r3.watermark == "2024-01-10 00:00:00")
    assert(r3.appended.values.forall(_ == 0L), s"r3=${r3.appended}")

    // sink row counts match the pure-query row counts for the same window
    val enrichedRows = spark.read.parquet(s"$sink/transactiondatas").count()
    assert(enrichedRows == SparkEntry.queries("tx_enrich")(spark, "/root/testdata/sf0.001").count())
    val aumRows = spark.read.parquet(s"$sink/AUMdata").count()
    assert(aumRows == SparkEntry.queries("route_aum")(spark, "/root/testdata/sf0.001").count())
  }

  test("a run that fails while routing keeps its watermark, and the rerun matches a clean run") {
    val sf = "/root/testdata/sf0.001"
    val clean = SparkSpec.tempDir("graft-sink-clean").toString
    PipelineRunner.run(spark, PipelineRunner.Config(sf, clean, Tables.WM, Tables.ASOF_DATE))

    val sink = SparkSpec.tempDir("graft-sink-fail").toString
    val c = PipelineRunner.Config(sf, sink, Tables.WM, Tables.ASOF_DATE)
    // a plain file where the AUM sink dir belongs: routing to it throws
    val blocker = Paths.get(s"$sink/AUMdata")
    Files.write(blocker, "not parquet".getBytes)
    intercept[Exception](PipelineRunner.run(spark, c))
    val deadline = System.nanoTime + TimeUnit.SECONDS.toNanos(15)
    def active = spark.sparkContext.statusTracker.getActiveJobIds()
    while (active.nonEmpty && System.nanoTime < deadline) Thread.sleep(50)
    assert(active.isEmpty, "every job of the failed run has ended")
    assert(PipelineRunner.currentWatermark(spark, c) == Tables.WM,
      "the watermark moves only after every sink holds the window")

    Files.delete(blocker)
    PipelineRunner.run(spark, c)
    def sameRows(a: DataFrame, b: DataFrame): Boolean = {
      val bAligned = b.select(a.columns.map(col).toSeq: _*)
      a.exceptAll(bAligned).isEmpty && bAligned.exceptAll(a).isEmpty
    }
    for (name <- Seq("priceInUSD", "transactiondatas", "stats", "lastUpdated", "AUMdata",
        "nominationsupdateddata", "amountstakeddata", "kusamanominationsupdateddata")) {
      (Sink.read(spark, s"$clean/$name", None), Sink.read(spark, s"$sink/$name", None)) match {
        case (Some(want), Some(got)) => assert(sameRows(want, got), name)
        case (want, got) => assert(want.isEmpty && got.isEmpty, name)
      }
    }
  }

  test("a run killed inside the watermark swap resumes from its own watermark") {
    val sink = SparkSpec.tempDir("graft-sink-swap").toString
    val c = PipelineRunner.Config("/root/testdata/sf0.001", sink,
      Tables.WM, Tables.ASOF_DATE)
    val r1 = PipelineRunner.run(spark, c)
    // the swap's crash window: the live generation renamed away, the
    // staged one not yet in
    val live = Paths.get(s"$sink/lastUpdated")
    Files.move(live, Paths.get(s"$sink/lastUpdated.old"))
    assert(PipelineRunner.currentWatermark(spark, c) == r1.newWatermark,
      "the previous generation is restored, not the bootstrap watermark")
    assert(Files.isDirectory(live) && !Files.exists(Paths.get(s"$sink/lastUpdated.old")))
  }
}
