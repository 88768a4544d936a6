package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.{Semaphore, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{lit, raise_error, to_date, when}

import graft.pipeline.Sink
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.TxRow

class StreamingSinkSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("foreachBatch idempotent sink: overlapping micro-batches append each key once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = SparkSpec.tempDir("graft-stream-sink")
    val sink = s"$dir/out"
    val in = MemoryStream[TxRow]
    val q = in.toDF().writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Sink.appendNew(batch, sink, Seq("_id"), None, None); ()
      }
      .start()
    in.addData(
      TxRow(1L, ts("2024-01-11 01:00:00"), 10L, 5.0, 1.0, true, 0L),
      TxRow(2L, ts("2024-01-11 02:00:00"), 11L, 3.0, 2.0, true, 0L))
    q.processAllAvailable()
    in.addData(
      TxRow(2L, ts("2024-01-11 02:00:00"), 11L, 3.0, 2.0, true, 0L), // replay of id 2
      TxRow(3L, ts("2024-01-11 03:00:00"), 12L, 7.0, 3.0, true, 0L))
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(sink).select("_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L))
  }

  test("a sink dir holding only a cancelled first append's debris reads as no sink") {
    val sink = s"${SparkSpec.tempDir("graft-debris-sink")}/out"
    Files.createDirectories(Paths.get(sink, "_temporary", "0"))
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    assert(Sink.appendNew(rows.toDF("_id", "v"), sink, Seq("_id"), None, None) == 3)
    assert(Sink.read(spark, sink, None).get.select("_id", "v").as[(Long, String)]
      .collect().sorted.toSeq == rows)
  }

  test("an append into a dated sink runs no inference, listing or count job, and returns what the sink gained") {
    val sink = s"${SparkSpec.tempDir("graft-append-jobs")}/out"
    def rows(ids: Long*) = ids.map(i => (i, ts(s"2024-01-1${1 + i % 3} 01:00:00"))).toDF("_id", "createdAt")
    def append(df: DataFrame) = Sink.appendNew(df, sink, Seq("_id"),
      Some(to_date($"createdAt")), Some($"p_date" >= lit("2024-01-11").cast("date")))
    append(rows(1L, 2L, 3L, 4L))
    val before = spark.read.parquet(sink).count()
    // the listener bus delivers in order: once it sees the fence job, it
    // has seen every event the append posted
    val fence = "StreamingSinkSpec fence"
    val fenced = new Semaphore(0)
    val outside = ArrayBuffer[String]() // jobs outside any SQL execution
    val counts = ArrayBuffer[String]() // `count` executions
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = j.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("?")
        if (site == fence) fenced.release()
        else if (j.properties.getProperty(SQLExecution.EXECUTION_ID_KEY) == null) outside += site
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.description.startsWith("count at") =>
          counts += x.description
        case _ =>
      }
    }
    def drain(): Unit = {
      spark.sparkContext.setCallSite(fence)
      try spark.sparkContext.parallelize(Seq(0), 1).count() finally spark.sparkContext.clearCallSite()
      assert(fenced.tryAcquire(2, TimeUnit.MINUTES), "the listener never saw the fence job")
    }
    spark.sparkContext.addSparkListener(listener)
    val n = try {
      drain(); outside.clear(); counts.clear()
      val n = append(rows(3L, 4L, 5L, 6L, 7L))
      drain()
      n
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(outside.isEmpty, s"jobs outside a SQL execution (inference, listing): $outside")
    assert(counts.isEmpty, s"count executions: $counts")
    assert(n == spark.read.parquet(sink).count() - before, "the return value is what the sink gained")
    assert(n == 3L)
  }

  test("an append into a sink whose files lack a key column fails, naming the column") {
    val sink = s"${SparkSpec.tempDir("graft-drift-sink")}/out"
    Seq((1L, "a"), (2L, "b")).toDF("other", "v").write.parquet(sink)
    val e = intercept[Exception](Sink.appendNew(Seq((1L, "a"), (3L, "c")).toDF("event_key", "v"),
      sink, Seq("event_key"), None, None))
    assert(e.getMessage.contains("event_key"), e.getMessage)
    assert(spark.read.parquet(sink).count() == 2L, "nothing was appended")
  }

  test("mergeByKey generation swap: merge, last-write-wins, crash-window heal") {
    val dir = SparkSpec.tempDir("graft-merge-sink")
    val sink = s"$dir/daily"
    def batch(rows: (String, Long)*) = rows.toDF("day", "n")
    Sink.mergeByKey(batch(("d1", 1L), ("d2", 1L)), sink, Seq("day"))
    Sink.mergeByKey(batch(("d2", 5L), ("d3", 1L)), sink, Seq("day"))
    def read() = spark.read.parquet(sink).as[(String, Long)].collect().sorted.toSeq
    assert(read() == Seq(("d1", 1L), ("d2", 5L), ("d3", 1L)),
      "matched key replaced, unmatched kept, new inserted")
    // simulate the one crash window: live renamed away, staging lost —
    // the next merge must heal from .old instead of restarting empty
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(sink),
      new org.apache.hadoop.fs.Path(sink + ".old")))
    Sink.mergeByKey(batch(("d3", 9L)), sink, Seq("day"))
    assert(read() == Seq(("d1", 1L), ("d2", 5L), ("d3", 9L)),
      "the healed generation preserves every previously merged key")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(sink + ".old")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(sink + ".staging")),
      "no generation debris after a successful swap")
  }

  test("replace whose write job throws keeps the previous generation, leaves no debris") {
    val dir = SparkSpec.tempDir("graft-replace-sink")
    val sink = s"$dir/lastUpdated"
    Sink.replace(Seq(1L, 2L).toDF("v"), sink)
    val failing = spark.range(3).select(
      when($"id" === 2L, raise_error(lit("boom"))).otherwise($"id").as("v"))
    intercept[Exception](Sink.replace(failing, sink))
    assert(spark.read.parquet(sink).as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "the previous generation is still the live one")
    assert(!Files.exists(java.nio.file.Paths.get(sink + ".staging")) &&
      !Files.exists(java.nio.file.Paths.get(sink + ".old")))
  }

  test("mergeByKeyPartitioned: merges touched partitions, untouched files byte-identical") {
    val dir = SparkSpec.tempDir("graft-merge-part")
    val sink = s"$dir/daily"
    def batch(rows: (String, Long, Long)*) = rows.toDF("day", "chain", "n")
    Sink.mergeByKeyPartitioned(
      batch(("d1", 0L, 1L), ("d1", 1L, 2L), ("d2", 1L, 3L)),
      sink, Seq("day", "chain"), "chain")
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(part: String): Map[String, (Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$sink/$part"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => f.getPath.getName -> (f.getLen, f.getModificationTime))
        .toMap
    val chain0Before = files("chain=0")
    // second batch touches ONLY chain=1
    Sink.mergeByKeyPartitioned(
      batch(("d2", 1L, 7L), ("d3", 1L, 4L)),
      sink, Seq("day", "chain"), "chain")
    assert(files("chain=0") == chain0Before,
      "untouched partition's files must be byte-identical (same names, sizes, mtimes)")
    def read() = spark.read.parquet(sink)
      .select($"day", $"chain".cast("long"), $"n")
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(read() == Seq(("d1", 0L, 1L), ("d1", 1L, 2L), ("d2", 1L, 7L), ("d3", 1L, 4L)),
      "matched key replaced in the touched partition, unmatched kept, new inserted")
    // idempotency of the at-least-once retry: re-merging the same batch is a fixpoint
    Sink.mergeByKeyPartitioned(
      batch(("d2", 1L, 7L), ("d3", 1L, 4L)),
      sink, Seq("day", "chain"), "chain")
    assert(read() == Seq(("d1", 0L, 1L), ("d1", 1L, 2L), ("d2", 1L, 7L), ("d3", 1L, 4L)))
  }

  test("DeltaIndex: view row set is batch-decomposition-invariant and fanout stays logarithmic") {
    // The accumulated-arrival index behind the streaming replays: the
    // same 64 rows arriving as 1, 2, or 32 batch deltas must yield the
    // SAME index view (the replays' batch-decomposition-invariance rests
    // on it), and the standing run count must respect the Bentley–Saxe
    // bound (≤ log₂B + 1 — the A/B in SCALING.md r15 is the WHY: a flat
    // run-per-batch list regressed every replay via linear scan fanout).
    val all = (0L until 64L).toDF("k")
    val zero = all.limit(0).localCheckpoint()
    def build(batches: Seq[Seq[Long]]): StreamingPipeline.DeltaIndex = {
      val idx = new StreamingPipeline.DeltaIndex(zero)
      batches.foreach { b =>
        idx += b.toDF("k").localCheckpoint()
      }
      idx
    }
    val oneGulp = build(Seq(0L until 64L))
    val byTwo = build((0L until 64L).grouped(32).toSeq)
    val byOne = build((0L until 64L).grouped(2).toSeq) // 32 batches of 2
    val expect = (0L until 64L).toSeq
    for (idx <- Seq(oneGulp, byTwo, byOne))
      assert(idx.view.as[Long].collect().sorted.toSeq == expect)
    // 32 appends = binary counter over levels: 32 = 2^5 → exactly 1 run;
    // the bound for any B is popcount(B) ≤ log₂B + 1
    assert(byOne.runCount == 1)
    val byOneOdd = build((0L until 62L).grouped(2).toSeq) // 31 batches
    assert(byOneOdd.runCount == 5) // popcount(31) = 5 ≤ log₂31 + 1
    assert(byOneOdd.view.as[Long].collect().sorted.toSeq == (0L until 62L))
  }
}
