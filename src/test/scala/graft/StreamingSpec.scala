package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.TxRow

object StreamingSpec {
  /** A price-dimension arrival: `price_ts` is the START of the day the
    * price covers (the event time the join state is bounded by).
    */
  case class PriceTick(chain: Long, price_ts: Timestamp, price: Double)
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  import StreamingSpec.PriceTick

  private def ts(s: String) = Timestamp.valueOf(s)

  test("stream-static enrichment joins the price dim per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TxRow]
    val price = Seq((0L, Date.valueOf("2024-01-11"), 2.0))
      .toDF("chain", "price_date", "price")
    in.addData(
      TxRow(1L, ts("2024-01-11 01:00:00"), 10L, 5.0, 5.0, true, 0L),
      TxRow(2L, ts("2024-01-11 02:00:00"), 11L, 3.0, 8.0, false, 0L))
    // AvailableNow = the cron shape: process everything present, then stop
    val q = graft.pipeline.ReferencePipeline.enrich(in.toDF(), price)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("enriched")
      .select("_id", "priceUSD", "txDollarValue")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2.0, 10.0)))
    assert(got(2L) == ((2L, 2.0, 0.0))) // failed tx kept with 0 (Q7)
  }

  test("stream-stream enrichment: late price arrivals join buffered tx; state is watermark-bounded") {
    implicit val sqlCtx = spark.sqlContext
    val txIn = MemoryStream[TxRow]
    val pIn = MemoryStream[PriceTick]
    val q = StreamingPipeline.enrichJoinStream(txIn.toDF(), pIn.toDF())
      .writeStream.format("memory").queryName("ssenrich")
      .outputMode("append").start()
    // batch 1: day-1 price + two day-1 tx (one failed — Q7), and a day-2
    // tx whose price has NOT arrived yet (buffered in join state)
    pIn.addData(PriceTick(0L, ts("2024-01-11 00:00:00"), 2.0))
    txIn.addData(
      TxRow(1L, ts("2024-01-11 01:00:00"), 10L, 5.0, 5.0, true, 0L),
      TxRow(2L, ts("2024-01-11 02:00:00"), 11L, 3.0, 8.0, false, 0L),
      TxRow(3L, ts("2024-01-12 01:00:00"), 12L, 7.0, 4.0, true, 0L))
    q.processAllAvailable()
    val afterB1 = spark.table("ssenrich").as[(Long, Timestamp, Long, Double,
      Double, Boolean, Long, Double, Double)].collect().map(_._1).toSet
    assert(afterB1 == Set(1L, 2L), "day-2 tx must wait for its price")
    // batch 2: the day-2 price arrives AFTER the transactions it prices —
    // the out-of-order shape the stream-static join cannot express
    pIn.addData(PriceTick(0L, ts("2024-01-12 00:00:00"), 3.0))
    q.processAllAvailable()
    // equivalence: all emitted rows = batch ReferencePipeline.enrich over
    // the same inputs (incl. Q7: failed tx kept with txDollarValue = 0)
    val streamed = spark.table("ssenrich").as[(Long, Timestamp, Long, Double,
      Double, Boolean, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val batchTx = Seq(
      (1L, ts("2024-01-11 01:00:00"), 10L, 5.0, 5.0, true, 0L),
      (2L, ts("2024-01-11 02:00:00"), 11L, 3.0, 8.0, false, 0L),
      (3L, ts("2024-01-12 01:00:00"), 12L, 7.0, 4.0, true, 0L))
      .toDF("_id", "createdAt", "stashId", "stake", "alreadyBonded",
        "successful", "chain")
    val batchPrice = Seq((0L, Date.valueOf("2024-01-11"), 2.0),
      (0L, Date.valueOf("2024-01-12"), 3.0))
      .toDF("chain", "price_date", "price")
    val batch = graft.pipeline.ReferencePipeline.enrich(batchTx, batchPrice)
      .as[(Long, Timestamp, Long, Double, Double, Boolean, Long, Double,
        Double)].collect().sortBy(_._1).toSeq
    assert(streamed == batch,
      "stream-stream rows must equal the batch enrichment row for row")
    assert(streamed.map(r => r._1 -> r._9).toMap ==
      Map(1L -> 10.0, 2L -> 0.0, 3L -> 9.0))
    // batch 3: advance BOTH watermarks far past the buffered January days
    // — join state must shrink to the new in-flight rows, not accumulate
    // stream history (eviction runs in the cleanup pass processAllAvailable
    // includes once the watermark moves)
    def stateRows: Long = q.lastProgress.stateOperators.head.numRowsTotal
    val before = stateRows // the 3 tx + 2 price rows buffered so far
    txIn.addData(TxRow(99L, ts("2024-02-01 00:00:00"), 99L, 1.0, 1.0, true, 0L))
    pIn.addData(PriceTick(0L, ts("2024-02-01 00:00:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    assert(stateRows < before,
      s"watermark must evict the January join state (was $before, now $stateRows)")
  }

  test("stateful first-seen emits each stash exactly once across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TxRow]
    val q = StreamingPipeline.firstSeen(in.toDS())
      .writeStream.format("memory").queryName("firstseen")
      .outputMode("append").start()
    in.addData(
      TxRow(1L, ts("2024-01-11 01:00:00"), 10L, 5.0, 1.0, true, 0L),
      TxRow(2L, ts("2024-01-11 00:30:00"), 10L, 4.0, 1.0, true, 0L), // earlier: wins
      TxRow(3L, ts("2024-01-11 02:00:00"), 11L, 7.0, 2.0, true, 0L))
    q.processAllAvailable()
    in.addData(
      TxRow(4L, ts("2024-01-12 01:00:00"), 10L, 9.0, 3.0, true, 0L), // known stash: silent
      TxRow(5L, ts("2024-01-12 02:00:00"), 12L, 6.0, 4.0, true, 0L)) // new stash: emit
    q.processAllAvailable(); q.stop()
    val got = spark.table("firstseen")
      .select("stashId", "_id", "firstStake").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(10L, 11L, 12L))
    assert(got(10L) == ((10L, 2L, 4.0))) // batch-internal ordering by (ts, _id)
    assert(got(12L) == ((12L, 5L, 6.0)))
  }

  test("streaming near-dup emits band candidates against the first-seen bucket doc") {
    implicit val sqlCtx = spark.sqlContext
    val base = "spark table scan hash join sort merge window agg batch " +
      "stream filter group key value row column line part query"
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingPipeline.nearDupStream(
        in.toDF().toDF("doc_id", "ts", "text"), "ts", "1 hour")
      .writeStream.format("memory").queryName("neardupstream")
      .outputMode("append").start()
    in.addData((1L, ts("2024-01-11 01:00:00"), base))
    q.processAllAvailable()
    in.addData(
      // 1-word edit of doc 1, arriving a batch later -> candidate (1, 2)
      (2L, ts("2024-01-11 01:05:00"), base.replaceFirst("window", "vector")),
      (3L, ts("2024-01-11 01:06:00"),
        "dup big small fast slow the a customer data order sort key line"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("neardupstream")
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
    assert(!got.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("streaming corpus gate: batch quality/sample operators run unchanged on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String, String)]
    import graft.ops.TextAnalysis
    def gate(docs: org.apache.spark.sql.DataFrame) = TextAnalysis.quality(docs)
      .filter($"quality_score" >= TextAnalysis.QUALITY_MIN)
    val q = gate(in.toDF().toDF("doc_id", "text", "lang", "source"))
      .writeStream.format("memory").queryName("corpusgate")
      .outputMode("append").start()
    val rows = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel", "en", "web"),
      (2L, "a a a a a a a a", "en", "web"), // ttr 1/8, all short -> filtered
      (3L, "spark table scan hash join sort merge window", "en", "web"))
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("corpusgate").select("doc_id").as[Long].collect().toSet
    // batch run of the same gate on the same rows must agree exactly
    val batch = gate(rows.toDF("doc_id", "text", "lang", "source"))
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == batch)
    assert(!streamed.contains(2L) && streamed.contains(1L))
  }

  test("streaming scrub: arrivals redacted identically to the batch scrub over the same corpus") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.TextAnalysis
    val standing = Seq((0L, "a b c d", "en", "s0")) // 0 % 97 == 0 → the benchmark
      .toDF("doc_id", "text", "lang", "source")
    val bench = TextAnalysis.benchShinglesOf(standing).localCheckpoint()
    val dir = SparkSpec.tempDir("graft-scrub-sink")
    val sink = s"$dir/out"
    val in = MemoryStream[(Long, String, String, String)]
    // the replay's per-batch body: join-form scrub, then the idempotent append
    val q = in.toDF().toDF("doc_id", "text", "lang", "source").writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.pipeline.Sink.appendNew(TextAnalysis.decontamScrubAgainstShingles(
          batch.filter($"doc_id" % TextAnalysis.DECONTAM_MOD =!= 0), bench),
          sink, Seq("doc_id"), None, None); ()
      }.start()
    val arrivals = Seq(
      (1L, "x a b c d y z", "en", "s0"), // quotes the benchmark mid-doc
      (2L, "p q r s t", "en", "s1"),     // clean
      (194L, "a b c d", "en", "s1"))     // 194 % 97 == 0 → bench id, dropped
    in.addData(arrivals.take(2): _*)
    q.processAllAvailable()
    in.addData(arrivals.drop(1): _*) // doc 2 delivered again
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(sink)
      .select("doc_id", "n_tokens", "n_contam_ngrams", "n_redacted", "clean_fp")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    // batch twin over standing ∪ arrivals must agree row for row
    val batch = graft.ops.TextAnalysis.decontamScrub(
        (standing.as[(Long, String, String, String)].collect().toSeq ++ arrivals)
          .toDF("doc_id", "text", "lang", "source"))
      .select("doc_id", "n_tokens", "n_contam_ngrams", "n_redacted", "clean_fp")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.map(_._1).toSet == Set(1L, 2L), "bench-id arrivals are dropped")
    assert(streamed.find(_._1 == 1L).get._4 == 4L, "the quoted span is redacted")
  }

  test("streaming transitions: cross-batch pairs equal the batch lag window") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    val q = StreamingPipeline.transitionsStream(
        in.toDS().map(r => StreamingPipeline.TypedEvent(r._1, r._2, r._3, r._4)))
      .writeStream.format("memory").queryName("transstream")
      .outputMode("append").start()
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 09:$m%02d:00")
    // batch 1 arrives out of order WITHIN the batch (sorted by ts there);
    // batch 2 continues user 1 across the state boundary
    in.addData((2L, t(5), 1L, "view"), (1L, t(1), 1L, "login"), (3L, t(7), 2L, "login"))
    q.processAllAvailable()
    in.addData((4L, t(9), 1L, "purchase"), (5L, t(11), 2L, "error"))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("transstream")
      .as[StreamingPipeline.Transition].collect()
      .map(tr => (tr.user_id, tr.prev_type, tr.cur_type)).sorted.toSeq
    assert(streamed == Seq(
      (1L, "login", "view"), (1L, "view", "purchase"), (2L, "login", "error")),
      "pairs must respect within-batch ts order and survive the batch boundary")
  }

  test("streaming attribution: credits across micro-batches equal the batch carry window") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = StreamingPipeline.attributionStream(
        in.toDS().map(r => StreamingPipeline.ValuedEvent(r._1, r._2, r._3, r._4, r._5)))
      .writeStream.format("memory").queryName("attrstream")
      .outputMode("append").start()
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 09:$m%02d:00")
    // batch 1: organic purchase before any touch, then a click
    in.addData((1L, t(1), 1L, "purchase", 5.00), (2L, t(2), 1L, "click", 0.0))
    q.processAllAvailable()
    // batch 2: the click state survives the boundary; an error cannot
    // steal credit; a later view takes over for the final purchase
    in.addData((3L, t(5), 1L, "error", 0.0), (4L, t(6), 1L, "purchase", 2.50),
      (5L, t(7), 1L, "view", 0.0), (6L, t(8), 1L, "purchase", 1.00))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("attrstream")
      .as[StreamingPipeline.AttributedPurchase].collect()
      .map(a => (a.touch_type, a.cents)).sorted.toSeq
    assert(streamed == Seq(("click", 250L), ("none", 500L), ("view", 100L)))
    // and the batch twin lands on the identical rollup
    val batch = graft.ops.Relational.attribution(
        Seq((1L, t(1), 1L, "purchase", 5.00), (2L, t(2), 1L, "click", 0.0),
          (3L, t(5), 1L, "error", 0.0), (4L, t(6), 1L, "purchase", 2.50),
          (5L, t(7), 1L, "view", 0.0), (6L, t(8), 1L, "purchase", 1.00))
          .toDF("event_id", "ts", "user_id", "event_type", "value"))
      .as[(String, Long, Long)].collect().map(r => (r._1, r._3)).sorted.toSeq
    assert(batch == streamed.groupBy(_._1).toSeq
      .map { case (k, v) => (k, v.map(_._2).sum) }.sortBy(_._1))
  }

  test("streaming scd2: closed intervals across micro-batches equal the batch non-final ones") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.{Date, Timestamp}
    val in = MemoryStream[(Long, Date, String)]
    val q = StreamingPipeline.scd2Stream(
        in.toDS().map(r => StreamingPipeline.StateChange(r._1, r._2, r._3, 0L, 0L)))
      .writeStream.format("memory").queryName("scd2stream")
      .outputMode("append").start()
    def d(day: Int) = Date.valueOf(f"2024-01-$day%02d")
    // batch 1: user 1 holds A for two days; batch 2: B then back to A;
    // batch 3: C confirms the A[d4] close so B's interval can flush
    in.addData((1L, d(1), "A"), (1L, d(2), "A"))
    q.processAllAvailable()
    in.addData((1L, d(3), "B"), (1L, d(4), "A"))
    q.processAllAvailable()
    in.addData((1L, d(5), "C"))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("scd2stream")
      .select("user_id", "state", "valid_from", "valid_to", "n_days")
      .as[(Long, String, String, String, Long)].collect().sortBy(_._3)
    // batch twin over the same facts as events (one event per day)
    val ev = Seq(
      (1L, "2024-01-01", "A"), (2L, "2024-01-02", "A"),
      (3L, "2024-01-03", "B"), (4L, "2024-01-04", "A"),
      (5L, "2024-01-05", "C"))
      .map { case (id, day, st) =>
        (id, Timestamp.valueOf(s"$day 09:00:00"), 1L, st, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch = graft.ops.Relational.userStateScd2(ev)
      .select("user_id", "state", "valid_from", "valid_to", "n_days")
      .as[(Long, String, String, String, Long)].collect().sortBy(_._3)
    // the stream has emitted every batch interval except the open last
    // AND the most recent close (A[d4,d4]) — pending until a day after
    // d5 proves it final (the still-retractable-tail contract)
    assert(streamed.toSeq == batch.toSeq.dropRight(2))
    assert(streamed.toSeq == Seq(
      (1L, "A", "2024-01-01", "2024-01-02", 2L),
      (1L, "B", "2024-01-03", "2024-01-03", 1L)))
  }

  test("streaming scd2: a same-day revision retracts the day instead of overlapping") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Date
    val in = MemoryStream[(Long, Date, String, Long)]
    val q = StreamingPipeline.scd2Stream(
        in.toDS().map(r => StreamingPipeline.StateChange(r._1, r._2, r._3, r._4, 0L)))
      .writeStream.format("memory").queryName("scd2rev")
      .outputMode("append").start()
    def d(day: Int) = Date.valueOf(f"2024-01-$day%02d")
    in.addData((1L, d(1), "A", 1L), (1L, d(2), "A", 2L))
    q.processAllAvailable()
    // a later event on day 2 revises it to B: A must close at day 1
    in.addData((1L, d(2), "B", 3L))
    q.processAllAvailable()
    // and a second same-day revision replaces the 1-day B wholesale;
    // days 3 and 4 then confirm A[d1,d1] and C[d2,d2] as final
    in.addData((1L, d(2), "C", 4L), (1L, d(3), "A", 5L))
    q.processAllAvailable()
    in.addData((1L, d(4), "B", 6L))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("scd2rev")
      .select("user_id", "state", "valid_from", "valid_to", "n_days")
      .as[(Long, String, String, String, Long)].collect().sortBy(_._3)
    assert(streamed.toSeq == Seq(
      (1L, "A", "2024-01-01", "2024-01-01", 1L),   // day 2 retracted
      (1L, "C", "2024-01-02", "2024-01-02", 1L)))  // B never emitted; A[d3] pending
  }

  test("streaming scd2: intra-batch revise-away-and-back emits nothing, like batch") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Date
    val in = MemoryStream[(Long, Date, String, Long)]
    val q = StreamingPipeline.scd2Stream(
        in.toDS().map(r => StreamingPipeline.StateChange(r._1, r._2, r._3, r._4, 0L)))
      .writeStream.format("memory").queryName("scd2oneb")
      .outputMode("append").start()
    def d(day: Int) = Date.valueOf(f"2024-01-$day%02d")
    // one micro-batch: day 2 is B then revised to A by a later event —
    // the day's FINAL state is A, so the open interval is A(d1..d2)
    // and nothing closes (the batch twin emits nothing here either)
    in.addData((1L, d(1), "A", 1L), (1L, d(2), "B", 2L), (1L, d(2), "A", 3L))
    q.processAllAvailable()
    assert(spark.table("scd2oneb").count() == 0L,
      "revise-away-and-back within a batch must not emit a phantom interval")
    // the next day's different state closes the merged A interval; the
    // day after that proves the close final and flushes it
    in.addData((1L, d(3), "B", 4L))
    q.processAllAvailable()
    in.addData((1L, d(4), "C", 5L))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("scd2oneb")
      .select("state", "valid_from", "valid_to", "n_days")
      .as[(String, String, String, Long)].collect()
    assert(streamed.toSeq == Seq(("A", "2024-01-01", "2024-01-02", 2L)))
  }

  test("streaming scd2: a CROSS-batch revise-back merges with the held interval, like batch") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Date
    val in = MemoryStream[(Long, Date, String, Long)]
    val q = StreamingPipeline.scd2Stream(
        in.toDS().map(r => StreamingPipeline.StateChange(r._1, r._2, r._3, r._4, 0L)))
      .writeStream.format("memory").queryName("scd2xrev")
      .outputMode("append").start()
    def d(day: Int) = Date.valueOf(f"2024-01-$day%02d")
    // batch 1 closes A[d1,d1] against B[d2]; batch 2 revises d2 BACK to
    // A — the batch twin's daily states are d1=A, d2=A: ONE island,
    // nothing non-final, so the stream must emit NOTHING here (the old
    // eager-emit design leaked a phantom A[d1,d1])
    in.addData((1L, d(1), "A", 1L), (1L, d(2), "B", 2L))
    q.processAllAvailable()
    in.addData((1L, d(2), "A", 3L))
    q.processAllAvailable()
    assert(spark.table("scd2xrev").count() == 0L,
      "cross-batch revise-back must merge with the held interval, not emit")
    // the merged interval then closes as ONE island and flushes once
    // a later day proves it final — exactly the batch interval
    in.addData((1L, d(3), "C", 4L))
    q.processAllAvailable()
    in.addData((1L, d(4), "D", 5L))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("scd2xrev")
      .select("state", "valid_from", "valid_to", "n_days")
      .as[(String, String, String, Long)].collect().sortBy(_._2)
    assert(streamed.toSeq == Seq(("A", "2024-01-01", "2024-01-02", 2L)))
  }

  test("streaming dsir: corpus-fitted model scores the stream identically to batch") {
    implicit val sqlCtx = spark.sqlContext
    val vocabA = (0 until 12).map(i => s"alphaword$i").mkString(" ")
    val vocabB = (0 until 12).map(i => s"betaword$i").mkString(" ")
    val corpus = Seq(
      (0L, vocabA, "en", "s"), (1L, vocabA, "en", "s"),
      (2L, vocabB, "de", "s"), (3L, vocabB, "de", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val in = MemoryStream[(Long, String)]
    val q = graft.ops.TextAnalysis.dsirScored(
        in.toDF().toDF("doc_id", "text"), graft.ops.TextAnalysis.dsirModel(corpus))
      .writeStream.format("memory").queryName("dsirstream")
      .outputMode("append").start()
    in.addData((10L, vocabA), (11L, vocabB), (12L, "neverseen tokens here"))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("dsirstream")
      .select("doc_id", "dsir_score").as[(Long, Double)].collect().toMap
    val batch = graft.ops.TextAnalysis.dsirScored(
        Seq((10L, vocabA), (11L, vocabB), (12L, "neverseen tokens here"))
          .toDF("doc_id", "text"),
        graft.ops.TextAnalysis.dsirModel(corpus))
      .select("doc_id", "dsir_score").as[(Long, Double)].collect().toMap
    assert(streamed == batch)
    assert(streamed(10L) > streamed(11L), "on-target text must outscore off-target")
  }

  test("streaming anomaly: closed day windows score against the static history profile") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    // 4 history days of 'click': 1, 1, 1, 3 events → mean 1.5, σ 1
    val history = Seq(
      (1L, ts("2024-01-01 01:00:00"), "click"),
      (2L, ts("2024-01-02 01:00:00"), "click"),
      (3L, ts("2024-01-03 01:00:00"), "click"),
      (4L, ts("2024-01-04 01:00:00"), "click"),
      (5L, ts("2024-01-04 02:00:00"), "click"),
      (6L, ts("2024-01-04 03:00:00"), "click"))
      .toDF("event_id", "ts", "event_type")
    val q = StreamingPipeline.anomalyStream(
        in.toDF().toDF("event_id", "ts", "event_type"), history, lateness = "1 hour")
      .writeStream.format("memory").queryName("anom").outputMode("append").start()
    in.addData( // spike day (4 events) and a normal day (2 events)
      (10L, ts("2024-02-01 01:00:00"), "click"),
      (11L, ts("2024-02-01 02:00:00"), "click"),
      (12L, ts("2024-02-01 03:00:00"), "click"),
      (13L, ts("2024-02-01 04:00:00"), "click"),
      (14L, ts("2024-02-02 01:00:00"), "click"),
      (15L, ts("2024-02-02 02:00:00"), "click"))
    q.processAllAvailable()
    in.addData((20L, ts("2024-02-05 01:00:00"), "click")) // advance the watermark
    q.processAllAvailable(); q.stop()
    val got = spark.table("anom")
      .select("day", "n_events", "z_score", "is_anomaly")
      .as[(String, Long, Double, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got("2024-02-01") == ((4L, 2.5, true)))
    assert(got("2024-02-02") == ((2L, 0.5, false)))
  }

  test("daily tumbling window aggregates per (chain, day)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TxRow]
    val q = StreamingPipeline.dailyVolume(in.toDF())
      .writeStream.format("memory").queryName("daily")
      .outputMode("complete").start()
    in.addData(
      TxRow(1L, ts("2024-01-11 01:00:00"), 10L, 5.0, 1.0, true, 0L),
      TxRow(2L, ts("2024-01-11 23:00:00"), 11L, 3.0, 1.0, true, 0L),
      TxRow(3L, ts("2024-01-12 00:30:00"), 12L, 7.0, 1.0, true, 0L))
    q.processAllAvailable(); q.stop()
    val got = spark.table("daily")
      .select("day", "n_tx", "total_stake").as[(Timestamp, Long, Double)]
      .collect().map(r => r._1.toString.take(10) -> (r._2, r._3)).toMap
    assert(got("2024-01-11") == ((2L, 8.0)))
    assert(got("2024-01-12") == ((1L, 7.0)))
  }

  test("update-mode MERGE sink: revised and new keys across micro-batches land on the batch rollup") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TxRow]
    val tmp = SparkSpec.tempDir("merge_sink")
    val out = s"$tmp/daily"
    val q = StreamingPipeline.dailyVolume(in.toDF())
      .select(org.apache.spark.sql.functions.col("day").cast("date").cast("string").as("day"),
        org.apache.spark.sql.functions.col("chain"),
        org.apache.spark.sql.functions.col("n_tx"),
        org.apache.spark.sql.functions.col("total_stake"))
      .writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.pipeline.Sink.mergeByKey(b, out, Seq("day", "chain"))
      }
      .start()
    val rows = Seq(
      TxRow(1L, ts("2024-01-11 01:00:00"), 10L, 5.0, 1.0, true, 0L),
      TxRow(2L, ts("2024-01-11 23:00:00"), 11L, 3.0, 1.0, true, 0L),
      TxRow(3L, ts("2024-01-12 00:30:00"), 12L, 7.0, 1.0, true, 1L))
    val later = Seq(
      TxRow(4L, ts("2024-01-11 12:00:00"), 13L, 2.0, 1.0, true, 0L), // revises day 11
      TxRow(5L, ts("2024-01-13 08:00:00"), 14L, 4.0, 1.0, true, 0L)) // new day
    in.addData(rows: _*)
    q.processAllAvailable()
    in.addData(later: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(out)
      .select("day", "chain", "n_tx", "total_stake")
      .as[(String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val want = (rows ++ later).groupBy(r => (r.createdAt.toString.take(10), r.chain))
      .map { case (k, g) => k -> (g.size.toLong, g.map(_.stake).sum) }
    assert(got == want,
      "the merged sink must equal the cold GROUP BY over all arrivals")
  }

  test("streaming IVF ingest assigns arriving vectors to the same cells as batch") {
    implicit val sqlCtx = spark.sqlContext
    // static corpus: two clear direction clusters, 12 vectors, k=4 seeds
    val corpus = (0 until 12).map { i =>
      val v = if (i % 2 == 0) Array(1.0f, 0.01f * i) else Array(0.01f * i, 1.0f)
      (i.toLong, v, 0)
    }
    val corpusDf = corpus.toDF("vec_id", "embedding", "label")
    val batchCells = graft.ops.Similarity
      .kmeansCells(graft.ops.Similarity.withNorm(corpusDf).localCheckpoint())
      .as[(Long, Long)].collect().toMap
    val in = MemoryStream[(Long, Array[Float], Int)]
    val q = StreamingPipeline.ivfAssignStream(
        in.toDF().toDF("vec_id", "embedding", "label"),
        graft.ops.Similarity.cellAssigner(corpusDf))
      .writeStream.format("memory").queryName("ivfingest")
      .outputMode("append").start()
    // stream the corpus's own vectors in two micro-batches
    in.addData(corpus.take(6).map(r => (r._1, r._2, r._3)): _*)
    q.processAllAvailable()
    in.addData(corpus.drop(6).map(r => (r._1, r._2, r._3)): _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ivfingest")
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(streamed == batchCells)
  }

  test("streaming index-drift monitor reproduces the batch report's new-batch columns") {
    implicit val sqlCtx = spark.sqlContext
    // full fixture = the batch report's world: even ids are the standing
    // corpus, odd ids the arriving batch (drifted off the even bundles)
    def bundle(i: Int): Array[Float] =
      if (i % 4 == 0) Array(1.0f, 0.001f * i, 0.0f)
      else Array(0.001f * i, 1.0f, 0.0f)
    val prior = (0 until 32 by 2).map(i => (i.toLong, bundle(i), 0))
    val arriving = (1 until 32 by 2).map(i =>
      (i.toLong, Array(1.0f, 0.0f, 0.8f + 0.001f * i), 0))
    val full = (prior ++ arriving).toDF("vec_id", "embedding", "label")
    val batchNew = graft.ops.Similarity.indexDrift(full)
      .filter(org.apache.spark.sql.functions.col("n_new") > 0)
      .select("cell", "n_new", "avg_cos_new")
      .as[(Long, Long, Double)].collect()
      .map { case (c, n, a) => c -> ((n, a)) }.toMap
    val in = MemoryStream[(Long, Array[Float], Int)]
    val (cellCol, cosCol) = graft.ops.Similarity.driftScorerCols(
      prior.toDF("vec_id", "embedding", "label"))
    val q = StreamingPipeline.indexDriftStream(
        in.toDF().toDF("vec_id", "embedding", "label"), cellCol, cosCol)
      .writeStream.format("memory").queryName("driftmon")
      .outputMode("complete").start()
    in.addData(arriving.take(7): _*)
    q.processAllAvailable()
    in.addData(arriving.drop(7): _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("driftmon")
      .as[(Long, Long, Double)].collect()
      .map { case (c, n, a) => c -> ((n, a)) }.toMap
    assert(streamed == batchNew,
      "cross-micro-batch monitor state must equal the batch report's new-half columns")
  }

  test("streaming sessionizer: strict gap boundary, cross-batch continuation") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    val q = StreamingPipeline.sessionizeStream(
        in.toDS().map(r => StreamingPipeline.TypedEvent(r._1, r._2, r._3, r._4)))
      .writeStream.format("memory").queryName("sessstream")
      .outputMode("append").start()
    def t(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    def us(s: String) = t(s).toInstant.getEpochSecond * 1000000L
    // batch 1, out of order within the batch: 09:00, then EXACTLY +30min
    // (same session — the batch islands use strict > gap), then +30min+1s
    // (new session)
    in.addData((2L, t("09:30:00"), 1L, "view"), (1L, t("09:00:00"), 1L, "login"),
      (3L, t("10:00:01"), 1L, "view"))
    q.processAllAvailable()
    // batch 2: user 1 continues the 10:00:01 session across the state
    // boundary (within gap of the last event), then a post-gap arrival
    // opens a third; user 2's first event starts its own
    in.addData((4L, t("10:20:00"), 1L, "purchase"),
      (5L, t("11:30:00"), 1L, "login"), (6L, t("09:05:00"), 2L, "login"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("sessstream")
      .as[StreamingPipeline.SessionAssign].collect()
      .map(a => a.event_id -> a.session_start_us).toMap
    assert(got == Map(
      1L -> us("09:00:00"), 2L -> us("09:00:00"), 3L -> us("10:00:01"),
      4L -> us("10:00:01"), 5L -> us("11:30:00"), 6L -> us("09:05:00")),
      "exact-gap pair shares a session; sessions survive the batch boundary")
  }

  test("streaming dedup groups: first-seen winner and counts accumulate across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingPipeline.dedupGroupsStream(
        in.toDS().map(r => StreamingPipeline.DocArrival(r._1, r._2, r._3)))
      .writeStream.format("memory").queryName("dedupgroups")
      .outputMode("update").start()
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 09:$m%02d:00")
    // batch 1 arrives out of order within the batch: doc 5 then doc 2
    // share fp "a" — the earlier (ts, doc_id) arrival must win
    in.addData((5L, t(3), "a"), (2L, t(1), "a"), (9L, t(2), "b"))
    q.processAllAvailable()
    // batch 2: a later "a" arrival must NOT displace the winner, only
    // count; an EARLIER-ts "b" arrival (an out-of-order multi-file
    // source) MUST displace b's winner
    in.addData((1L, t(9), "a"), (7L, t(8), "c"), (4L, t(0), "b"))
    q.processAllAvailable(); q.stop()
    // update mode re-emits a group per batch it changes in — keep the last
    val got = spark.table("dedupgroups")
      .as[StreamingPipeline.FpGroup].collect()
      .groupBy(_.fp).map { case (fp, rows) =>
        fp -> rows.maxBy(_.dup_count) }.toMap
    assert(got("a") == StreamingPipeline.FpGroup("a", 2L, 3L),
      "fp a: earliest (ts, doc_id) wins across batches, count reaches 3")
    assert(got("b") == StreamingPipeline.FpGroup("b", 4L, 2L),
      "fp b: a later batch's earlier event displaces the stored winner")
    assert(got("c") == StreamingPipeline.FpGroup("c", 7L, 1L))
  }

  test("sessionizer replay groups equal the batch islands on the fixture") {
    val sf = "/root/testdata/sf0.001"
    val streamed = StreamingPipeline.userSessionsReplay(spark, sf)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val batch = graft.ops.Relational.sessionized(
        graft.pipeline.Tables.events(spark, sf))
      .groupBy(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("session_id"))
      .agg(org.apache.spark.sql.functions.min("us").as("session_start_us"),
        org.apache.spark.sql.functions.max("us").as("session_last_us"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("session_events"))
      .select("user_id", "session_start_us", "session_last_us", "session_events")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(streamed == batch,
      "per-event assignment grouped = lag+running-sum islands, session for session")
  }
}
