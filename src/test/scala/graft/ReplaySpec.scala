package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}

import graft.ops.Overlap
import graft.pipeline.Sink
import graft.streaming.Replay

/** The streaming-replay helper and the Overlap handles it holds. */
class ReplaySpec extends SparkSpec {
  import spark.implicits._

  private val key = "spark.sql.shuffle.partitions"

  /** A two-file parquet source dir of (k, day, v) rows. */
  private def source(): String = {
    val dir = Files.createTempDirectory(Replay.root, "src").resolve("in").toString
    Seq((1L, "d1", 10L), (2L, "d1", 20L), (1L, "d2", 30L)).toDF("k", "day", "v")
      .repartition(2).write.parquet(dir)
    dir
  }

  private def read(dir: String): DataFrame =
    spark.readStream.schema("k BIGINT, day STRING, v BIGINT").parquet(dir)

  /** A job that runs ~50 s unless cancelled (the RDD iterator checks for
    * a kill between elements).
    */
  private def slowJob(): Long =
    spark.sparkContext.parallelize(1 to 2000, 4).map { i => Thread.sleep(100); i }.count()

  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime + TimeUnit.SECONDS.toNanos(15)
    while (!cond && System.nanoTime < deadline) Thread.sleep(50)
    assert(cond, what)
  }

  private def noActiveJobs(): Boolean =
    spark.sparkContext.statusTracker.getActiveJobIds().isEmpty

  test("a replay's sink dir lies under the one per-JVM root in java.io.tmpdir") {
    val (out, rows) = Replay(spark, "rooted_replay") { r => (r.out, r.files(read(source())).count()) }
    assert(rows == 3)
    assert(Paths.get(out).startsWith(Replay.root) && Files.isDirectory(Paths.get(out)), out)
    assert(Replay.root.getParent == Paths.get(System.getProperty("java.io.tmpdir")), Replay.root)
  }

  test("stateful is read off the analyzed plan: aggregation and stream-stream join, not filters") {
    val s = read(source())
    assert(Replay.stateful(s.groupBy("k").count()))
    assert(Replay.stateful(s.as("a").join(read(source()).as("b"), Seq("k"))))
    assert(!Replay.stateful(s.filter(col("v") > 0).select("k")))
    assert(!Replay.stateful(s.join(broadcast(spark.range(3).toDF("k")), Seq("k"))))
  }

  test("stateful replay: state store at 8 partitions, caller's conf never 8 while it drains") {
    assert(spark.conf.get(key) == "4")
    val statePartitions = new ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o => statePartitions.add(o.numShufflePartitions))
    }
    val seen = new ConcurrentLinkedQueue[String]()
    @volatile var polling = true
    val poller = new Thread(() => while (polling) { seen.add(spark.conf.get(key)); Thread.sleep(1) })
    spark.streams.addListener(listener)
    val rows = try Replay(spark, "conf_isolation") { r =>
      val stream = read(source()).groupBy("k").agg(sum("v").as("v"))
      r.eachBatch(stream, OutputMode.Update(), stream) { (batch, _) =>
        // the drain has begun: poll the caller's conf until the replay returns
        if (!poller.isAlive) poller.start()
        assert(batch.sparkSession.conf.get(key) == "8", "the stream's clone keeps the override")
        Sink.mergeByKey(batch, r.out, Seq("k"))
      }.as[(Long, Long)].collect().sorted.toSeq
    } finally {
      polling = false
      if (poller.isAlive) poller.join()
    }
    eventually("a progress event reports the state operator")(!statePartitions.isEmpty)
    spark.streams.removeListener(listener)
    assert(rows == Seq((1L, 40L), (2L, 20L)))
    val readings = seen.asScala.toSet
    assert(readings == Set("4"), "the caller's conf, polled while the replay drained")
    assert(spark.conf.get(key) == "4")
    assert(statePartitions.asScala.forall(_ == 8L), statePartitions.asScala.toSeq)
  }

  test("replay whose foreachBatch throws rethrows, cancels its fit, leaves no job or checkpoint") {
    val fitStarted = new CountDownLatch(1)
    var ckpt: String = null
    val t0 = System.nanoTime
    val e = intercept[Exception] {
      Replay(spark, "failing_replay") { r =>
        ckpt = r.path("ckpt")
        val stream = read(source())
        r.eachBatchWith(stream, OutputMode.Append(), stream,
            Overlap.start { fitStarted.countDown(); slowJob() }) { (_, _) =>
          fitStarted.await(30, TimeUnit.SECONDS)
          throw new IllegalStateException("boom")
        }
      }
    }
    val secs = (System.nanoTime - t0) / 1e9
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("boom")), e)
    assert(secs < 25, s"the replay waited $secs s — the fit ran to completion")
    eventually("the fit's job is cancelled")(noActiveJobs())
    assert(ckpt != null && !new java.io.File(ckpt).exists, "checkpoint deleted")
  }

  test("Overlap.all fails fast: an immediate failure surfaces before a sibling's long job, which is cancelled") {
    val failed = new ConcurrentLinkedQueue[Int]()
    val jobs = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = e.jobResult match {
        case _: JobFailed => failed.add(e.jobId)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(jobs)
    val t0 = System.nanoTime
    val e = intercept[IllegalStateException] {
      Overlap.all(Seq(
        () => { slowJob(); () },
        () => throw new IllegalStateException("fast")), Overlap.DEFAULT_CAP)
    }
    val secs = (System.nanoTime - t0) / 1e9
    assert(e.getMessage == "fast")
    assert(secs < 25, s"all() returned after $secs s — it waited for the slow sibling")
    eventually("the sibling's job is cancelled")(noActiveJobs() && !failed.isEmpty)
    spark.sparkContext.removeSparkListener(jobs)
  }

  test("Overlap.all2/all3 keep each thunk's type and position") {
    val (a, (b, c)) = Overlap.all2(spark.range(3).count(), ("x", Seq(1, 2)))
    assert(a == 3L && b == "x" && c == Seq(1, 2))
    assert(Overlap.all3(1, "two", 3.0) == ((1, "two", 3.0)))
  }

  test("zero-row drain: every sink kind drains to an empty frame of its written schema") {
    val src = source()
    val emptyDir = Files.createTempDirectory(Replay.root, "empty").toString
    // a source whose filter matches nothing (batches fire, write no rows)
    // and an empty source dir (no batch fires at all)
    for ((label, open) <- Seq[(String, () => DataFrame)](
        "filtered" -> (() => read(src).filter(col("v") < 0)),
        "no files" -> (() => read(emptyDir)))) {
      def agg = open().groupBy("k", "day").agg(sum("v").as("v"))
      val kinds = Seq[(String, Replay => DataFrame)](
        "file sink" -> (_.files(open())),
        "keyed merge" -> { r => val s = agg
          r.eachBatch(s, OutputMode.Update(), s) { (b, _) =>
            Sink.mergeByKey(b, r.out, Seq("k", "day")) } },
        "partitioned merge" -> { r => val s = agg
          r.eachBatch(s, OutputMode.Update(), s) { (b, _) =>
            Sink.mergeByKeyPartitioned(b, r.out, Seq("k", "day"), "day") } },
        "batchId overwrite" -> { r => val s = open()
          r.eachBatch(s, OutputMode.Append(), s) { (b, id) =>
            b.write.mode("overwrite").parquet(r.batchDir(id)) } })
      for ((kind, run) <- kinds) {
        val drained = Replay(spark, "zero_row_replay")(r => run(r))
        assert(drained.count() == 0, s"$label / $kind")
        assert(drained.columns.toSet == Set("k", "day", "v"), s"$label / $kind: ${drained.columns.toSeq}")
      }
    }
  }
}
