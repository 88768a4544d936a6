package graft.streaming

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, FlatMapGroupsWithState, Join}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}

import graft.ops.Overlap

/** One oracle-gated streaming replay: a stream run to completion under
  * `Trigger.AvailableNow` (the reference cron job's incremental load, as
  * a stream) and its sink read back as a batch frame. Every twin in
  * [[StreamingPipeline]] runs through here; the twin keeps only its
  * stream, its per-batch sink logic and its drain finish.
  *
  * A replay owns, inside one scope ([[Replay.apply]]):
  *
  *  - a fresh dir under [[Replay.root]] holding the checkpoint (`ckpt/`)
  *    and the sink ([[out]]). Once the scope closes, everything but the
  *    sink is deleted — the checkpoint is dead once the stream has
  *    terminated and the drain never reads it. The sink dir STAYS: the
  *    returned frame reads it lazily, so it lives until the JVM exits and
  *    deletes the root. A scope that throws deletes the whole dir.
  *  - the run: checkpoint location, the AvailableNow trigger, `start()`
  *    and `awaitTermination()`, into either Spark's parquet file sink
  *    ([[files]]) or the caller's `foreachBatch` body ([[eachBatch]]).
  *  - the drain: the sink is read back if any part file exists under
  *    it; a stream whose source matched zero rows commits no batch and
  *    leaves no part file, so the drain returns an empty frame of the
  *    written schema instead of failing schema inference. A batchId
  *    sink ([[batchDir]]) drains without its `batch` column.
  *  - state partitions: a STATEFUL stream (streaming aggregation,
  *    `flatMapGroupsWithState`, stream-stream join — read off the
  *    analyzed plan) runs its state store at [[STATE_PARTITIONS]]. Each
  *    micro-batch pays one state-store commit per partition per stateful
  *    operator, pure fixed cost when the state is tiny (O(in-flight
  *    days) join rows, one string per user); under a session's 32 the
  *    stream-stream replay paid 32 commits × 2 join stores × every
  *    micro-batch for zero parallelism gain. State partitions are a
  *    capacity knob, not a correctness one (the oracle compare proves
  *    result identity). Stateless streams keep the session default.
  *  - fit handles: a drain-only fit starts only after `start()` returns
  *    ([[eachBatchWith]]), and every handle the scope holds ([[hold]])
  *    is joined or cancelled when it closes, so no fit job outlives a
  *    replay that failed.
  *
  * START-ONLY SCOPING RULE: the state-partition override is set on the
  * caller's session conf ONLY across `start()`. `StreamExecution`'s
  * constructor runs the stream on `sparkSession.cloneSession()`, so the
  * clone keeps the override for the state-store layout and for every
  * micro-batch — including `foreachBatch` bodies, which plan on
  * `batch.sparkSession`, the clone — while the caller's conf is
  * restored as soon as `start()` returns. Nothing the replay runs
  * concurrently plans in that window: drain-only fits start after it,
  * and a handle created earlier (see [[hold]]) belongs to a stateless
  * twin. The stream deliberately runs on the caller's session, not a
  * `newSession()`: a session's streaming listener bus reports only its
  * own queries, and progress listeners attach to the caller's.
  */
private[graft] final class Replay private (spark: SparkSession, dir: Path) {
  private val held = ArrayBuffer.empty[Overlap.Handle[_]]

  /** The sink dir the drain reads. */
  val out: String = dir.resolve("out").toString

  /** A scratch path beside the sink (a side input the stream reads). */
  def path(name: String): String = dir.resolve(name).toString

  /** The dir a batchId sink OVERWRITES for one micro-batch — a retried
    * batch rewrites its own rows instead of appending them twice.
    */
  def batchDir(batchId: Long): String = s"$out/batch=$batchId"

  /** Join-or-cancel `h` when the scope closes. */
  def hold[A](h: Overlap.Handle[A]): Overlap.Handle[A] = { held += h; h }

  /** Run `stream` into Spark's parquet file sink (append mode). */
  def files(stream: DataFrame): DataFrame =
    run(stream, stream, _.format("parquet").option("path", out)
      .outputMode(OutputMode.Append()))(())._1

  /** Run `stream` through `body(batch, batchId)` in `mode`; `empty`
    * carries the drained schema for a stream that commits no batch
    * (by-name: never built unless needed).
    */
  def eachBatch(stream: DataFrame, mode: OutputMode, empty: => DataFrame)
      (body: (DataFrame, Long) => Unit): DataFrame =
    run(stream, empty, foreach(mode, body))(())._1

  /** [[eachBatch]] plus a drain-only fit: `fit` is evaluated right after
    * `start()` returns, held, and joined after the drain.
    */
  def eachBatchWith[F](stream: DataFrame, mode: OutputMode,
      empty: => DataFrame, fit: => Overlap.Handle[F])
      (body: (DataFrame, Long) => Unit): (DataFrame, F) = {
    val (drained, h) = run(stream, empty, foreach(mode, body))(hold(fit))
    (drained, h())
  }

  private def foreach(mode: OutputMode, body: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] => DataStreamWriter[Row] =
    _.outputMode(mode).foreachBatch(body)

  /** Start, evaluate `afterStart`, run to termination, drain. */
  private def run[T](stream: DataFrame, empty: => DataFrame,
      sink: DataStreamWriter[Row] => DataStreamWriter[Row])
      (afterStart: => T): (DataFrame, T) = {
    val writer = sink(stream.writeStream)
      .option("checkpointLocation", path("ckpt"))
      .trigger(Trigger.AvailableNow())
    val q = startOn(writer, Replay.stateful(stream))
    val started =
      try { val t = afterStart; q.awaitTermination(); t }
      finally if (q.isActive) q.stop()
    (drain(empty), started)
  }

  private def startOn(writer: DataStreamWriter[Row], stateful: Boolean)
      : StreamingQuery =
    if (!stateful) writer.start()
    else {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, Replay.STATE_PARTITIONS.toString)
      try writer.start() finally spark.conf.set(key, prev)
    }

  private def drain(empty: => DataFrame): DataFrame = {
    val d = dir.resolve("out")
    // an actual part file ANYWHERE under the sink (flat sinks, batchId
    // subdirs, Hive-partitioned MERGE sinks like chain=…/); a bare
    // `_spark_metadata` dir still fails schema inference
    val hasData = Files.exists(d) && {
      val st = Files.walk(d)
      try st.anyMatch(_.toString.endsWith(".parquet"))
      finally st.close()
    }
    if (hasData) spark.read.parquet(out).drop("batch")
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], empty.schema)
  }

  private def close(ok: Boolean): Unit =
    try held.foreach(_.cancel())
    finally {
      val doomed =
        if (ok) { val st = Files.list(dir); try st.iterator.asScala.toList finally st.close() }
        else List(dir)
      doomed.filterNot(_.toString == out).foreach(p => FileUtils.deleteQuietly(p.toFile))
    }
}

private[graft] object Replay {
  /** State-store partitions of every stateful replay. */
  val STATE_PARTITIONS = 8

  /** The one temp dir this JVM's replay scopes live under, deleted at JVM
    * exit (never another JVM's dirs): the sink dirs the returned frames
    * read outlive their scopes, so nothing earlier may delete them.
    */
  private[graft] lazy val root: Path = {
    val dir = Files.createTempDirectory("graft-replays")
    sys.addShutdownHook(FileUtils.deleteQuietly(dir.toFile))
    dir
  }

  /** Open a replay scope under a dir named after `tag`; `body` runs at
    * most one stream through it.
    */
  def apply[R](spark: SparkSession, tag: String)(body: Replay => R): R = {
    val r = new Replay(spark, Files.createTempDirectory(root, tag))
    var ok = false
    try { val res = body(r); ok = true; res }
    finally r.close(ok)
  }

  /** Does `stream` keep state across micro-batches? */
  private[graft] def stateful(stream: DataFrame): Boolean =
    stream.queryExecution.analyzed.exists {
      case a: Aggregate => a.isStreaming
      case f: FlatMapGroupsWithState => f.isStreaming
      case j: Join => j.left.isStreaming && j.right.isStreaming
      case _ => false
    }
}
