package graft.tools

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import graft.SparkEntry
import graft.ops.SharedFits

/** Per-query accounting for named `SparkEntry.queries`: the formatted
  * physical plan, then two runs through the `noop` sink under Bench's
  * discipline (session fit memos cleared and a GC before each run), each
  * reporting every Spark job's duration and call site, every streaming
  * trigger's batch id, input rows and phase durations, and the run total.
  *
  * `runMain graft.tools.Probe <query> [query ...]` — the session is the
  * one `graft.Bench` builds (`SPARK_GRAFT_CPUS` threads and shuffle
  * partitions, `SPARK_GRAFT_SF_DIR` picks the corpus).
  */
object Probe {

  final case class Job(id: Int, sec: Double, site: String)
  final case class Trigger(batchId: Long, rows: Long, durationMs: Map[String, Long])
  final case class Run(jobs: Seq[Job], triggers: Seq[Trigger], sec: Double)
  final case class Report(plan: String, runs: Seq[Run])

  /** Call site of the one-task job that marks the end of a run: the
    * listener bus delivers events in order, so once the recorder sees
    * this job end it has seen every event the run posted.
    */
  private val Fence = "graft.tools.Probe fence"

  private final class Recorder extends SparkListener {
    private val starts = scala.collection.mutable.Map[Int, (Long, String)]()
    private val jobs = ArrayBuffer[Job]()
    private val triggers = ArrayBuffer[Trigger]()
    private val fenced = new java.util.concurrent.Semaphore(0)

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      // a result stage is named after its job's call site
      val site = j.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("?")
      starts(j.jobId) = (j.time, site)
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      starts.remove(j.jobId).foreach {
        case (_, Fence) => fenced.release()
        case (t0, site) => jobs += Job(j.jobId, (j.time - t0) / 1e3, site)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => synchronized {
        triggers += Trigger(p.progress.batchId, p.progress.numInputRows,
          p.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
      case _ =>
    }

    /** Runs the fence job, waits for it, and hands back (then forgets)
      * everything recorded before it.
      */
    def drain(spark: SparkSession): (Seq[Job], Seq[Trigger]) = {
      val sc = spark.sparkContext
      sc.setCallSite(Fence)
      try sc.parallelize(Seq(0), 1).count() finally sc.clearCallSite()
      if (!fenced.tryAcquire(2, java.util.concurrent.TimeUnit.MINUTES))
        throw new IllegalStateException("listener never saw the probe's fence job")
      synchronized {
        val out = (jobs.toList, triggers.toList)
        jobs.clear(); triggers.clear()
        out
      }
    }
  }

  /** Plan and two measured runs of one query. */
  def probe(spark: SparkSession, sfDir: String, name: String): Report = {
    val recorder = new Recorder
    spark.sparkContext.addSparkListener(recorder)
    try {
      recorder.drain(spark) // drop whatever ran before this query
      val runs = (1 to 2).map { _ =>
        SharedFits.clear(spark)
        System.gc()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val plan = df.queryExecution.explainString(FormattedMode)
        val (jobs, triggers) = recorder.drain(spark)
        (plan, Run(jobs, triggers, sec))
      }
      Report(runs.head._1, runs.map(_._2))
    } finally spark.sparkContext.removeSparkListener(recorder)
  }

  def lines(name: String, report: Report): Seq[String] =
    Seq(s"========== $name ==========", report.plan) ++
      report.runs.zipWithIndex.flatMap { case (run, i) =>
        run.jobs.map(j => f"[job] ${j.id}%4d ${j.sec}%7.3f s  ${j.site}") ++
          run.triggers.map { t =>
            val phases = t.durationMs.toSeq.sorted
              .map { case (k, v) => s"$k=$v" }.mkString(" ")
            s"[batch] id=${t.batchId} rows=${t.rows} ms: $phases"
          } :+
          f"[total] $name run${i + 1} ${run.sec}%.2f s"
      }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.entry(spark).count() // warm (also sets the nanos conf)
    args.foreach(name => lines(name, probe(spark, sfDir, name)).foreach(println))
    spark.stop()
  }
}
