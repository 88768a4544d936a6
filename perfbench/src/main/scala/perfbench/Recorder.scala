package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced runs only: records what Spark's public listener buses report, as
  * flat rows with epoch-millisecond times. Nothing is attributed here; the
  * caller assigns each row to the op whose interval contains it (ops run one
  * at a time, so that is unambiguous). Events arrive on Spark's listener
  * threads, so every buffer is guarded by the recorder's lock.
  */
final class Recorder {
  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobStarts = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val sql = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val blocks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val triggers = mutable.ArrayBuffer.empty[Map[String, Any]]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      jobStarts(e.jobId) = (e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, stageIds) =>
        jobs += Map("id" -> e.jobId, "start_ms" -> t0, "end_ms" -> e.time,
          "stages" -> stageIds, "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Recorder.this.synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      stages += Map("id" -> s.stageId,
        "start_ms" -> s.submissionTime.getOrElse(0L),
        "end_ms" -> s.completionTime.getOrElse(0L),
        "tasks" -> s.numTasks,
        "task_ms" -> (if (m == null) 0L else m.executorRunTime),
        "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
        "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
        "input_rows" -> (if (m == null) 0L else m.inputMetrics.recordsRead),
        "output_rows" -> (if (m == null) 0L else m.outputMetrics.recordsWritten),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Recorder.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.storageLevel.isValid)
        blocks += Map("t_ms" -> System.currentTimeMillis(),
          "mem_bytes" -> b.memSize, "disk_bytes" -> b.diskSize)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val start = phases.values.map(_.startTimeMs).filter(_ > 0).minOption
        .getOrElse(System.currentTimeMillis())
      val nodes = scala.util.Try(PlanNodes.count(qe)).getOrElse(0)
      Recorder.this.synchronized {
        sql += Map("t_ms" -> start, "analysis_ms" -> ms("analysis"),
          "optimizer_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
          "plan_nodes" -> nodes)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      Recorder.this.synchronized {
        triggers += Map("start_ms" -> t0, "end_ms" -> (t0 + d.getOrElse("triggerExecution", 0L)),
          "input_rows" -> p.numInputRows, "duration_ms" -> d,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  def dump: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "stages" -> stages.toList, "sql" -> sql.toList,
      "blocks" -> blocks.toList, "triggers" -> triggers.toList)
  }
}

/** Physical plan size, looking inside adaptive plans and subqueries. */
object PlanNodes extends AdaptiveSparkPlanHelper {
  def count(qe: QueryExecution): Int =
    collectWithSubqueries(qe.executedPlan) { case n => n }.size
}
