package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.{Resources, SharedFits}
import graft.pipeline.{PipelineRunner, Tables}

/** The benchmark's JVM side. It reads a plan written by `run.py`, drives the
  * program through its public entry points only (`PipelineRunner`,
  * `SparkEntry.queries`, Spark's listener APIs), and writes one raw JSON
  * record: every op's timings, the output checks, the run context and, on a
  * traced run, the listener rows. All metric arithmetic happens in Python.
  *
  * Usage: `Main <plan.json>`.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val memory = ManagementFactory.getMemoryMXBean
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val trace = plan.get("trace").asBoolean
    val cpus = plan.get("cpus").asInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", plan.get("spark_local_dir").asText)
      .config("spark.sql.warehouse.dir", plan.get("work_dir").asText + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val recorder = if (trace) Some(new Recorder) else None
    recorder.foreach { r =>
      spark.sparkContext.addSparkListener(r.sparkListener)
      spark.listenerManager.register(r.queryListener)
      spark.streams.addListener(r.streamListener)
    }
    val run = new Run(spark, plan, trace)
    plan.get("kind").asText match {
      case "cron" => run.cron()
      case "queries" => run.queries()
    }
    val context = Map(
      "spark_version" -> spark.version,
      "cpus" -> cpus,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "local_dir_free_bytes" ->
        new File(plan.get("spark_local_dir").asText).getUsableSpace,
      "payload_budget_bytes" -> Resources.payloadBudget(spark),
      "scratch_budget_bytes" -> Resources.scratchBudget(spark),
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs)
    val out = Map("context" -> context, "ops" -> run.ops.toList,
      "checks" -> run.checks.toList, "pipeline" -> run.pipeline.toMap,
      "pass_heap_mb" -> run.passHeapMb.toList) ++
      recorder.map(r => Map("trace" -> r.dump)).getOrElse(Map.empty)
    mapper.writeValue(new File(plan.get("out").asText), out)
    spark.stop()
  }

  /** One run's state: the op records and check verdicts it accumulates. */
  final class Run(spark: SparkSession, plan: JsonNode, trace: Boolean) {
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val pipeline = mutable.LinkedHashMap.empty[String, Any]
    /** Heap in use after each timed pass, once its shared fits are released. */
    val passHeapMb = mutable.ArrayBuffer.empty[Double]
    private def str(key: String) = plan.get(key).asText
    private def strings(key: String) = plan.get(key).elements.asScala.map(_.asText).toSeq

    private def gcMs = gcBeans.map(_.getCollectionTime).sum
    private def classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    /** Times one op. The untimed GC after it lets operator-owned checkpoint
      * blocks be reclaimed (as `graft.Bench` does between queries) and gives
      * the live heap the op left behind.
      */
    private def timed(name: String, module: String, phase: String)(
        op: () => Long): Map[String, Any] = {
      val gc0 = gcMs
      val cls0 = classes
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (buildNs, err) = try (op(), "") catch {
        case e: Throwable =>
          (System.nanoTime() - t0, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
      val t2 = System.nanoTime()
      val gcOp = gcMs - gc0
      val newClasses = classes - cls0
      val compileMs = if (newClasses == 0) 0.0
        else newClasses * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
      System.gc()
      val rec = Map("name" -> name, "module" -> module, "phase" -> phase,
        "start_ms" -> start, "build_end_ms" -> (start + buildNs / 1000000),
        "end_ms" -> (start + (t2 - t0) / 1000000),
        "wall_s" -> (t2 - t0) / 1e9, "build_s" -> buildNs / 1e9,
        "gc_s" -> gcOp / 1e3, "heap_after_gc_mb" -> memory.getHeapMemoryUsage.getUsed / 1048576.0,
        "codegen_classes" -> newClasses, "codegen_compile_s" -> compileMs / 1e3,
        "error" -> err)
      ops += rec
      rec
    }

    /** Heap in use once garbage and the blocks Spark's context cleaner
      * frees after a collection are gone: GC, a pause for the cleaner, GC.
      */
    private def settledHeapMb(): Double = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      memory.getHeapMemoryUsage.getUsed / 1048576.0
    }

    /** Builds a query and writes it to the `noop` sink, `graft.Bench`'s
      * method: every output column is materialised, nothing is kept.
      * Returns the build time in nanoseconds.
      */
    private def noopRun(fn: (SparkSession, String) => DataFrame, dir: String)(): Long = {
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val built = System.nanoTime() - t0
      df.write.mode("overwrite").format("noop").save()
      built
    }

    def queries(): Unit = {
      val all = SparkEntry.queries
      val opNames = strings("ops")
      val modules = plan.get("modules")
      val missing = opNames.filterNot(all.contains)
      require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
      val data = str("data_dir")
      def module(n: String) = modules.get(n).asText
      // warm pass over the timed inputs, starting with the workload's fixed
      // cold op in the fresh session; it checks each op's output against
      // its stored row count and digest
      val expected = plan.get("expected")
      val cold = str("cold_op")
      (cold +: opNames.distinct.filterNot(_ == cold)).foreach { n =>
        var digest = (-1L, "")
        val rec = timed(n, module(n), if (n == cold) "cold" else "warm") { () =>
          digest = Digest.of(all(n)(spark, data)); 0L
        }
        val exp = Option(expected.get(n))
        val ok = rec("error") == "" && exp.exists(e =>
          e.get("rows").asLong == digest._1 && e.get("digest").asText == digest._2)
        checks += Map("name" -> n, "ok" -> ok, "rows" -> digest._1, "digest" -> digest._2,
          "error" -> rec("error"))
      }
      SharedFits.clear(spark)
      // untimed settling passes let the JIT settle on the timed code path,
      // then the timed passes over the seeded order; SharedFits is cleared
      // after every pass so each pays its shared fits once, as in graft.Bench
      val passes = plan.get("passes").asInt
      (-plan.get("settle").asInt until passes).foreach { pass =>
        val phase = if (pass < 0) "warmup" else s"pass$pass"
        opNames.foreach(n => timed(n, module(n), phase)(noopRun(all(n), data)))
        SharedFits.clear(spark)
        if (pass >= 0) passHeapMb += settledHeapMb()
      }
    }

    def cron(): Unit = {
      val snapshots = strings("snapshots")
      val asOf = strings("as_of")
      val sink = str("work_dir") + "/sink"
      val bootstrap = str("bootstrap_wm")
      def config(d: Int, sinkDir: String = sink) =
        PipelineRunner.Config(snapshots(d), sinkDir, bootstrapWm = bootstrap, asOfDate = asOf(d))
      def daily(d: Int, phase: String): Map[String, Any] = {
        val c = config(d)
        val w0 = System.nanoTime()
        val wm = PipelineRunner.currentWatermark(spark, c)
        val wmReadS = (System.nanoTime() - w0) / 1e9
        var report: PipelineRunner.RunReport = null
        val rec = timed(s"day${d + 1}", "pipeline.PipelineRunner", phase) { () =>
          report = PipelineRunner.run(spark, c); 0L
        }
        val out = if (report != null) {
          val rows = report.appended.values.sum
          val tx = report.appended.getOrElse("transactiondatas", 0L)
          val window = if (trace) Tables.txSince(spark, snapshots(d), wm).count() else -1L
          val extra = Map("appended_rows" -> rows, "tx_appended" -> tx, "window_rows" -> window,
            "watermark_read_s" -> wmReadS) ++ (if (trace) sinkStats(sink) else Map.empty)
          ops(ops.size - 1) = rec ++ extra
          rec ++ extra
        } else rec
        if (phase == "timed" || phase == "replay") passHeapMb += settledHeapMb()
        out
      }
      // the cold run loads every day up to `first_day` into the empty sink
      // in one go, as a first cron run after a gap would
      val first = plan.get("first_day").asInt
      daily(first, "cold")
      // untimed settling days, so the JIT settles, then the timed daily
      // runs, one snapshot after another
      val settle = first + plan.get("settle").asInt
      (first + 1 to settle).foreach(d => daily(d, "warmup"))
      val last = settle + plan.get("timed_days").asInt
      (settle + 1 to last).foreach(d => daily(d, "timed"))
      // crash-recovery path: rewind the watermark and run the last day again;
      // every row it sees is already in the sink
      val rewound = spark.sql(
        s"SELECT CAST('${PipelineRunner.currentWatermark(spark, config(last))}' AS TIMESTAMP) " +
          s"- INTERVAL ${plan.get("rewind_days").asInt} DAYS AS lastUpdated")
      rewound.write.mode("overwrite").parquet(s"$sink/lastUpdated")
      val replay = daily(last, "replay")
      pipeline ++= sinkStats(sink)
      // output checks, untimed: replay appends nothing, the watermark lands
      // on the newest event, and the sinks equal one fresh run over the
      // last snapshot (as row multisets, without the partition column)
      checks += Map("name" -> "replay_appends_nothing",
        "ok" -> (replay.get("appended_rows").contains(0L)), "detail" -> replay.getOrElse("appended_rows", -1L))
      val finalWm = PipelineRunner.currentWatermark(spark, config(last))
      val maxTs = Tables.events(spark, snapshots(last)).agg(max(col("ts")).cast("string")).head().getString(0)
      checks += Map("name" -> "watermark_is_max_ts", "ok" -> (finalWm == maxTs),
        "detail" -> s"$finalWm vs $maxTs")
      val fresh = str("work_dir") + "/fresh_sink"
      PipelineRunner.run(spark, config(last, fresh))
      val names = new File(fresh).list().filterNot(_.startsWith(".")).sorted.toSeq
      names.foreach { n =>
        def digest(root: String) = Digest.of(spark.read.parquet(s"$root/$n").drop("p_date"))
        val (a, b) = (digest(sink), digest(fresh))
        checks += Map("name" -> s"sink_$n", "ok" -> (a == b), "detail" -> s"$a vs $b")
      }
    }

    /** Files, bytes and rows of every sink under `root`. */
    private def sinkStats(root: String): Map[String, Any] = {
      val files = Files.walk(Paths.get(root)).iterator.asScala
        .filter(p => Files.isRegularFile(p)).toSeq
      val sinks = new File(root).list().filterNot(_.startsWith(".")).toSeq
      val rows = sinks.map(n => spark.read.parquet(s"$root/$n").count()).sum
      Map("sink_files" -> files.count(_.toString.endsWith(".parquet")),
        "sink_bytes" -> files.map(p => Files.size(p)).sum, "sink_rows" -> rows)
    }
  }
}

/** Order-independent digest of a DataFrame's rows: the row count and the
  * sum of a 64-bit hash of each row's JSON form. Two results with the same
  * rows in any order share a digest; values compare bit for bit.
  */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    val r = df.select(xxhash64(to_json(struct(cols: _*))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
