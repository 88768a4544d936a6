package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Deployment entry point — the cron job itself. One invocation = one
  * incremental run over the parquet sinks, mirroring
  * `python updatescript.py` (readme.txt:1) as `runMain
  * graft.pipeline.RunPipeline <sfDir> <sinkDir> [asOfDate]`.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunPipeline <sfDir> <sinkDir> [asOfDate]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val config = PipelineRunner.Config(args(0), args(1), bootstrapWm = Tables.WM,
      asOfDate = if (args.length > 2) args(2) else Tables.ASOF_DATE)
    val report = PipelineRunner.run(spark, config)
    println(s"[pipeline] watermark ${report.watermark} -> ${report.newWatermark}")
    report.appended.toSeq.sortBy(_._1).foreach { case (sink, n) =>
      println(s"[pipeline] $sink: +$n rows")
    }
    spark.stop()
  }
}
