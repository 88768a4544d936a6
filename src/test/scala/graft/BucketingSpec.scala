package graft

/** Bucketing is the co-located-join lever at 100 TB: two tables bucketed
  * by the join key into the same bucket count join with NO exchange on
  * either side — the shuffle is paid once at write time and amortized
  * over every subsequent join. This spec proves the engine's write/read
  * path produces that plan.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("joining two tables bucketed on the key needs no exchange") {
    val dir = SparkSpec.tempDir("graft_bucketing").toFile
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
        .write.bucketBy(8, "k").sortBy("k")
        .option("path", s"$dir/ta").mode("overwrite").saveAsTable("graft_bucket_a")
      (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "vb")
        .write.bucketBy(8, "k").sortBy("k")
        .option("path", s"$dir/tb").mode("overwrite").saveAsTable("graft_bucket_b")
      // force a non-broadcast join so the bucketed co-location is what
      // eliminates the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), "k")
      assert(joined.count() == 1000)
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }

  test("date-partitioned sink: a day predicate prunes the scan to that day's files") {
    // the other write-path lever at 100 TB (PipelineRunner's sinks write
    // p_date=… directories for exactly this): a filter on the partition
    // column must become a PartitionFilter — directory-level skipping at
    // planning time — not a data filter evaluated over every row group
    val dir = SparkSpec.tempDir("graft_partitioned").toFile
    (1 to 300).map { i =>
      (i.toLong, java.sql.Date.valueOf(f"2024-01-${i % 3 + 1}%02d"), i * 1.0)
    }.toDF("id", "p_date", "v")
      .write.mode("overwrite").partitionBy("p_date").parquet(s"$dir/sink")
    val read = spark.read.parquet(s"$dir/sink")
      .filter($"p_date" === java.sql.Date.valueOf("2024-01-02"))
    assert(read.count() == 100)
    val scans = read.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val meta = scans.head.metadata
    assert(meta("PartitionFilters").contains("2024-01-02"),
      s"day predicate must prune partitions, got: ${meta("PartitionFilters")}")
    // and the files actually read are only that day's directory
    assert(scans.head.inputRDDs().head.partitions.nonEmpty)
    val shown = scans.head.toString
    assert(!shown.contains("PushedFilters: [IsNotNull(p_date)"),
      "the partition predicate must not degrade to a per-row data filter")
  }
}
