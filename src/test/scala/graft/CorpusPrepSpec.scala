package graft

import org.apache.spark.sql.functions.sum

import graft.pipeline.CorpusPrep

class CorpusPrepSpec extends SparkSpec {
  import spark.implicits._

  test("corpus prep writes a lang-partitioned, idempotent shard with consistent stats") {
    val out = SparkSpec.tempDir("corpusprep").toString
    val (d1, t1) = CorpusPrep.run(spark, "/root/testdata/sf0.001", out)
    val (d2, t2) = CorpusPrep.run(spark, "/root/testdata/sf0.001", out)
    assert(d1 > 0L && (d1, t1) == (d2, t2), "rerun must overwrite identically")
    val docs = spark.read.parquet(s"$out/docs")
    assert(docs.count() == d1)
    assert(docs.columns.contains("lang"), "partition column must round-trip")
    assert(new java.io.File(s"$out/docs").listFiles()
      .exists(_.getName.startsWith("lang=")), "sink must be lang-partitioned")
    val stats = spark.read.parquet(s"$out/stats")
    assert(stats.agg(sum("kept_docs")).as[Long].collect().head == d1)
    assert(stats.agg(sum("kept_tokens")).as[Long].collect().head == t1)
  }
}
