package graft

import org.apache.spark.sql.functions._

import graft.ops.Skew

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals plain aggregation") {
    val df = (1 to 500).map(i => (i.toLong, if (i % 10 == 0) "hot" else s"k$i", i * 1.5))
      .toDF("id", "key", "v")
    val salted = Skew.saltedSumCount(df, Seq("key"), "v", "id", buckets = 8)
      .select("key", "n", "total").as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val plain = df.groupBy("key").agg(count(lit(1)).as("n"), sum("v").as("total"))
      .select("key", "n", "total").as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(salted.keySet == plain.keySet)
    plain.foreach { case (k, (n, t)) =>
      assert(salted(k)._1 == n && math.abs(salted(k)._2 - t) < 1e-9)
    }
  }

  test("salted join is row-identical to the plain join") {
    val large = (1 to 300).map(i => (i.toLong, s"k${i % 7}", i.toDouble)).toDF("id", "key", "v")
    val small = (0 until 7).map(i => (s"k$i", i * 100.0)).toDF("key", "w")
    val plain = large.join(small, Seq("key")).select("id", "key", "v", "w")
    val salted = Skew.saltedJoin(large, small, Seq("key"), "id", factor = 4)
      .select("id", "key", "v", "w")
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("approx_count_distinct tracks exact within tolerance on real data") {
    val ev = graft.pipeline.Tables.events(spark, "/root/testdata/sf0.01")
    val r = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact"),
        approx_count_distinct(col("user_id"), 0.02).as("approx"))
      .select("exact", "approx").as[(Long, Long)].collect()
    r.foreach { case (exact, approx) =>
      assert(math.abs(approx - exact).toDouble / exact < 0.1, s"$approx vs $exact")
    }
  }
}
