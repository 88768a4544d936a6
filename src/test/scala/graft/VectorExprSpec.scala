package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.functions.FloatVecDot
import graft.functions.VectorFunctions.vecDot

class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  test("vec_dot is bit-identical to the HOF zip_with+aggregate fold") {
    val df = Seq(
      (1L, Array(0.1f, -2.5f, 3.75f), Array(1.5f, 0.25f, -4.0f)),
      (2L, Array.tabulate(64)(i => (i * 0.37f - 3f)), Array.tabulate(64)(i => (7f - i * 0.11f))),
      (3L, Array.empty[Float], Array.empty[Float]))
      .toDF("id", "a", "b")
    val got = df.select(col("id"),
        vecDot(col("a"), col("b")).as("fused"),
        expr("""aggregate(zip_with(a, b, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)),
               |         CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("hof"))
      .as[(Long, Double, Double)].collect()
    // exact equality: same fold order, same widening — not approx
    got.foreach { case (id, fused, hof) => assert(fused == hof, s"id=$id") }
  }

  test("vec_dot survives codegen (value matches interpreted eval)") {
    // arrays built from a range: not foldable, and no local relation the
    // optimizer would evaluate up front, so the dot runs in generated code
    val df = spark.range(5).select(
      array((col("id") * 0.75).cast("float"), lit(2.0f)).as("a"),
      array(lit(-1.5f), (col("id") - 0.25).cast("float")).as("b"))
      .select(col("a"), col("b"), vecDot(col("a"), col("b")).as("d"))
    val fused = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
    assert(fused.exists(_.toString.contains("vec_dot")), df.queryExecution.executedPlan)
    val got = df.as[(Array[Float], Array[Float], Double)].collect()
    assert(got.length == 5)
    got.foreach { case (a, b, d) =>
      assert(d == FloatVecDot(Literal(a), Literal(b)).eval(), s"a=${a.toSeq} b=${b.toSeq}")
    }
  }

  test("vec_dot rejects non-float-array inputs at analysis") {
    val err = intercept[AnalysisException] {
      spark.range(1).select(vecDot(array(lit(1.0), lit(2.0)), array(lit(1.0), lit(2.0))))
    }
    assert(err.getMessage.contains("array<float>"))
  }
}
