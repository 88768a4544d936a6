package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSession}

/** The `private[sql]` doorways a third-party operator library needs:
  * turning a constructed [[LogicalPlan]] into a user-facing DataFrame,
  * and converting between a Catalyst [[Expression]] and a [[Column]] so
  * the `graft.functions` kernels build straight into the plan (no
  * function registry, no name lookup). Spark exposes every other
  * ladder-(c) piece publicly (SparkPlan, Strategy,
  * `experimental.extraStrategies`), but plan→Dataset and
  * Expression↔Column are `private[sql]`, so this shim lives under
  * `org.apache.spark.sql` — the established packaging pattern for Spark
  * extension libraries.
  */
object DatasetBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
