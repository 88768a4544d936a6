package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}

/** The one `private[sql]` doorway a third-party operator library needs:
  * turning a constructed [[LogicalPlan]] into a user-facing DataFrame.
  * Spark exposes every other ladder-(c) piece publicly (SparkPlan,
  * Strategy, `experimental.extraStrategies`), but
  * plan→Dataset is `private[sql]`, so this shim lives under
  * `org.apache.spark.sql` — the established packaging pattern for Spark
  * extension libraries.
  */
object DatasetBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)
}
