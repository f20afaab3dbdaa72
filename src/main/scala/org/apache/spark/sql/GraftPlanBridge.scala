package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Compile-time bridge to `classic.Dataset.ofRows`, which is
  * `private[sql]`: the standard extension-library idiom (a public-API
  * Spark extension that introduces its own logical operator needs SOME
  * way to wrap that operator in a DataFrame). This is the only class the
  * engine places inside Spark's namespace, and it contains no logic —
  * just the access lift for [[graft.plans.AsofNative]] and for the local
  * relations of [[graft.util.LocalScan]].
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
