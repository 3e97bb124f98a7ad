package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to Spark's `private[sql]` `Dataset.ofRows`: a DataFrame over a
  * logical plan the engine built itself. [[graft.sources.v2.CubeSource]]
  * mounts a load's assets as one `DataSourceV2Relation` over a table
  * object, so the asset list never round-trips through string reader
  * options.
  */
object PlanBridge {
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
