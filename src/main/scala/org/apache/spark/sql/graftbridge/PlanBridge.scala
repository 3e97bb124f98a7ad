package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to Spark's `private[sql]` `Dataset.ofRows` and `cloneSession`.
  * [[frame]] is a DataFrame over a logical plan the engine built itself, or
  * an existing frame's plan rebound to another session:
  * [[graft.sources.v2.CubeSource]] mounts a load's assets as one
  * `DataSourceV2Relation` over a table object, so the asset list never
  * round-trips through string reader options, and
  * [[graft.core.SparkTuning.scopedSession]] moves frames onto and off a
  * private session clone.
  */
object PlanBridge {
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A copy of `spark` with its own SQL conf and temp views (copied from
    * `spark` now) over the same SparkContext, cache and shared catalog.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
