package org.apache.spark.sql.graftbridge

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge to Spark's `private[sql]` `Dataset.ofRows` and `cloneSession`.
  * [[frame]] is a DataFrame over a logical plan the engine built itself, or
  * an existing frame's plan rebound to another session:
  * [[graft.sources.v2.CubeSource]] mounts a load's assets as one
  * `DataSourceV2Relation` over a table object, so the asset list never
  * round-trips through string reader options, and
  * [[graft.core.SparkTuning.scopedSession]] moves frames onto and off a
  * private session clone. [[executedPlans]] reads the plans that ran off
  * the `private[spark]` listener bus.
  */
object PlanBridge {
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A copy of `spark` with its own SQL conf and temp views (copied from
    * `spark` now) over the same SparkContext, cache and shared catalog.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Blocks until every event posted so far to `spark`'s listener bus has
    * reached its listeners; listener delivery is asynchronous, so a count
    * kept by a listener is read only after this.
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Runs `body` and returns its value with the final physical plan of
    * every SQL execution that ended on `spark`'s SparkContext while it ran,
    * in the order they ended. Every session over the context is heard, so
    * an operator's private session clone (the PageRank loop's) shows up
    * too. An adaptive plan is unwrapped to the plan it executed; a
    * persisted intermediate appears as an `InMemoryRelation` subtree.
    */
  def executedPlans[T](spark: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val ran = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd if end.qe != null => ran.add(end.qe)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    drainListeners(spark)
    sc.addSparkListener(listener)
    try {
      val out = body
      drainListeners(spark)
      (out, ran.asScala.toSeq.map(_.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }))
    } finally sc.removeSparkListener(listener)
  }
}
