package graft

import org.apache.spark.sql.graftbridge.PlanBridge

/** The final physical plans of every job `body` ran, one after another —
  * how the plan audits read an operator that checkpoints its result: the
  * plan of its materializing job, persisted intermediates as
  * `InMemoryRelation` subtrees, and the jobs of session clones included.
  */
object RanPlans {
  def apply(body: => Any): String = {
    val (_, plans) = PlanBridge.executedPlans(TestSession.spark)(body)
    assert(plans.nonEmpty, "no job ran")
    plans.map(_.toString).mkString("\n")
  }
}
