package graft

import org.apache.spark.sql.SparkSession

/** The one session every suite runs on. Forked sbt runs all suites in one
  * JVM, where they would share one SparkContext anyway; this makes that
  * shared session, and its tuning, explicit instead of depending on which
  * suite happened to build it first.
  */
object TestSession {
  lazy val spark: SparkSession = graft.core.SparkTuning.localSession(4)
}
