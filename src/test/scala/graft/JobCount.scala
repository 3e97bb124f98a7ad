package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.PlanBridge

/** Runs `body` in a job group of its own and returns its value with the
  * number of Spark jobs started in that group, counted after the
  * asynchronous listener bus has drained. Jobs of other threads and of
  * earlier suites do not count.
  */
object JobCount {
  def apply[A](body: => A): (A, Int) = {
    val spark = TestSession.spark
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val out = body
      PlanBridge.drainListeners(spark)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
