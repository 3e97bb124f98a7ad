package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.PlanBridge

import scala.collection.mutable

/** Per-JOB wall-clock breakdown for one registry query (optimization-guide
  * §1: find where the time goes before touching anything). Bench times a
  * whole query invocation; multi-job queries (driver-folded model censuses,
  * eager materializations, size probes, iterative rounds) hide their
  * expensive job inside that single number. This runs a query exactly like
  * Bench (same session config, same noop sink) with a listener that records
  * every Spark job's duration, task-time sum, and I/O volumes.
  *
  * `runMain graft.tools.Profile <query> [sfDir]`; PROFILE_REPS=n repeats
  * the measured pass (after one warm-up) so JIT/codegen noise settles.
  */
object Profile {
  private case class JobRec(id: Int, desc: String, wallMs: Long,
      taskMs: Long, tasks: Int, inBytes: Long, shRead: Long, shWrite: Long)

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Profile <query> [sfDir]"))
    val sfDir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val reps = sys.env.get("PROFILE_REPS").map(_.toInt).getOrElse(1)
    val spark = graft.core.SparkTuning.localSession()
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'"))

    val starts = mutable.Map[Int, (Long, String)]()
    val recs = mutable.ArrayBuffer[JobRec]()
    val stageAgg = mutable.Map[Int, (Long, Int, Long, Long, Long)]() // taskMs, tasks, in, shR, shW
    val stageToJob = mutable.Map[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        starts(e.jobId) = (e.time, desc)
        // first-writer-wins: a stage shared with a later job (AQE reuse,
        // skipped stages) stays attributed to the job that actually ran
        // it, instead of silently migrating to the last job that listed
        // it (r19 advisory — the old overwrite under-reported early jobs)
        e.stageIds.foreach(sid => stageToJob.getOrElseUpdate(sid, e.jobId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val (t, n, i, r, w) = stageAgg.getOrElse(e.stageId, (0L, 0, 0L, 0L, 0L))
          stageAgg(e.stageId) = (t + m.executorRunTime, n + 1,
            i + m.inputMetrics.bytesRead,
            r + m.shuffleReadMetrics.totalBytesRead,
            w + m.shuffleWriteMetrics.bytesWritten)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        starts.remove(e.jobId).foreach { case (t0, desc) =>
          val sids = stageToJob.collect { case (sid, j) if j == e.jobId => sid }
          val agg = sids.flatMap(stageAgg.get)
          recs += JobRec(e.jobId, desc, e.time - t0,
            agg.map(_._1).sum, agg.map(_._2).sum,
            agg.map(_._3).sum, agg.map(_._4).sum, agg.map(_._5).sum)
        }
      }
    }

    def once(tag: String, record: Boolean): Unit = {
      if (record) spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      if (record) {
        PlanBridge.drainListeners(spark) // deliver every job before reading
        spark.sparkContext.removeSparkListener(listener)
      }
      println(f"== $tag $name total $wall%.3f s")
    }

    once("warmup", record = false)
    for (r <- 1 to reps) {
      recs.clear(); stageAgg.clear(); stageToJob.clear()
      once(s"rep$r", record = true)
      val tot = recs.map(_.wallMs).sum
      println(f"   jobs=${recs.size} jobWallSum=${tot / 1e3}%.3f s (gaps = driver-side work)")
      recs.sortBy(-_.wallMs).take(30).foreach { j =>
        val mb = (b: Long) => f"${b / 1048576.0}%.1f"
        println(f"   job ${j.id}%3d ${j.wallMs / 1e3}%7.3f s taskSum ${j.taskMs / 1e3}%8.3f s " +
          f"tasks ${j.tasks}%4d in ${mb(j.inBytes)}%8s MB shR ${mb(j.shRead)}%7s MB " +
          f"shW ${mb(j.shWrite)}%7s MB  ${j.desc.take(80)}")
      }
    }
    spark.stop()
  }
}
