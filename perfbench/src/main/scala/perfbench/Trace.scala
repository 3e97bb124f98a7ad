package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's clock and, in traced runs, its span recorder.
  *
  * Every time is seconds since the run's epoch (`t0`), so bench spans
  * (taken with `System.nanoTime`) and Spark listener events (epoch
  * milliseconds) land on one axis. Untraced runs keep only the bench's own
  * timers; traced runs also record a span at each boundary the bench
  * crosses and attach Spark listeners. Spark jobs are linked to the bench
  * span that was active on the submitting thread through the
  * `perfbench.span` local property. Everything stays in memory until the
  * run writes its result.
  */
object Trace {
  private val epochNanos = java.time.Instant.now()
  private val epochMs: Double =
    epochNanos.getEpochSecond * 1e3 + epochNanos.getNano / 1e6
  private val t0 = System.nanoTime()

  /** Seconds since the run epoch. */
  def now(): Double = (System.nanoTime() - t0) / 1e9
  /** An epoch-millisecond stamp (listener events) on the run axis. */
  def fromEpochMs(ms: Double): Double = (ms - epochMs) / 1e3
  /** Seconds on the run axis of an epoch-nanosecond stamp. */
  def fromEpochNanos(ns: Long): Double = (ns / 1e6 - epochMs) / 1e3

  @volatile var on = false

  /** A progress line on stderr (the run's log), stamped on the run axis. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${now()}%8.3f] $msg")

  final case class Span(id: Long, parent: Long, name: String, phase: String,
      start: Double, end: Double)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Long] { override def initialValue() = 0L }
  @volatile var phase = "setup"
  @volatile private var sc: org.apache.spark.SparkContext = null

  def bind(spark: SparkSession): Unit = sc = spark.sparkContext

  /** Run `body` inside a named span; a no-op wrapper when tracing is off. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val ctx = sc
      if (ctx != null) ctx.setLocalProperty("perfbench.span", id.toString)
      val start = now()
      try body
      finally {
        spans.add(Span(id, parent, name, phase, start, now()))
        current.set(parent)
        if (ctx != null)
          ctx.setLocalProperty("perfbench.span",
            if (parent == 0L) null else parent.toString)
      }
    }

  def spanRecords: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  // ---- Spark listeners (traced runs only) ----

  final class StageAgg(val stageId: Int) {
    val taskTimes = mutable.ArrayBuffer[Double]()
    var runS, cpuS, gcS, fetchWaitS = 0.0
    var inBytes, outBytes, shWrite, shRead, spill = 0L
    var submitted, completed = Double.NaN
  }
  final case class JobRec(jobId: Int, span: Long, start: Double,
      var end: Double, stages: Seq[Int])
  final case class PlanRec(start: Double, analysisS: Double,
      optimizationS: Double, planningS: Double, bhj: Int, smj: Int)

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.LinkedHashMap[Int, StageAgg]()
  private val plans = mutable.ArrayBuffer[PlanRec]()
  private val progress = mutable.ArrayBuffer[Map[String, Any]]()

  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.synchronized {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)
      jobs(e.jobId) = JobRec(e.jobId, span, fromEpochMs(e.time.toDouble),
        Double.NaN, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
      jobs.get(e.jobId).foreach(_.end = fromEpochMs(e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.synchronized {
        val s = stages.getOrElseUpdate(e.stageInfo.stageId,
          new StageAgg(e.stageInfo.stageId))
        e.stageInfo.submissionTime.foreach(t => s.submitted = fromEpochMs(t.toDouble))
        e.stageInfo.completionTime.foreach(t => s.completed = fromEpochMs(t.toDouble))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
      s.taskTimes += e.taskInfo.duration / 1e3
      val m = e.taskMetrics
      if (m != null) {
        s.runS += m.executorRunTime / 1e3
        s.cpuS += m.executorCpuTime / 1e9
        s.gcS += m.jvmGCTime / 1e3
        s.inBytes += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  object PlanListener extends QueryExecutionListener {
    private val Bhj = "BroadcastHashJoin".r
    private val Smj = "SortMergeJoin".r
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption
        .map(t => fromEpochMs(t.toDouble)).getOrElse(now())
      val plan = qe.executedPlan.toString
      Trace.synchronized {
        plans += PlanRec(start, d("analysis"), d("optimization"),
          d("planning"), Bhj.findAllMatchIn(plan).size,
          Smj.findAllMatchIn(plan).size)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> (v.longValue / 1e3) }.toMap
      val ops = p.stateOperators
      Trace.synchronized {
        progress += Map(
          "query" -> p.name, "batch" -> p.batchId, "phase" -> phase,
          "t" -> fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble),
          "rows" -> p.numInputRows, "durations" -> d,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "state_commit_s" -> ops.map(_.commitTimeMs).sum / 1e3)
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(PlanListener)
    spark.streams.addListener(StreamListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(Listener)
    spark.listenerManager.unregister(PlanListener)
    spark.streams.removeListener(StreamListener)
  }

  // ---- JVM counters ----

  def codegen(): (Long, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** This JVM's peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Everything the listeners saw, as plain data for the result file. */
  def dump(): Map[String, Any] = synchronized {
    Map(
      "spans" -> spanRecords.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "phase" -> s.phase, "start" -> s.start, "end" -> s.end)),
      "jobs" -> jobs.values.toSeq.map(j => Map("job" -> j.jobId, "span" -> j.span,
        "start" -> j.start, "end" -> j.end, "stages" -> j.stages)),
      "stages" -> stages.values.toSeq.map(s => Map("stage" -> s.stageId,
        "task_s" -> s.taskTimes.toSeq, "run_s" -> s.runS, "cpu_s" -> s.cpuS,
        "gc_s" -> s.gcS, "input_bytes" -> s.inBytes, "output_bytes" -> s.outBytes,
        "shuffle_write_bytes" -> s.shWrite, "shuffle_read_bytes" -> s.shRead,
        "fetch_wait_s" -> s.fetchWaitS, "spill_bytes" -> s.spill,
        "submitted" -> s.submitted, "completed" -> s.completed)),
      "plans" -> plans.toSeq.map(p => Map("start" -> p.start,
        "analysis_s" -> p.analysisS, "optimization_s" -> p.optimizationS,
        "planning_s" -> p.planningS, "broadcast_joins" -> p.bhj,
        "sort_merge_joins" -> p.smj)),
      "progress" -> progress.toSeq)
  }
}
