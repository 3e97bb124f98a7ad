package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** Host-speed track. On a shared host the cores' speed swings by up to
  * 1.6x within a minute (other tenants' load on the same physical cores):
  * a fixed loop's CPU time moves between two levels for seconds at a
  * time, so a wall-clock figure of one run says as much about the host as
  * about the engine.
  *
  * One low-duty sampler thread runs a fixed integer kernel every
  * `PeriodMs` and records the kernel's thread CPU time (not its wall time,
  * so waiting for a core the engine holds does not count) and the share
  * of busy time the hypervisor stole since the previous sample. run.py
  * scales each timed interval by the host's speed over it relative to
  * the reference speed, at which the kernel takes `ReferenceS` (see
  * `stats.speed_adjusted`). The sampler takes about 1% of one core; load
  * on the machine's other cores leaves the kernel's CPU time unchanged.
  */
object Speed {
  /** Kernel CPU time at the reference speed: its median on a quiet 4-core
    * x86-64 host of the kind the benchmark was defined on, so that there a
    * reference-speed second is about a wall-clock second. */
  val ReferenceS = 0.00085
  val PeriodMs = 100L
  private val Iterations = 250000
  private val buf = new Array[Int](1 << 16)
  @volatile private var sink = 0
  @volatile private var running = false
  private val samples = mutable.ArrayBuffer[(Double, Double, Double)]()
  private var thread: Thread = _

  /** Xorshift-indexed reads and writes over a 256 KiB array: branches,
    * integer arithmetic and cache traffic, like the engine's own work. */
  private def kernel(): Int = {
    var h = 0x9e3779b9
    var acc = 0
    var i = 0
    while (i < Iterations) {
      h ^= h << 13; h ^= h >>> 17; h ^= h << 5
      val j = h & (buf.length - 1)
      acc += buf(j)
      buf(j) = acc ^ i
      i += 1
    }
    acc
  }

  /** Sample on a thread of its own until `stop`, once the kernel is
    * compiled. */
  def start(): Unit = {
    val mx = ManagementFactory.getThreadMXBean
    running = true
    thread = new Thread(() => {
      for (_ <- 0 until 50) sink += kernel()
      var last = cpuTicks()
      while (running) {
        val c0 = mx.getCurrentThreadCpuTime
        sink += kernel()
        val c1 = mx.getCurrentThreadCpuTime
        val at = Trace.now()
        val now = cpuTicks()
        val (busy, stolen) = (now._1 - last._1, now._2 - last._2)
        last = now
        val steal = if (busy + stolen > 0) stolen.toDouble / (busy + stolen) else 0.0
        samples.synchronized(samples += ((at, (c1 - c0) / 1e9, steal)))
        Thread.sleep(PeriodMs)
      }
    }, "perfbench-speed")
    thread.setDaemon(true)
    thread.start()
  }

  /** (busy, stolen) clock ticks of all cores since boot, from the
    * `cpu` line of /proc/stat; (0, 0) where there is none. Time the
    * hypervisor gives to other guests is stolen from this one: it
    * lengthens the engine's intervals but not the kernel's CPU time. */
  private def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      // user nice system idle iowait irq softirq steal
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Exception => (0L, 0L) }

  def stop(): Unit = {
    running = false
    if (thread != null) thread.join()
  }

  /** (time on the run axis, kernel CPU seconds, share of the busy time
    * since the previous sample that the hypervisor stole) per sample. */
  def dump(): Seq[Seq[Double]] =
    samples.synchronized(samples.map { case (t, c, st) => Seq(t, c, st) }.toSeq)
}
