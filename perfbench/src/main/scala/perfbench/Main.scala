package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One workload's run in a fresh JVM:
  *
  *   1. set up once (session build plus the workload's table, catalog
  *      and fixture registration), timed from process spawn so that JVM
  *      start and first-time class loading count;
  *   2. a timed first pass over every template in the cold JVM;
  *   3. warm passes until both `--seconds` and the workload's minimum
  *      sample count are reached;
  *   4. an untimed correctness pass;
  *   5. the result file (`--out`), which `run.py` turns into metrics.
  *
  * The run's log is its stdout/stderr; the result line comes from run.py.
  */
object Main {

  trait Workload {
    def name: String
    /** Table, catalog and fixture registration: the part of set-up that
      * belongs to the workload rather than to the session. */
    def register(spark: SparkSession): Unit
    def firstPass(): Unit
    /** Warm passes until `deadline` (run axis seconds) and the workload's
      * own minimum sample count are both reached. */
    def warm(deadline: Double): Unit
    /** Untimed checks: (name, ok, detail). */
    def check(): Seq[(String, Boolean, String)]
    /** Re-run a slice of the warm work once, as `trace.overhead_ratio`
      * needs it, with tracing as it is set; seconds taken. */
    def overheadPass(tag: String): Double
    def result(): Map[String, Any]
  }

  def session(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/checkpoints")
      // the stream workload reads per-batch input rows from recentProgress
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The noop sink every measured action writes through: it materialises
    * every output column (count() would let Catalyst prune them). */
  def sink(df: DataFrame): Unit =
    Trace.span("action")(df.write.format("noop").mode("overwrite").save())

  /** Registry queries that mirror this workload's jobs, run on the
    * generated tables and dumped the way `graft.Verify` dumps them (one
    * parquet directory per query plus `oracle_sql.json`), for
    * `tools/check_oracle.py` to compare with DuckDB. A query that throws
    * is a failed check. */
  def registry(spark: SparkSession, names: String, tables: String,
      out: String): Seq[(String, Boolean, String)] = {
    val picked = names.split(',').filter(_.nonEmpty).toSeq
    if (picked.isEmpty) return Nil
    EoGraphs.rmTree(new java.io.File(out))
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      json(picked.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
    picked.map { n =>
      try {
        graft.SparkEntry.queries(n)(spark, tables).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$n")
        (s"registry.$n", true, "written")
      } catch {
        case e: Exception => (s"registry.$n", false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val seed = opt("seed").toLong
    val inputs = opt("inputs")
    val scratch = opt("scratch")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val spawnedAt = opt("spawned-epoch-ns").toLong
    Files.createDirectories(Paths.get(scratch))
    Speed.start()

    val w: Workload = opt("workload") match {
      case "eo_graphs" => new EoGraphs(seed, inputs, scratch)
      case "event_stream" => new EventStream(inputs, scratch,
        opt("offered-shards-per-s").toDouble, seconds, opt("backlog-shards").toInt,
        opt("rows-per-shard").toLong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up, timed from process spawn ----
    val spark = session(cores, scratch)
    Trace.bind(spark)
    if (traced) { Trace.on = true; Trace.attach(spark) }
    Trace.phase = "setup"
    w.register(spark)
    val setupEnd = Trace.now()
    val setupS = setupEnd - Trace.fromEpochNanos(spawnedAt)

    val canary = {
      val t = Trace.now()
      spark.range(0L, 1L << 20, 1L, cores).selectExpr("sum(id % 7) as s", "count(1) as n")
        .write.format("noop").mode("overwrite").save()
      Trace.now() - t
    }

    val gc0 = Trace.gcSeconds()
    Trace.resetHeapPeak()
    val cg0 = Trace.codegen()
    Trace.phase = "cold"
    Trace.log("phase " + Trace.phase)
    val tCold = Trace.now()
    w.firstPass()
    val firstPassS = Trace.now() - tCold
    val cg1 = Trace.codegen()

    Trace.phase = "warm"
    Trace.log("phase " + Trace.phase)
    val tWarm = Trace.now()
    w.warm(tWarm + seconds)
    val warmEnd = Trace.now()
    val cg2 = Trace.codegen()
    val gc1 = Trace.gcSeconds()
    val heapPeak = Trace.heapPeakMb()
    val cachedBytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

    Trace.phase = "check"
    Trace.log("phase " + Trace.phase)
    val checks = w.check() ++ registry(spark, opt.getOrElse("registry", ""),
      s"$inputs/tables", s"$scratch/oracle")

    // untraced, traced, untraced: the traced pass is compared with the mean
    // of the two passes around it, so warm-up and order effects cancel
    val overhead =
      if (!traced) None
      else {
        Trace.phase = "overhead"
        def pass(on: Boolean, tag: String): Double = {
          if (on) Trace.attach(spark) else Trace.detach(spark)
          Trace.on = on
          w.overheadPass(tag)
        }
        val before = pass(on = false, "untraced_a")
        val tracedS = pass(on = true, "traced")
        val after = pass(on = false, "untraced_b")
        Some((tracedS, (before + after) / 2))
      }

    val trace = if (traced) {
      Trace.dump() ++ Map(
        "codegen" -> Map("cold_compiles" -> (cg1._1 - cg0._1),
          "cold_compile_s" -> (cg1._2 - cg0._2),
          "warm_compiles" -> (cg2._1 - cg1._1), "warm_compile_s" -> (cg2._2 - cg1._2)),
        "gc_s" -> (gc1 - gc0), "heap_peak_mb" -> heapPeak,
        "cached_bytes" -> cachedBytes,
        "overhead" -> overhead.map { case (t, u) => Map("traced_s" -> t, "untraced_s" -> u) }
          .getOrElse(Map.empty))
    } else Map.empty[String, Any]

    Speed.stop()
    val out = Map(
      "workload" -> w.name, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "setup_s" -> setupS, "first_pass_s" -> firstPassS, "canary_s" -> canary,
      "warm_s" -> (warmEnd - tWarm),
      "setup_interval" -> Seq(Trace.fromEpochNanos(spawnedAt), setupEnd),
      "cold_interval" -> Seq(tCold, tCold + firstPassS), "warm_interval" -> Seq(tWarm, warmEnd),
      "speed" -> Map("reference_s" -> Speed.ReferenceS, "samples" -> Speed.dump()),
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "peak_rss_mb" -> Trace.peakRssMb(),
      "workload_result" -> w.result(),
      "trace" -> trace)
    spark.stop()
    Files.writeString(Paths.get(opt("out")), json(out))
  }

  /** The result file's JSON. Undefined times (NaN) and absent values
    * (None) become null. */
  def json(v: Any): String = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.compact(Extraction.decompose(v)(DefaultFormats).map {
      case JDouble(d) if d.isNaN || d.isInfinite => JNull
      case JNothing => JNull
      case x => x
    })
  }
}
