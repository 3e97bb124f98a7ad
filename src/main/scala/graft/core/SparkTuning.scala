package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's one local-session factory, [[localSession]], and the
  * session-level tuning it applies at build: the `InferFiltersFromGenerate`
  * exclusion, the engine's optimizer rules, the parquet nanos flag the
  * loaders need, and defaults for native confs the caller has not set.
  * `Tables.read` and the stream sources call [[tune]] again, for sessions
  * built outside the engine.
  *
  * `InferFiltersFromGenerate` clones the generator's child expression into a
  * `size(e) > 0` filter; predicate pushdown then sinks that clone below the
  * projections that named its sub-expressions, re-inlining the full lambda
  * pipeline. Higher-order functions are interpreted and share no CSE, so a
  * shingling expression ends up re-tokenizing the document once per array
  * element inside the filter — measured 10-70× slowdowns on the dedup and
  * apply_dimension operators. The pruning the rule buys (skipping rows with
  * empty arrays before the Generate) is negligible for every operator in
  * this engine, so it is excluded wholesale.
  */
object SparkTuning {

  private val excluded =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  private val defaults = Seq(
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** A `SPARK_GRAFT_CPUS` value as a core count: `default` when unset; a
    * non-integer or a value below 1 throws instead of reaching the master
    * URL as a confusing error or a silent `local[0]`.
    */
  def parseCpus(value: Option[String], default: Int): Int =
    value.fold(default) { v =>
      v.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$v'"))
    }

  /** The local session every engine main and test suite runs on:
    * `local[cpus]` with one shuffle partition per core, UTC session time,
    * no UI, ERROR logging, tuned. `cpus` defaults to `SPARK_GRAFT_CPUS`,
    * else the machine's core count.
    */
  def localSession(cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"),
      Runtime.getRuntime.availableProcessors)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)
    spark
  }

  def tune(spark: SparkSession): Unit = {
    val key = "spark.sql.optimizer.excludedRules"
    val cur = spark.conf.getOption(key).getOrElse("")
    if (!cur.contains(excluded)) {
      spark.conf.set(key, if (cur.isEmpty) excluded else s"$cur,$excluded")
    }
    // Engine defaults for two native confs, each set only when the caller
    // has not set it: a caller-set value is always respected.
    //
    // minPartitionSize=64k keeps AQE's post-shuffle coalescing from
    // serializing compute-heavy, tiny-byte stages. With parallelismFirst
    // (the default) the coalescer targets max(totalBytes /
    // defaultParallelism, minPartitionSize), so any stage under cores × 1 MB
    // total collapses toward ONE task — and a stage whose rows are few but
    // whose per-row compute is heavy (candidate-pair verification over
    // shingle-set arrays, band tables) serializes: fuzzy_join's verify
    // stage ran 3.0 s on 1 task at cpus=8 over a 0.5 MB shuffle read; 64k
    // keeps it at 8 tasks / 0.32 s. Scale-safe by the same formula: the
    // floor only matters when totalBytes < cores × 1 MB — metadata-sized
    // stages on a real cluster, where a few extra tiny tasks cost
    // scheduling milliseconds. (The deprecated minPartitionNum knob is NOT
    // read by the 4.1 coalescer — measured no-op.)
    //
    // useIdInClassName=false drops the codegen-stage id from generated
    // class names so structurally identical stages (across queries, reps,
    // and AQE re-plans) hash to the SAME source text and hit the
    // compiled-class cache instead of paying a fresh Janino compile per
    // stage id. The id exists only to label class names for profilers
    // (SPARK-23032); execution is byte-identical. Pairs with the enlarged
    // static codegen cache set in build.sbt
    // (spark.sql.codegen.cache.maxEntries) — see the comment there for the
    // measured compile-lock contention this removes.
    for ((k, v) <- defaults if !spark.sessionState.conf.contains(k))
      spark.conf.set(k, v)
    // Unconditional, and set BEFORE any read: an INT64 TIMESTAMP(NANOS)
    // column in ANY table would otherwise throw or not depending on which
    // query read first in the session. The loaders (Tables.normalizeTs)
    // convert the raw nanos long themselves.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // engine-native optimizer rules (see graft.plans.NanosPredicatePushdown)
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.NanosPredicatePushdown)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.NanosPredicatePushdown
    }
  }
}
