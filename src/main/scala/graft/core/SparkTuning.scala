package graft.core

import org.apache.spark.sql.SparkSession

/** Session-level optimizer tuning applied at every table load: the
  * `InferFiltersFromGenerate` exclusion, the engine's optimizer rules, and
  * defaults for native confs the caller has not set.
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
    // engine-native optimizer rules (see graft.plans.NanosPredicatePushdown)
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.NanosPredicatePushdown)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.NanosPredicatePushdown
    }
  }
}
