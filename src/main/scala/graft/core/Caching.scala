package graft.core

import org.apache.spark.sql.DataFrame

/** Cache scoping for diamond-shaped operator DAGs.
  *
  * `DataFrame.persist` registers the plan in the session's CacheManager,
  * which holds it until an explicit `unpersist` — an operator that caches a
  * corpus-sized intermediate and returns lazily would leak that cache into
  * the caller's session, accumulating MEMORY_AND_DISK blocks across
  * invocations in a long-lived session. [[scoped]] closes the scope inside
  * the operator instead: compute the (narrow, derived) result ONCE while the
  * intermediate is hot, release the intermediate, and hand back the
  * materialized result. The checkpoint's blocks are reference-tracked by
  * Spark's ContextCleaner — they free themselves once the caller drops the
  * frame, with no session-wide bookkeeping.
  */
object Caching {

  /** Eagerly materialize `out` (so every pass over `cached` hits the cache),
    * then unpersist `cached`. The returned frame reads the checkpointed
    * blocks; its lineage is truncated, so plan audits read the plan the
    * materializing job ran
    * ([[org.apache.spark.sql.graftbridge.PlanBridge.executedPlans]]), where
    * `cached` shows as an `InMemoryRelation` subtree.
    *
    * Fault tolerance: when the context has a RELIABLE checkpoint directory
    * configured (`sc.setCheckpointDir`, pointing at HDFS/object storage on
    * a real cluster), the materialization is a reliable checkpoint — the
    * result survives executor loss and decommissioning. Without one (the
    * local[] default), it falls back to `localCheckpoint`, whose
    * executor-local blocks are NOT recomputable after executor loss; on a
    * cluster, set a checkpoint dir.
    */
  def scoped(out: DataFrame, cached: DataFrame): DataFrame =
    // unpersist in finally: if the eager job throws (bad input, executor
    // OOM) the intermediate must still leave the CacheManager, or every
    // caught-and-retried failure leaks corpus-sized blocks into the
    // long-lived session — the exact leak this helper exists to prevent
    try eager(out) finally cached.unpersist(blocking = false)

  /** Eagerly materialize `df` with the cluster-safe checkpoint choice —
    * the single entry point for eager materialization everywhere in the
    * library. A RELIABLE checkpoint (survives executor loss) when the
    * context has a checkpoint directory configured; `localCheckpoint`
    * (executor-local blocks, fine on local[] where driver = executor)
    * otherwise. Callers must not invoke `localCheckpoint` directly.
    *
    * The reliable path persists the input FIRST: `Dataset.checkpoint`
    * runs one job for the eager action and a second for the RDD
    * checkpoint write, which would recompute the whole plan from source
    * without a cache. Persist → checkpoint → unpersist makes the write
    * job replay cached blocks, so the plan is computed exactly once.
    */
  def eager(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      df.persist()
      // unpersist in finally: a checkpoint job that throws must not leave
      // the persist registered in the CacheManager — the same failure-path
      // leak class [[scoped]] guards against for its own intermediate
      try df.checkpoint(eager = true)
      finally df.unpersist(blocking = false)
    } else df.localCheckpoint(eager = true)

  /** Lazy variant of [[eager]] — truncates lineage without forcing a job,
    * so the next action both computes and caches the frame (one driver
    * action total, the iterative-algorithm discipline). Same reliable /
    * local checkpoint choice.
    *
    * Returns `(checkpointed, release)`. On the reliable path the input is
    * persisted (same single-compute argument as [[eager]]; the checkpoint
    * write that follows the caller's first action replays cached blocks);
    * the caller MUST invoke `release()` once that first action has run —
    * tight iterative loops call it every round so superseded label tables
    * don't accumulate in the cache. On the local path the checkpoint
    * blocks ARE the data, nothing extra is persisted, and `release()` is
    * a no-op — the blocks are reference-tracked by the ContextCleaner and
    * free only when the wrapping Dataset is GC'd, so a long-lived driver
    * that chains MANY deferred checkpoints (deep iteration with a small
    * interval) retains each superseded table's MEMORY_AND_DISK blocks
    * until the next GC cycle. That retention is bounded at
    * O(iters/interval · table size) and spills to disk, not OOM; callers
    * for whom that bound is too loose should size the interval up (fewer,
    * deeper truncations) rather than unpersist a localCheckpoint's blocks,
    * which are the ONLY copy of its data.
    */
  def deferred(df: DataFrame): (DataFrame, () => Unit) =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      df.persist()
      (df.checkpoint(eager = false), () => { df.unpersist(blocking = false); () })
    } else (df.localCheckpoint(eager = false), () => ())
}
