package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-graph analysis for crawl curation — PageRank over a (src, dst)
  * edge table. Crawl pipelines rank the host/domain graph to set frontier
  * priorities and per-domain quality priors (the public technique behind
  * Common Crawl's host-level ranking); the input here is any edge frame,
  * typically the doc→outlink domain pairs a crawl extraction emits.
  *
  * Scale design (the 100-TB shape):
  *  - Out-degrees are joined onto the edge table ONCE, and that frame is
  *    persisted and re-read by every iteration — the per-iteration work is
  *    exactly one shuffle-join of the (node, rank) table against the edge
  *    table on `src` plus one aggregation by `dst`. Nothing else moves.
  *  - The rank table is O(nodes), always the small side; the edge table is
  *    O(edges) and never re-derived. k iterations cost k·(join + agg), the
  *    canonical Pregel-free dataflow encoding of PageRank.
  *  - Dangling nodes (no outlinks) simply leak their mass, the common
  *    dataflow simplification; ranks remain a deterministic function of
  *    the graph.
  *  - All mass arithmetic is INTEGER: ranks live in units of 1e-12
  *    (`unit = 1e12`), each edge ships `rank*85 DIV (100*outdeg)` and the
  *    per-node inflow is a bigint sum — exact, association-order-free,
  *    reproducible bit-for-bit by any engine with 64-bit integer division
  *    (this is what lets the DuckDB oracle unroll the same iterations and
  *    hash-match). Truncation loses < outdeg·1e-12 of mass per node per
  *    iteration — noise at any graph size, and identically computed
  *    everywhere.
  *
  * Extends the §2-beyond-reference pipeline family (the reference has no
  * graph process). Formulation: Page et al. 1999, damping 0.85 as
  * `rank' = (1-d)/N + d·Σ_in rank/outdeg`, teleport and damping in the
  * same integer units.
  */
object LinkGraph {

  val Unit_ : Long = 1000000000000L // 1e12 rank units = mass 1.0

  /** `iters` synchronous PageRank iterations over `edges` (columns
    * `src`, `dst`; extra columns are projected away; parallel edges count
    * once each, the multigraph convention). Returns (node, rank_units)
    * for every node that appears as a src or dst — rank_units in 1e-12
    * units of probability mass.
    *
    * `materialize = true` (default) eagerly checkpoints the result and
    * releases the node/edge caches before returning (the
    * [[graft.core.Caching]] scope discipline — nothing leaks into the
    * caller's session); pass `false` to get the full lazy plan for plan
    * audits (the caches then live until the session drops them).
    *
    * Deep iteration: the rank plan unrolls per iteration, so Catalyst
    * analysis cost grows with `iters`; on the materialized path a LAZY
    * lineage truncation ([[graft.core.Caching.deferred]]) every
    * `checkpointEvery` iterations caps plan depth at O(checkpointEvery)
    * without adding driver actions — the single final action computes
    * through the chained checkpoint placeholders, so k=50 costs the same
    * analysis as k=10 five times, not a 50-deep plan. The audit path
    * (`materialize = false`) stays fully lazy by design: plan audits need
    * the un-truncated tree, and run at small k. Retention note: on the
    * local-checkpoint path the superseded per-boundary rank tables'
    * blocks are reference-tracked, not explicitly released (see
    * [[graft.core.Caching.deferred]]) — bounded at O(iters/checkpointEvery
    * · nodes) and disk-spilling; raise `checkpointEvery` if that bound
    * matters in a long-lived driver.
    */
  def pageRank(edges: DataFrame, iters: Int,
               materialize: Boolean = true,
               checkpointEvery: Int = 10,
               tolUnits: Option[Long] = None): DataFrame =
    pageRankRun(edges, iters, materialize, checkpointEvery, tolUnits)._1

  /** [[pageRank]] plus the number of iterations actually executed —
    * observable evidence for the convergence contract (specs assert the
    * early stop really happened AND that its result equals the fixed-k
    * run).
    *
    * Convergence (`tolUnits`): at each truncation boundary the rank
    * table is EAGERLY materialized (the same point the lazy path would
    * truncate at), ONE further iteration is computed and materialized,
    * and the L1 delta in integer units BETWEEN THOSE CONSECUTIVE
    * iterations is tested — an O(nodes) equi-join of two checkpointed
    * tables. The consecutive-iteration delta is the sound test: a
    * cross-block delta (boundary vs previous boundary) would also read
    * zero on a limit CYCLE whose period divides checkpointEvery, which
    * truncating integer iteration can in principle enter — a
    * single-step delta of zero proves `f(r) = r`, a genuine fixed
    * point, after which every further iteration returns the identical
    * table. `tolUnits = Some(0)` is therefore the exactness regime: the
    * early-stopped result is BIT-IDENTICAL to running all `iters` —
    * what lets the fixed-k DuckDB oracle keep gating a converged run.
    * Positive tolerances trade that exactness for earlier cutoff (the
    * usual production choice). The confirmation iteration is never
    * wasted — it becomes the continuation state (and counts in the
    * returned iteration tally). Requires `materialize` (the check needs
    * actions; the audit path stays single-plan lazy) and
    * `checkpointEvery < iters` (otherwise no boundary is ever reached
    * and the requested cutoff would be silently inert).
    */
  def pageRankRun(edges: DataFrame, iters: Int,
               materialize: Boolean = true,
               checkpointEvery: Int = 10,
               tolUnits: Option[Long] = None): (DataFrame, Int) = {
    require(checkpointEvery > 0,
      s"pageRank: checkpointEvery must be positive ($checkpointEvery)")
    require(iters >= 0, s"pageRank: negative iterations ($iters)")
    require(tolUnits.isEmpty || materialize,
      "pageRank: tolUnits needs materialize = true (convergence testing " +
        "runs actions; the lazy audit path cannot)")
    require(tolUnits.forall(_ >= 0),
      s"pageRank: negative tolerance (${tolUnits.get})")
    require(tolUnits.isEmpty || checkpointEvery < iters,
      s"pageRank: tolUnits is tested at truncation boundaries, and " +
        s"checkpointEvery=$checkpointEvery >= iters=$iters reaches none — " +
        "lower checkpointEvery or drop the tolerance")
    val cols = edges.columns.toSet
    require(cols.contains("src") && cols.contains("dst"),
      s"pageRank: edge frame needs (src, dst), got ${edges.columns.mkString(",")}")
    // The materialized run plans with AQE OFF (optimization guide §1.2,
    // cut driver-paced jobs). Every exchange this dataflow runs is
    // NODE-table-sized by construction: the rank/inflow/node frames are
    // O(nodes), and the edge-sized work rides the persisted cache and
    // broadcast joins. Adaptive re-planning has nothing to adapt here,
    // while its query-stage scheduling charges one driver job per
    // shuffle per action (~45 jobs/invocation at k≈5, measured by
    // Profile). Interleaved A/B with AQE off: 1.20× at 32c/sf0.1, 1.56×
    // at 8c, 1.32× at 32c/sf1; the gain holds across core counts and SFs
    // because the overhead is per-stage, not per-byte. AQE never changes
    // results.
    // The loop runs on a private clone of the caller's session that
    // carries the override (SparkTuning.scopedSession): the edges are
    // rebound to the clone by logical plan, and the result is rebound to
    // the caller's session the same way below. The caller's conf is never
    // written, so a thread sharing its session keeps planning with AQE.
    // The audit path (materialize = false) runs no actions and stays on
    // the caller's session.
    val caller = edges.sparkSession
    val input =
      if (!materialize) edges
      else PlanBridge.frame(
        graft.core.SparkTuning.scopedSession(caller,
          "spark.sql.adaptive.enabled" -> "false"),
        edges.queryExecution.analyzed)
    // project away extra payload columns so they can't collide with the
    // internal helper names (_n/_deg/_c/_in/node/rank_units)
    val e = input.select(col("src"), col("dst"))

    // nodes and degree-annotated edges are read by EVERY iteration —
    // persist both (bounded: O(nodes) and O(edges); spill, not evict)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one-row count frame: broadcast, never collected on the driver
    val n = nodes.agg(count(lit(1)).as("_n"))

    val outdeg = e.groupBy("src").agg(count(lit(1)).as("_deg"))
    val ej = e.join(outdeg, "src")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // one synchronous iteration: rank' = teleport + damped inflow
    def step(r: DataFrame): DataFrame = {
      val inflow = ej.join(r, ej("src") === r("node"))
        .select(col("dst"),
          expr("rank_units * 85 DIV (100 * _deg)").as("_c"))
        .groupBy("dst").agg(sum(col("_c")).as("_in"))
      nodes.crossJoin(broadcast(n))
        .join(inflow, nodes("node") === inflow("dst"), "left")
        .select(col("node"),
          (expr(s"(${Unit_} * 15) DIV (100 * _n)") +
            coalesce(col("_in"), lit(0L))).as("rank_units"))
    }

    var ranks = nodes.crossJoin(broadcast(n))
      .select(col("node"), expr(s"${Unit_} DIV _n").as("rank_units"))
    val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    var converged = false
    // set when `ranks` already reads its own checkpoint blocks at loop
    // exit — the final eager() below would then only copy blocks to
    // blocks, a whole extra pass for nothing
    var ranksMaterialized = false
    var i = 0
    while (i < iters && !converged) {
      ranks = step(ranks)
      ranksMaterialized = false
      i += 1
      if (materialize && i % checkpointEvery == 0 && i < iters) {
        if (tolUnits.isDefined) {
          // Convergence boundary as ONE compute action (optimization
          // guide §1.2: fewer driver-paced jobs): iteration i and the
          // confirmation iteration i+1 both persist, and the FIRST job —
          // the CONSECUTIVE-iteration L1 delta, whose plan reads both —
          // populates both caches while computing the delta. (The former
          // shape spent three jobs here: eager-checkpoint i, eager-
          // checkpoint i+1, then the delta join over the two
          // checkpoints.) A zero single-step delta proves f(r) = r —
          // cross-block deltas would also read zero on a limit cycle
          // whose period divides checkpointEvery. The confirmation
          // iteration is the continuation state, never wasted: it leaves
          // the boundary as a checkpoint READ FROM CACHE (one cheap
          // block-copy job), keeping plan depth O(checkpointEvery)
          // exactly as before.
          val cur = ranks.persist(StorageLevel.MEMORY_AND_DISK)
          val next = step(cur).persist(StorageLevel.MEMORY_AND_DISK)
          i += 1
          val d = next.select(col("node"), col("rank_units").as("_a"))
            .join(cur.select(col("node"), col("rank_units").as("_b")),
              "node")
            .agg(coalesce(sum(abs(col("_a") - col("_b"))), lit(0L)))
            .first().getLong(0)
          ranks = graft.core.Caching.eager(next)
          ranksMaterialized = true
          cur.unpersist(blocking = false)
          next.unpersist(blocking = false)
          if (d <= tolUnits.get) converged = true
        } else {
          val (cp, release) = graft.core.Caching.deferred(ranks)
          ranks = cp
          releases += release
        }
      }
    }
    if (!materialize) (ranks, i)
    else {
      val out =
        if (ranksMaterialized) ranks else graft.core.Caching.eager(ranks)
      releases.foreach(_.apply())
      nodes.unpersist(blocking = false)
      ej.unpersist(blocking = false)
      (PlanBridge.frame(caller, out.queryExecution.analyzed), i)
    }
  }
}
