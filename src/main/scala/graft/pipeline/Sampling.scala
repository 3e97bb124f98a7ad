package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling and train/val/test splitting for
  * training-data pipelines.
  *
  * Assignment is a pure function of (id, salt) — the first 16 bits of
  * `md5("<id>:<salt>")` — so the same row lands in the same split at any
  * cluster size, partition layout, or engine (the DuckDB oracle mirrors the
  * arithmetic verbatim). No RNG state, no `rand()` partition sensitivity.
  * The hash-threshold operators are pure codegen'd Column arithmetic: one
  * scan, ZERO shuffles — at 100 TB a split is free, piggybacked on whatever
  * scan already runs. Only the exact-quota variant shuffles (once, by
  * stratum), and is meant for bounded-cardinality strata.
  */
object Sampling {

  /** Uniform bucket in [0, 65536): first 4 hex nibbles of md5("<id>:<salt>").
    * Coarse by design — use ONLY for threshold/quota samplers, where a
    * 1/65536 rate granularity is the contract. Exact-k selection needs
    * [[hashRank]]: with 16-bit buckets, any corpus past ~65k rows stuffs
    * thousands of rows into bucket 0 and bottom-k degenerates into
    * "smallest ids in the lowest buckets" — id-correlated, not uniform.
    */
  def hashBucket(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit(":" + salt))), 1, 4),
      16, 10).cast("long")

  /** Fine-grained uniform rank in [0, 2⁵²): first 13 hex nibbles of
    * md5("<id>:<salt>"). 52 bits keeps the value EXACT in a double's
    * 53-bit mantissa, so it can ride through double-keyed heaps
    * ([[graft.functions.TopKAgg]]) and /2⁵² division without rounding —
    * collision odds stay negligible (~n²/2⁵³) even at 100-TB corpus
    * cardinalities, which is what makes exact-k selection actually
    * uniform at scale.
    */
  def hashRank(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit(":" + salt))), 1, 13),
      16, 10).cast("long")

  /** Deterministic split assignment: `fracs` are (name, fraction) in
    * declaration order, summing to ≤ 1 (any remainder falls into the last
    * split). A row's split is fixed by its id alone — growing the corpus
    * never reassigns existing rows, the property that keeps eval sets
    * uncontaminated across pipeline re-runs.
    */
  def splitColumn(id: Column, salt: String, fracs: Seq[(String, Double)]): Column = {
    require(fracs.nonEmpty && fracs.map(_._2).sum <= 1.0 + 1e-9,
      s"split fractions must sum to <= 1: $fracs")
    val b = hashBucket(id, salt)
    val cuts = fracs.scanLeft(0L) { case (acc, (_, f)) =>
      acc + math.round(f * 65536).toLong
    }.tail
    fracs.zip(cuts).dropRight(1).foldRight(lit(fracs.last._1): Column) {
      case (((name, _), cut), elseCol) => when(b < cut, name).otherwise(elseCol)
    }
  }

  /** Proportional-in-expectation sample: keep rows with bucket < frac·2¹⁶.
    * Shuffle-free and stratum-agnostic — uniform hashing makes every
    * stratum's keep-rate ≈ frac. This is the 100-TB path.
    */
  def sampleByHash(df: DataFrame, idCol: String, frac: Double,
      salt: String): DataFrame =
    df.filter(hashBucket(col(idCol), salt) < math.round(frac * 65536))

  /** Fine-rate proportional sample: [[sampleByHash]] on the 52-bit grid.
    * The 16-bit grid quantizes the keep-rate to multiples of 1/65536 —
    * unusable for the rates a 100-TB corpus actually needs (keeping 1e-6
    * of a trillion rows rounds to either 0 or 15× the intent). Here the
    * cut is `round(frac·2⁵²)`, so any practical rate is representable to
    * ~2e-16 relative error, still a pure codegen'd scan filter: one scan,
    * zero shuffles, membership a pure function of (id, salt).
    */
  def sampleByHashFine(df: DataFrame, idCol: String, frac: Double,
      salt: String): DataFrame = {
    require(frac >= 0 && frac <= 1, s"sampleByHashFine: frac=$frac")
    df.filter(hashRank(col(idCol), salt) <
      math.round(frac * 4503599627370496.0))
  }

  /** Sequence packing: lay documents end-to-end in id order and cut the
    * stream into fixed `budget`-token bins — the contiguous-fill packing a
    * training pipeline runs to batch variable-length documents into
    * constant-size sequences. Semantically this is a GLOBAL running token
    * count, but a global-window cumsum would serialize onto one partition;
    * instead it runs as a two-level distributed prefix sum:
    *
    *   1. rows bucket by contiguous id range (`nBuckets` fixed, order-
    *      aligned with the id),
    *   2. ONE tiny agg computes per-bucket token totals; their prefix sums
    *      (≤ nBuckets rows, driver-side) broadcast back as bucket offsets,
    *   3. the running count inside each bucket is a window partitioned BY
    *      bucket — fully parallel — plus the bucket's offset.
    *
    * The result is bit-identical to the single-window cumsum (the oracle
    * mirrors it that way) at any partition count.
    */
  def packSequences(df: DataFrame, idCol: String, tok: Column, budget: Int,
      nBuckets: Int = 256, cacheBase: Boolean = true): DataFrame = {
    require(budget > 0 && nBuckets > 0)
    // The packer consumes its (id, n_tok) projection THREE times — the
    // max-id probe, the bucket-sums collect, and the final windowed plan
    // — and the caller's sink makes a fourth pass. Without a cache each
    // pass recomputes the ENTIRE upstream chain (for pipeline_e2e /
    // graph_pipeline / crawl_e2e that chain is the whole gate + dedup
    // pipeline — measured 4× upstream execution per invocation,
    // optimization guide §1.2/§5 "caching is worth it when a frame is
    // reused AND recomputing is more expensive"). The projection is two
    // longs per row — the cheapest possible thing to persist — so the
    // probe populates the cache, the collect and the final plan read it,
    // and Caching.scoped hands back an eagerly-materialized result that
    // releases the cache without leaking it into the caller's session.
    // `cacheBase = false` restores the fully lazy chain.
    val base0 = df.select(col(idCol).cast("long").as("_id"),
      tok.cast("long").as("n_tok"))
    val base =
      if (cacheBase)
        base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else base0
    val maxRow = base.agg(max(col("_id"))).first()
    // an empty corpus (every doc gated away upstream) must pack to an
    // empty frame, not crash the max-id probe with a null-row error —
    // found when an sf1 workload's LM gate rejected all docs (r11)
    if (maxRow.isNullAt(0)) {
      val empty = base.select(col("_id").as(idCol), col("n_tok"),
        lit(0L).as("bin"), lit(0L).as("offset_in_bin"))
      return if (cacheBase) graft.core.Caching.scoped(empty, base) else empty
    }
    val maxId = maxRow.getLong(0)
    val span = maxId / nBuckets + 1
    val withB = base.withColumn("_b",
      floor(col("_id").cast("double") / span).cast("long"))
    val sums = withB.groupBy(col("_b")).agg(sum(col("n_tok")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ordered = sums.keys.toSeq.sorted
    val offMap = ordered.zip(
      ordered.scanLeft(0L)((acc, b) => acc + sums(b))).toMap
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offMap.toSeq.toDF("_b", "_off")
    val w = Window.partitionBy(col("_b")).orderBy(col("_id"))
    val start = col("_off") + sum(col("n_tok")).over(w) - col("n_tok")
    val bin = floor(start.cast("double") / budget).cast("long")
    val out = withB.join(broadcast(offDf), "_b")
      .select(col("_id").as(idCol), col("n_tok"), bin.as("bin"),
        (start - bin * budget).as("offset_in_bin"))
    if (cacheBase) graft.core.Caching.scoped(out, base) else out
  }

  /** EXACT per-stratum quota: ⌈frac·n⌉ rows of every stratum, chosen by
    * hash order (so membership is still deterministic and re-run-stable
    * while the stratum grows only at the quota boundary). One shuffle by
    * stratum + a per-stratum sort window; intended for bounded-cardinality
    * strata (languages, sources) — for unbounded strata use
    * [[sampleByHash]]. The window is the right shape here because the
    * quota is PROPORTIONAL (⌈frac·n⌉ rows must survive, so any bounded
    * buffer would be O(n·frac) anyway); for a FIXED per-stratum k use the
    * bounded-heap twin [[stratifiedSampleK]], which keeps the whole sort
    * off the wire.
    */
  def stratifiedExact(df: DataFrame, idCol: String, strataCols: Seq[String],
      frac: Double, salt: String): DataFrame = {
    val w = Window.partitionBy(strataCols.map(col): _*)
    // 52-bit hashRank, not the 16-bit bucket: the quota boundary must cut
    // a hash-uniform ORDER, and a 16-bit order degenerates to id-order
    // within tied buckets once a stratum exceeds ~65k rows
    val b = hashRank(col(idCol), salt)
    df.withColumn("_rn", row_number().over(w.orderBy(b, col(idCol))))
      .withColumn("_n", count(lit(1)).over(w))
      .filter(col("_rn") <= ceil(col("_n") * frac))
      .drop("_rn", "_n")
  }

  /** EXACT-k per-stratum uniform sample — the bounded-heap scale twin of
    * [[stratifiedExact]] for FIXED per-stratum quotas: the k rows of every
    * stratum with the smallest ([[hashRank]], id), selected by ONE
    * `groupBy(strata).agg(TopKAgg)` pass. Where the window form shuffles
    * and sorts every stratum row, the heap keeps ≤ k candidates per
    * (stratum, partition) on the map side, so the wire carries
    * O(strata·k·partitions) heap entries at ANY corpus size — no Window,
    * no per-stratum sort. Membership is identical to the window form at
    * quota = k (same (hashRank, id) order), deterministic and
    * re-run-stable. `idCol` must be integral (ids ride the heap's long
    * slot). Returns (strataCols…, rank, idCol), rank 1..k per stratum.
    */
  def stratifiedSampleK(df: DataFrame, idCol: String,
      strataCols: Seq[String], k: Int, salt: String): DataFrame = {
    require(strataCols.nonEmpty, "stratifiedSampleK: no strata columns")
    // negating the 52-bit rank (exact in a double) yields
    // (hashRank asc, id asc) — the same selection order as
    // stratifiedExact's window
    heapRanked(df, "stratifiedSampleK", strataCols,
      -hashRank(col(idCol), salt).cast("double"), idCol, k)
  }

  /** Temperature-based source mixing (the multilingual-pretraining
    * resampling rule, mT5/UniMax-style — public): sample source `s` with
    * weight ∝ n_s^τ, so τ<1 flattens the mixture toward small sources and
    * τ=1 keeps natural proportions. Deterministic and exact: per-source
    * quotas `q_s = min(n_s, ⌊targetFrac·N·ŵ_s + ½⌋)` with ŵ_s the
    * normalized temperature weight, then the q_s docs with the smallest
    * (hash, id) per source are kept — re-runs and cluster layouts can
    * never change the selection.
    *
    * Determinism detail: the weights n_s^τ are quantized to integer
    * micro-units BEFORE normalization, so the weight sum is an integer sum
    * — float summation order (Spark partials vs any oracle engine's
    * sequential fold) cannot perturb the quotas.
    *
    * Shuffle shape: one tiny groupBy(source) for counts, the quota table
    * broadcast back, one row_number window PARTITIONED BY SOURCE — meant,
    * like [[stratifiedExact]], for bounded-cardinality source sets (a
    * web-scale run with millions of "sources" should bucket them first).
    */
  def temperatureMixture(df: DataFrame, idCol: String, sourceCol: String,
      tau: Double, targetFrac: Double, salt: String): DataFrame = {
    require(tau > 0 && targetFrac > 0 && targetFrac <= 1,
      s"need tau > 0 and 0 < targetFrac <= 1, got tau=$tau frac=$targetFrac")
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("_n"))
      .withColumn("_wu",
        floor(pow(col("_n").cast("double"), tau) * 1000000L + 0.5).cast("long"))
    val tot = counts.agg(sum(col("_wu")).as("_wsum"), sum(col("_n")).as("_ntot"))
    val quotas = counts.crossJoin(broadcast(tot))
      .withColumn("_quota", least(col("_n"),
        floor(col("_ntot").cast("double") * targetFrac *
          (col("_wu").cast("double") / col("_wsum").cast("double")) + 0.5)
          .cast("long")))
      .select(col(sourceCol), col("_quota"))
    val w = Window.partitionBy(col(sourceCol))
    df.join(graft.core.Joins.maybeBroadcast(quotas), Seq(sourceCol))
      .withColumn("_rn",
        row_number().over(w.orderBy(hashRank(col(idCol), salt), col(idCol))))
      .filter(col("_rn") <= col("_quota"))
      .drop("_rn", "_quota")
  }

  /** Shared bounded-heap rank/unpack shape behind every exact-k sampler
    * ([[uniformSampleK]], [[weightedSampleK]], [[stratifiedSampleK]],
    * [[scoreQuotaK]]): ONE [[graft.functions.TopKAgg]] pass — global, or
    * grouped by `strataCols` — whose ≤k-entry heaps unpack to one row per
    * selection, (strataCols…, rank, idCol[, score]), rank 1..k by
    * (value desc, id asc). The heap packs ids into its long tie-break
    * slot, so `idCol` must be integral — gated loudly here, one message
    * for every caller, instead of an analysis error from inside the
    * aggregator. Unrankable rows (null id or null/NaN value — e.g. a
    * null score in [[scoreQuotaK]]) carry no rankable mass and are
    * dropped, the [[graft.functions.TopKAgg]] null contract — the same
    * convention as [[weightedSampleK]]'s null-weight exclusion. (The
    * window forms instead park null scores at the worst ranks —
    * identical output whenever the quota stays within the non-null
    * rows, which integral quantized scores always satisfy.) The drop is
    * encoded by mapping the row's heap value to NaN — which `reduce()`
    * already discards — NOT by a pre-filter: a Filter re-evaluates
    * `value`, and when the value is an expensive inline expression
    * (tokenizing regexes) that doubles the scan cost (measured 2× on
    * quality_topk_gate at 10× gate data); `coalesce(value, NaN)`
    * evaluates it exactly once.
    */
  private def heapRanked(df: DataFrame, fn: String, strataCols: Seq[String],
      value: Column, idCol: String, k: Int,
      withScore: Boolean = false): DataFrame = {
    require(k > 0, s"$fn: k must be positive ($k)")
    val idType = df.schema(idCol).dataType
    require(Seq("byte", "short", "integer", "long").contains(idType.typeName),
      s"$fn: id column '$idCol' must be integral (ids ride the bounded " +
        s"heap as longs); got $idType")
    val safeV = when(col(idCol).isNull, lit(Double.NaN))
      .otherwise(coalesce(value.cast("double"), lit(Double.NaN)))
    val heap = graft.functions.TopKAgg.column(safeV,
      coalesce(col(idCol).cast("long"), lit(0L)), k).as("top")
    val agged =
      if (strataCols.isEmpty) df.agg(heap)
      else df.groupBy(strataCols.map(col): _*).agg(heap)
    val out = strataCols.map(col) ++
      Seq((col("pos") + 1).cast("long").as("rank"), col("e.id").as(idCol)) ++
      (if (withScore) Seq(col("e.v").as("score")) else Nil)
    agged
      .select(strataCols.map(col) :+
        posexplode(col("top")).as(Seq("pos", "e")): _*)
      .select(out: _*)
  }

  /** EXACT-k uniform sample without replacement: the k corpus rows with
    * the smallest (hashRank, id) — deterministic bottom-k-by-hash, the
    * published distributed-sampling trick. Unlike the row_number() window
    * encoding (full-table shuffle + global sort), the bounded-heap
    * [[graft.functions.TopKAgg]] ships ≤ k candidates per partition —
    * O(k·partitions) on the wire at ANY corpus size, one map-side
    * combinable pass. Returns (rank, idCol), rank 1..k in selection order.
    */
  def uniformSampleK(df: DataFrame, idCol: String, k: Int,
      salt: String): DataFrame =
    // TopKAgg keeps the HIGHEST values with id-asc tie-break, so negating
    // the rank yields exactly (rank asc, id asc) lexicographic order; the
    // 52-bit hashRank is exact as a double, and fine enough that ties are
    // ~impossible — inclusion stays uniform at any corpus size (the 16-bit
    // bucket version degenerated to id-order past ~65k rows)
    heapRanked(df, "uniformSampleK", Nil,
      -hashRank(col(idCol), salt).cast("double"), idCol, k)

  /** EXACT per-stratum quality gate: keep the `keepPm` per-mille (⌈n·pm/1000⌉,
    * integer rank arithmetic so any SQL engine reproduces the quota
    * bit-for-bit) HIGHEST-`score` rows of every stratum, ties broken by id
    * ascending — the curation pass that keeps "the top 25% by quality per
    * source/language" (the public FineWeb/CCNet-style percentile filter).
    * One shuffle by stratum + a per-stratum sort window; intended for
    * bounded-cardinality strata. The window is the right shape because
    * the quota is PROPORTIONAL (⌈n·pm/1000⌉ survivors — any bounded
    * buffer would be O(n) anyway). Scale twins: for a FIXED top-k per
    * stratum use the bounded-heap [[scoreQuotaK]] (no Window, no
    * stratum sort); for unbounded strata at a proportional rate use
    * [[scoreThresholdGate]], which replaces the window with one
    * O(capacity)-state sketch pass.
    */
  def scoreQuota(df: DataFrame, idCol: String, score: Column,
      strataCols: Seq[String], keepPm: Int): DataFrame = {
    require(keepPm >= 1 && keepPm <= 1000,
      s"scoreQuota: keepPm must be in [1, 1000], got $keepPm")
    val w = Window.partitionBy(strataCols.map(col): _*)
    df.withColumn("_rn",
        row_number().over(w.orderBy(score.desc, col(idCol).asc)))
      .withColumn("_n", count(lit(1)).over(w))
      // rn ≤ ⌈n·pm/1000⌉ rewritten division-free as (rn−1)·1000 < n·pm —
      // pure long arithmetic (Spark's Column `/` is double division), so
      // the quota boundary is bit-identical in any SQL oracle
      .filter((col("_rn") - 1) * 1000L < col("_n") * keepPm.toLong)
      .drop("_rn", "_n")
  }

  /** FIXED top-k quality gate — the bounded-heap scale twin of
    * [[scoreQuota]] for ABSOLUTE per-stratum quotas ("the k best docs per
    * source", the curation shape when the budget is a row count, not a
    * fraction): the k HIGHEST-`score` rows of every stratum, ties by id
    * ascending, via ONE `groupBy(strata).agg(TopKAgg)` pass — ≤ k
    * candidates per (stratum, partition) on the wire, no Window, no
    * stratum sort. Selection order is identical to [[scoreQuota]]'s
    * (score desc, id asc) whenever `score` is exact in a double
    * (integral quantized scores — per-mille/micro-unit — always are).
    * `idCol` must be integral (ids ride the heap's long slot). Returns
    * (strataCols…, rank, idCol, score), rank 1..k per stratum; `score`
    * is the heap's double — cast it back at the call site when the
    * input was integral.
    */
  def scoreQuotaK(df: DataFrame, idCol: String, score: Column,
      strataCols: Seq[String], k: Int): DataFrame = {
    require(strataCols.nonEmpty, "scoreQuotaK: no strata columns")
    heapRanked(df, "scoreQuotaK", strataCols, score.cast("double"), idCol, k,
      withScore = true)
  }

  /** Sketch-THRESHOLD quality gate — the 100-TB shape of [[scoreQuota]]:
    * per-stratum keep-threshold = the (1000−keepPm) per-mille quantile of
    * the QUANTIZED score from ONE mergeable
    * [[graft.functions.QuantileSketchAgg]] pass (O(capacity) state per
    * partition, O(capacity) bytes per partition on the wire — no
    * stratum-wide sort, no data-sized shuffle), broadcast back onto the
    * scan as a `score >= threshold` filter.
    *
    * Exactness: the threshold is EXACT whenever each stratum's distinct
    * quantized score values stay ≤ capacity — for a per-mille-quantized
    * score (≤ 1001 distinct values) this holds at ANY corpus size, which
    * is what lets a SQL oracle reproduce the gate bit-for-bit at every
    * scale. Boundary semantics differ from the quota form by design: the
    * gate keeps every row with ascending rank ≥ max(1, ⌈(1000−keepPm)·n
    * /1000⌉) — i.e. UP TO ONE ROW beyond [[scoreQuota]]'s ⌈n·keepPm/1000⌉
    * quota even with fully distinct scores (exactly when
    * (1000−keepPm)·n/1000 is integral), PLUS every row TYING the
    * threshold value (a threshold gate, not an exact quota).
    *
    * Two cost regimes, because the gate reads the corpus twice (once for
    * the sketch, once for the filter):
    *  - `cacheScored = false` (the lazy shape): right when `scoreQ` is a
    *    STORED column — two cheap scans, zero corpus shuffles, nothing
    *    materialized. This is the 100-TB production shape (scores are
    *    written once by the scoring stage).
    *  - `cacheScored = true` (default): right when `scoreQ` is an
    *    EXPENSIVE inline expression (tokenizing regexps) — the scored
    *    projection persists once (spill-safe MEMORY_AND_DISK), both
    *    passes read it, and the [[graft.core.Caching.scoped]] discipline
    *    eagerly materializes the gated output and releases the cache so
    *    nothing leaks into the caller's session. Measured at 100× gate
    *    data: the uncached form re-paid the score expression and lost to
    *    the window quota (113 s vs 44 s); the cached form pays it once.
    */
  def scoreThresholdGate(df: DataFrame, scoreQ: Column,
      strataCols: Seq[String], keepPm: Int, capacity: Int = 2048,
      cacheScored: Boolean = true): DataFrame = {
    require(keepPm >= 1 && keepPm <= 1000,
      s"scoreThresholdGate: keepPm must be in [1, 1000], got $keepPm")
    def gate(base: DataFrame, score: Column): DataFrame = {
      val thr = base
        .groupBy(strataCols.map(col): _*)
        .agg(graft.functions.QuantileSketchAgg.column(
          score, lit(1L), capacity, Seq(1000 - keepPm)).as("_qp"))
        .select(strataCols.map(col) :+
          element_at(col("_qp"), 1).getField("v").as("_thr"): _*)
      base.join(broadcast(thr), strataCols).filter(score >= col("_thr"))
        .drop("_thr")
    }
    if (!cacheScored) gate(df, scoreQ)
    else {
      val scored = df.withColumn("_sq", scoreQ)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.core.Caching.scoped(gate(scored, col("_sq")).drop("_sq"), scored)
    }
  }

  /** EXACT-k WEIGHTED sample without replacement (Efraimidis-Spirakis
    * 2006, public): key_i = ln(u_i)/w_i with u_i = (hashRank+1)/2⁵² a
    * deterministic uniform in (0, 1], keep the k largest keys —
    * equivalent to keeping the largest u^(1/w), so inclusion probability
    * tracks weight mass. Same bounded-heap shape as [[uniformSampleK]]
    * (O(k·partitions) on the wire, no window). Rows with NULL or
    * non-positive weight are excluded (they carry no sampling mass).
    * The 52-bit rank is exact in a double and division by 2⁵² is exact in
    * binary, so both engines feed ln() the identical double and the
    * selection reproduces cross-engine. E-S needs fine-grained per-row
    * uniforms: the old 16-bit u quantization made every bucket-65535 row
    * key to ln(1)/w = 0 — the global max regardless of weight — so at
    * N ≥ 65536·k the "weighted" sample ignored weights entirely.
    */
  def weightedSampleK(df: DataFrame, idCol: String, weight: Column, k: Int,
      salt: String): DataFrame = {
    val u = (hashRank(col(idCol), salt) + lit(1L)).cast("double") /
      lit(4503599627370496.0) // 2^52
    // the weight gate rides INSIDE the heap value (`when(weight > 0, …)`
    // → null → NaN, which TopKAgg.reduce discards), not a pre-filter:
    // Catalyst does not CSE across Filter and Aggregate, so a pre-filter
    // re-evaluates `weight` — free for a stored column but 2× the scan
    // for an expensive inline weight (the class heapRanked's NaN
    // convention exists for). The gate itself is semantically REQUIRED:
    // a negative weight would flip the E-S key sign and wrongly top the
    // heap.
    val key = when(weight.cast("double") > 0, log(u) / weight.cast("double"))
    heapRanked(df, "weightedSampleK", Nil, key, idCol, k)
  }
}
