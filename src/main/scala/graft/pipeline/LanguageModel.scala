package graft.pipeline

import graft.core.Joins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Language-model quality scoring for corpus filtering — the CCNet-style
  * "perplexity against a model of the good distribution" rule (Wenzek et
  * al. 2020, public), with a deliberately simple model: an add-one-smoothed
  * char-TRIGRAM frequency LM trained on the target subset of the same
  * corpus. Weaker than a Kneser-Ney 5-gram LM, but the plumbing — train on
  * target, broadcast the model, score every doc at scan speed — is exactly
  * the production shape, and the model needs no external artifacts.
  *
  * Scale shape: the MODEL is one explode over the TARGET subset's trigrams
  * plus one combinable groupBy (bounded by the observed char-trigram
  * space, ≪ corpus), eagerly checkpointed so the smoothing scalars inline
  * as driver literals. SCORING is a single scan: the one-pass
  * [[graft.functions.TrigramScore]] expression carries the model map in
  * the plan and emits per-doc `(n_tri, lp_sum)` directly — no second
  * explode, no join, no shuffle. Models larger than `modelGate` distinct
  * trigrams (pathological alphabets) fall back to the relational
  * explode + size-gated-broadcast-join path, which is bit-identical
  * (spec-pinned).
  *
  * Determinism: per-trigram log-probs are quantized ONCE to integer
  * micro-units; per-doc scores are integer sums — summation order cannot
  * perturb the DuckDB-oracle match (same discipline as
  * [[Importance.dsirWeights]]).
  */
object LanguageModel {

  /** Per-document cross-entropy under the target char-trigram LM:
    * `(idCol, n_tri, lp_sum, xent)` where `lp_sum = Σ lp_units(tri)`,
    * `lp_units(tri) = floor(ln((cnt+1)/(N+D+1))·scale + ½)` for target
    * trigram counts `cnt` (unseen trigrams get the `cnt = 0` constant),
    * and `xent = −lp_sum/(n_tri·scale)` in nats (0.0 for docs shorter
    * than 3 chars). Lower xent = more target-like; callers threshold the
    * ROUNDED value.
    *
    * Precondition: `isTarget` must select a non-empty subset with at least
    * one trigram — an empty model has no distribution to score against
    * (every trigram scores the smoothed-unseen constant).
    *
    * `cacheTrigrams` is retained for source compatibility but is a no-op:
    * since the model derives from its own target-only pass, the corpus
    * trigram rows have exactly one consumer in either path — there is no
    * diamond left to cache.
    *
    * Models up to `literalGate` distinct trigrams inline as a plan literal
    * (foldable, oracle-friendly); larger ones ship as a Spark BROADCAST
    * referenced by the expression — the plan stays handle-sized at any
    * model size while the scoring loop is the same shared code
    * (spec-pinned bit-identical).
    */
  /** The per-doc score as a single scalar STRUCT column `(n_tri, lp_sum)`
    * — the fused form composed pipelines want: train the census (one tiny
    * job), fold the model driver-side, and return a column usable in ANY
    * select over the same corpus, so a multi-gate selection needs no
    * doc_id join against a scoring frame. `None` when the observed
    * trigram space exceeds `modelGate` (pathological alphabets — callers
    * fall back to [[charTrigramScore]]'s relational path).
    */
  def scoreColumn(df: DataFrame, text: Column, isTarget: Column,
      scale: Long = 1000000L, modelGate: Long = 1L << 20,
      literalGate: Int = 100000): Option[Column] = {
    val normText = trim(lower(text))
    val len = length(col("_s"))
    val nW = when(len < 3, lit(0L)).otherwise(len.cast("long") - 2L)
    val winArr = when(nW === 0L, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1L), nW),
        i => col("_s").substr(i.cast("int"), lit(3))))
    val tcntPlan = df.filter(isTarget).select(normText.as("_s"))
      .select(explode(winArr).as("tri"))
      .groupBy(col("tri")).agg(count(lit(1)).as("cnt"))
    val gateN = math.min(modelGate, Int.MaxValue - 1L).toInt
    val census = tcntPlan.limit(gateN + 1).collect()
    if (census.length > gateN) None
    else {
      val nTot = census.map(_.getLong(1)).sum
      val denom = (nTot + census.length + 1L).toDouble
      // floor(ln((cnt+1)/(N+D+1))·scale + ½) — StrictMath.log is the exact
      // function Spark's log() expression evaluates (fdlibm semantics), so
      // the driver fold and the fallback branch's distributed log() agree
      // to the bit, never just to 1 ulp (a 1-ulp divergence landing on a
      // floor(x·10⁶+½) boundary would flip a micro-unit)
      val modelMap: Map[String, Long] = census.map { r =>
        r.getString(0) -> math.floor(
          StrictMath.log((r.getLong(1) + 1L).toDouble / denom) * scale + 0.5).toLong
      }.toMap
      val unseenUnits =
        math.floor(StrictMath.log(1.0 / denom) * scale + 0.5).toLong
      // scan-speed scoring: the model rides in the plan (literal) or as a
      // broadcast handle (large models); both expressions are built
      // directly, so the library API works on an untuned session. NULL text
      // coalesces to "" so the doc scores (0, 0, 0.0) exactly like the
      // relational path (whose explode yields no rows + na.fill)
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val textE = ColumnBridge.expression(coalesce(text.cast("string"), lit("")))
      Some(
        if (census.length > literalGate) {
          val bc = df.sparkSession.sparkContext.broadcast(
            graft.functions.TrigramScore.toUtf8Map(modelMap))
          ColumnBridge.column(
            graft.functions.TrigramScoreBcast(textE, bc, unseenUnits))
        } else ColumnBridge.column(graft.functions.TrigramScore(textE,
          ColumnBridge.expression(typedLit(modelMap)),
          ColumnBridge.expression(lit(unseenUnits)))))
    }
  }

  /** Cross-entropy in nats from a [[scoreColumn]] struct (0.0 for docs
    * with no trigrams), rounded to 6 places — the thresholding form.
    */
  def xentOf(score: Column, scale: Long = 1000000L): Column =
    when(score.getField("n_tri") === 0L, 0.0).otherwise(
      round(-score.getField("lp_sum") /
        (score.getField("n_tri") * scale).cast("double"), 6))

  def charTrigramScore(df: DataFrame, idCol: String, text: Column,
      isTarget: Column, scale: Long = 1000000L,
      cacheTrigrams: Boolean = true,
      modelGate: Long = 1L << 20,
      literalGate: Int = 100000): DataFrame = {
    // Materialize the normalized string as a NAMED column before the HOF:
    // transform() is interpreted and does no CSE, so inlining trim(lower())
    // into the lambda would re-normalize the whole document PER TRIGRAM —
    // O(len²) per doc, measured 45 s → 5.5 s on the 50k-doc stress corpus.
    // The multi-use non-trivial alias survives CollapseProject (same
    // discipline as Dedup.shinglesHof).
    def normalized(d: DataFrame, cols: Column*): DataFrame =
      d.select(cols :+ trim(lower(text)).as("_s"): _*)
    val len = length(col("_s"))
    val nW = when(len < 3, lit(0L)).otherwise(len.cast("long") - 2L)
    // sequence(1, 0) DESCENDS — the nW===0 guard avoids it
    val winArr = when(nW === 0L, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1L), nW),
        i => col("_s").substr(i.cast("int"), lit(3))))
    def xentCol: Column = when(col("n_tri") === 0L, 0.0).otherwise(
      round(-col("lp_sum") / (col("n_tri") * scale).cast("double"), 6))
    // The MODEL pass lives in scoreColumn: census collected once, model
    // folded driver-side, scoring a single scalar expression (see the
    // scoreColumn scaladoc for the sub-plan-replay rationale).
    scoreColumn(df, text, isTarget, scale, modelGate, literalGate) match {
      case Some(scoreCol) =>
        df.select(col(idCol), scoreCol.as("_t"))
          .select(col(idCol), col("_t").getField("n_tri").as("n_tri"),
            col("_t").getField("lp_sum").as("lp_sum"))
          .withColumn("xent", xentCol)
      case None =>
        val tcntPlan = normalized(df.filter(isTarget))
          .select(explode(winArr).as("tri"))
          .groupBy(col("tri")).agg(count(lit(1)).as("cnt"))
      // fallback for pathological trigram spaces: recompute the census
      // distributed (checkpointed — it feeds two branches), log-probs in
      // Spark, relational explode + size-gated broadcast join scoring;
      // bit-identical to the expression path
      val tcnt = graft.core.Caching.eager(tcntPlan)
      val totRow = tcnt.agg(sum(col("cnt")), count(lit(1))).first()
      val nTot = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
      val denom = (nTot + totRow.getLong(1) + 1L).toDouble
      val lp = tcnt
        .withColumn("lp_units",
          floor(log((col("cnt") + 1L).cast("double") / denom) * scale + 0.5)
            .cast("long"))
        .select(col("tri"), col("lp_units"))
      val unseenUnits =
        math.floor(StrictMath.log(1.0 / denom) * scale + 0.5).toLong
      // the trigram rows have exactly ONE consumer now (the model derives
      // from tcntPlan above), so there is no diamond left to cache —
      // persisting them would be a full corpus-sized materialization for
      // zero reuse
      val tris = normalized(df, col(idCol))
        .select(col(idCol), explode(winArr).as("tri"))
      val scored = tris
        .join(Joins.maybeBroadcast(lp), Seq("tri"), "left")
        .withColumn("_u", coalesce(col("lp_units"), lit(unseenUnits)))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_tri"), sum(col("_u")).as("lp_sum"))
      df.select(col(idCol))
        .join(scored, Seq(idCol), "left")
        .na.fill(0L, Seq("n_tri", "lp_sum"))
        .withColumn("xent", xentCol)
    }
  }
}
