package graft.pipeline

import graft.core.Joins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** DSIR-style importance weighting for data selection (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling" — public):
  * score every document by how much more likely its hashed n-gram features
  * are under a TARGET distribution (e.g. curated/high-quality docs) than
  * under the RAW pool, then keep the most target-like slice.
  *
  * Shuffle structure at corpus scale:
  *   1. one scan exploding each doc's unigrams+bigrams to (doc, bucket)
  *      rows — bucket is an md5-derived hash in [0, B), so the feature
  *      space is FIXED-SIZE regardless of corpus size;
  *   2. one map-side-combinable groupBy(bucket) for the two count vectors
  *      (B rows total — kilobytes), COLLECTED: totals fold driver-side and
  *      the per-bucket weights inline as a literal map;
  *   3. one groupBy(doc) sum over the map-lookup column — the scoring pass
  *      carries NO join. Two passes over the gram rows (census + scoring);
  *      the optional gram cache collapses them to one.
  *
  * Determinism across engines: the per-bucket log-ratio is quantized ONCE
  * to integer micro-units (`floor(ln(r)·10⁶ + ½)`), and per-doc scores are
  * INTEGER sums of those units — float summation order can never perturb
  * the result, so the DuckDB oracle matches bit-for-bit.
  */
object Importance {

  /** md5-derived hash bucket in [0, buckets): first 7 hex nibbles of
    * md5(gram) as an int (the minhash base-hash idiom), mod buckets.
    */
  def gramBucket(gram: Column, buckets: Int): Column =
    conv(substring(md5(gram.cast("binary")), 1, 7), 16, 10)
      .cast("bigint") % buckets

  /** Unigram+bigram features of a document, multiplicity preserved (DSIR
    * counts occurrences, not distinct grams). Bucketing happens AFTER the
    * explode so the md5 stays in codegen'd projection, not an interpreted
    * per-element HOF.
    */
  def featureGrams(text: Column): Column =
    concat(Dedup.ngramArray(text, 1), Dedup.ngramArray(text, 2))

  /** Fold the collected bucket census `(b, ct_all, ct_t)` into the
    * per-bucket integer log-ratio weights. StrictMath.log = the exact
    * function Spark's log() evaluates, so this driver fold is
    * bit-identical to a distributed join form at every floor(x·10⁶+½)
    * boundary (same discipline as [[LanguageModel]]).
    */
  private def foldWeights(bstats: Array[(Long, Long, Long)], buckets: Int,
      scale: Long): Map[Long, Long] = {
    val nAll = bstats.map(_._2).sum
    val nT = bstats.map(_._3).sum
    bstats.map { case (b, ctAll, ctT) =>
      b -> math.floor(StrictMath.log(
        ((ctT + 1L).toDouble * (nAll + buckets).toDouble) /
          ((ctAll + 1L).toDouble * (nT + buckets).toDouble)) * scale + 0.5).toLong
    }.toMap
  }

  /** One census job — explode + combinable groupBy over the FIXED-SIZE
    * bucket space, collected and folded driver-side into the per-bucket
    * integer log-ratio weights every scoring form probes.
    */
  private def censusWeights(df: DataFrame, text: Column, isTarget: Column,
      buckets: Int, scale: Long): Map[Long, Long] = {
    require(buckets > 0 && buckets <= (1 << 20),
      s"buckets must be in (0, 2^20] (the census is collected), got $buckets")
    val bstats = df
      .select(isTarget.as("_tgt"), explode(featureGrams(text)).as("gram"))
      .select(col("_tgt"), gramBucket(col("gram"), buckets).as("b"))
      .groupBy(col("b")).agg(
        count(lit(1)).as("ct_all"),
        sum(when(col("_tgt"), 1L).otherwise(0L)).as("ct_t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    foldWeights(bstats, buckets, scale)
  }

  /** `score_units` as a single scalar Column — the fused form composed
    * selections want: one census job ([[censusWeights]]), then the score
    * is the one-pass codegen'd [[graft.functions.DsirUnits]] expression,
    * usable in ANY select over the same corpus: no second gram explode,
    * no score groupBy, no doc_id join. Bit-identical to [[dsirWeights]]'
    * `score_units` — integer sums are summation-order-free, and every
    * gram's bucket is in the census by construction (the census scanned
    * the same corpus). Docs with no grams (null/short text) score 0L.
    */
  def dsirUnitsColumn(df: DataFrame, text: Column, isTarget: Column,
      buckets: Int = 512, scale: Long = 1000000L): Column =
    dsirUnits(text, censusWeights(df, text, isTarget, buckets, scale), buckets)

  /** Σ lr_units[bucket(gram)] over `text`'s grams via the codegen'd
    * [[graft.functions.DsirUnits]] expression, 0L for docs with no grams.
    */
  private def dsirUnits(text: Column, lrMap: Map[Long, Long],
      buckets: Int): Column =
    coalesce(ColumnBridge.column(graft.functions.DsirUnits(
      ColumnBridge.expression(text.cast("string")),
      ColumnBridge.expression(typedLit(lrMap)),
      ColumnBridge.expression(lit(buckets)))), lit(0L))

  /** Reference HOF form of [[dsirUnitsColumn]] (interpreted per gram;
    * specs pin the expression's bit-identity against it — and it is the
    * exact per-gram arithmetic the DuckDB oracle mirrors).
    */
  def dsirUnitsHofColumn(df: DataFrame, text: Column, isTarget: Column,
      buckets: Int = 512, scale: Long = 1000000L): Column = {
    val lrMap = censusWeights(df, text, isTarget, buckets, scale)
    coalesce(
      aggregate(featureGrams(text), lit(0L),
        (acc, gm) => acc + element_at(typedLit(lrMap), gramBucket(gm, buckets))),
      lit(0L))
  }

  /** Per-document DSIR importance scores: `(idCol, score_units, score,
    * keep)` where `score_units = Σ_grams lr_units[bucket(gram)]`,
    * `lr_units[b] = floor(ln(p̂_target[b]/p̂_raw[b])·scale + ½)` with +1
    * smoothing, `score = units/scale` (rounded for display) and `keep = 1`
    * iff the doc is more target-like than raw (score > 0).
    *
    * `isTarget` marks the target-distribution rows INSIDE the same corpus
    * (e.g. `col("lang") === "en"` or a curated-source predicate); the raw
    * distribution is the whole pool, per the paper's raw/target setup.
    */
  def dsirWeights(df: DataFrame, idCol: String, text: Column,
      isTarget: Column, buckets: Int = 512, scale: Long = 1000000L,
      cacheGrams: Boolean = true): DataFrame = {
    // the bucket census is ≤ `buckets` rows BY CONSTRUCTION — collect it,
    // fold the totals driver-side, and inline the per-bucket weights as a
    // LITERAL map: the scoring pass is then ONE codegen'd scan over the
    // corpus (the DsirUnits expression) with no second gram explode, no
    // groupBy, no join — and therefore nothing for `cacheGrams` to cache
    // (the parameter is retained for source compatibility; the census and
    // the scoring scan each read the corpus once either way). Mirrors the
    // Spark double arithmetic exactly, so scores are bit-identical to the
    // historical explode → map-lookup → groupBy → join form.
    val _ = cacheGrams
    val units =
      dsirUnits(text, censusWeights(df, text, isTarget, buckets, scale), buckets)
    df.select(col(idCol), units.as("score_units"))
      .withColumn("score", round(col("score_units") / scale.toDouble, 6))
      .withColumn("keep", (col("score_units") > 0L).cast("int"))
  }
}
