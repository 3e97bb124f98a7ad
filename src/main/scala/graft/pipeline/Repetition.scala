package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.expressions.Window

/** Repetition-based quality filters for training corpora — the standard
  * "remove documents that repeat themselves" rules (duplicate n-gram and
  * top-n-gram character fractions, type-token ratio) applied per document.
  *
  * Two physical forms with identical semantics:
  *
  *   - '''Scan-speed''' (`*F` columns): per-row higher-order-function folds
  *     over the document's own n-gram array — zero shuffles, the filter
  *     rides any corpus scan for free. The fold sorts the gram array and
  *     counts runs, so memory is O(grams of ONE doc), never corpus-sized.
  *   - '''Relational''' (`topNgramStats` / `dupNgramChars`): explode +
  *     map-side-combinable groupBy keyed (doc, gram) — one shuffle whose
  *     keys are document-local (no corpus-global hot keys), used by the
  *     oracle query because DuckDB mirrors it naturally.
  *
  * Both define the metrics identically:
  *   - top-n-gram char fraction: `cnt(top) * len(top) / len(text)` where the
  *     top gram maximises (count, then lexicographically-smallest gram).
  *   - duplicate n-gram char fraction: `Σ_{gram: cnt≥2} cnt·len(gram) /
  *     len(text)` — every character of every occurrence of a repeated gram
  *     counts (occurrences overlap, so the fraction can exceed 1; callers
  *     threshold it, they don't sum it).
  *   - type-token ratio: `distinct tokens / tokens` (low = repetitive).
  */
object Repetition {

  /** Space-joined word n-grams of a token array; empty when the doc is
    * shorter than n. Pure arithmetic generation in the task that holds the
    * row — no shuffle, no self-join.
    */
  def wordNgrams(toks: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** distinct tokens / tokens, 0.0 for empty docs. */
  def typeTokenRatio(text: Column): Column = {
    val t = TextAnalysis.tokens(text)
    when(size(t) === 0, 0.0)
      .otherwise(size(array_distinct(t)) / size(t).cast("double"))
  }

  /** All four Gopher metrics — `struct(ttr, top2, top3, dup5)` — in ONE
    * imperative pass per document ([[graft.functions.RepetitionStats]]).
    * Bit-identical to the four HOF columns below (property-spec-pinned) but
    * ~50× cheaper: the HOF folds are interpreted per array element and each
    * re-tokenizes + re-sorts the doc. Prefer this in corpus-scale filters;
    * the HOF forms remain for arbitrary n and as the semantic reference.
    */
  def stats(text: Column): Column =
    ColumnBridge.column(graft.functions.RepetitionStats(
      ColumnBridge.expression(text.cast("string"))))

  // ---- scan-speed form: run-length fold over the sorted gram array ----

  /** struct(cnt, gram) of the most frequent n-gram (ties → smallest gram);
    * struct(0, "") when the doc has no n-grams. The sorted array makes equal
    * grams adjacent, so one left-to-right fold finds the longest run; runs
    * arrive gram-ascending, so keeping only strictly-longer runs implements
    * the (count desc, gram asc) tie-break.
    */
  def topNgram(text: Column, n: Int): Column = {
    val sorted = array_sort(wordNgrams(TextAnalysis.tokens(text), n))
    val init = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("best"), lit("").as("bestGram"))
    val folded = aggregate(sorted, init, (st, g) => {
      val run = when(g === st.getField("prev"), st.getField("run") + 1L)
        .otherwise(lit(1L))
      val better = run > st.getField("best")
      struct(g.as("prev"), run.as("run"),
        when(better, run).otherwise(st.getField("best")).as("best"),
        when(better, g).otherwise(st.getField("bestGram")).as("bestGram"))
    })
    struct(folded.getField("best").as("cnt"),
      folded.getField("bestGram").as("gram"))
  }

  /** Characters covered by repeated n-grams: `Σ_{run length r ≥ 2} r·len` in
    * one fold over the sorted gram array. When a run reaches 2 the first
    * occurrence is retro-charged (`+2·len`); each further repeat adds `len`.
    */
  def dupNgramCharCount(text: Column, n: Int): Column = {
    val sorted = array_sort(wordNgrams(TextAnalysis.tokens(text), n))
    val init = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("acc"))
    val folded = aggregate(sorted, init, (st, g) => {
      val run = when(g === st.getField("prev"), st.getField("run") + 1L)
        .otherwise(lit(1L))
      val add = when(run === 2L, length(g).cast("long") * 2L)
        .otherwise(when(run > 2L, length(g).cast("long")).otherwise(lit(0L)))
      struct(g.as("prev"), run.as("run"), (st.getField("acc") + add).as("acc"))
    })
    folded.getField("acc")
  }

  /** top-n-gram char fraction at scan speed (see object doc). */
  def topNgramCharFraction(text: Column, n: Int): Column = {
    val top = topNgram(text, n)
    when(length(text) === 0, 0.0).otherwise(
      top.getField("cnt") * length(top.getField("gram")) /
        length(text).cast("double"))
  }

  /** duplicate-n-gram char fraction at scan speed (see object doc). */
  def dupNgramCharFraction(text: Column, n: Int): Column =
    when(length(text) === 0, 0.0)
      .otherwise(dupNgramCharCount(text, n) / length(text).cast("double"))

  // ---- relational form: explode + groupBy, for oracle-mirrorable plans ----

  /** One row per doc: `(idCol, cnt, gram)` of its top n-gram under the
    * (count desc, gram asc) order. Docs with no n-grams are absent — callers
    * left-join. The window partitions BY DOCUMENT (bounded by one doc's
    * distinct grams), never globally.
    */
  def topNgramStats(df: DataFrame, idCol: String, text: Column, n: Int): DataFrame = {
    val grams = df.select(col(idCol),
      explode(wordNgrams(TextAnalysis.tokens(text), n)).as("gram"))
    val cnts = grams.groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("cnt").desc, col("gram").asc)
    cnts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col(idCol), col("cnt"), col("gram"))
  }

  /** One row per doc: `(idCol, dup_chars)` = Σ cnt·len over its repeated
    * n-grams. Same bounded-key shuffle as [[topNgramStats]].
    */
  def dupNgramChars(df: DataFrame, idCol: String, text: Column, n: Int): DataFrame =
    df.select(col(idCol),
        explode(wordNgrams(TextAnalysis.tokens(text), n)).as("gram"))
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .groupBy(col(idCol))
      .agg(sum(col("cnt") * length(col("gram"))).as("dup_chars"))
}
