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
  *   - '''Scan-speed''' ([[stats]]): one imperative pass per document —
  *     zero shuffles, the filter rides any corpus scan for free, and
  *     memory is O(grams of ONE doc), never corpus-sized.
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
    * Bit-identical to the higher-order-function folds the specs keep as
    * its semantic reference (property-spec-pinned) but ~50× cheaper: the
    * HOF folds are interpreted per array element and each re-tokenizes +
    * re-sorts the doc.
    */
  def stats(text: Column): Column =
    ColumnBridge.column(graft.functions.RepetitionStats(
      ColumnBridge.expression(text.cast("string"))))

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
