package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Byte-pair-encoding tokenizer TRAINING and ENCODING over a corpus — the
  * classic merge-learning algorithm (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units" — public), shaped for
  * corpus scale:
  *
  *   - The ONLY corpus-sized operation is one map-side-combinable
  *     `groupBy(word)` producing the distinct-word count table. This is
  *     the standard trick real BPE trainers use: merge statistics are a
  *     pure function of (word, count), and the distinct-word table is
  *     vocabulary-sized (millions) no matter how many trillions of tokens
  *     the corpus holds.
  *   - Merge learning then runs driver-side over that bounded table
  *     (gated by `maxVocab`, like the union-find edge gate in
  *     [[Dedup.connectedComponents]]) — n_merges × vocab × word-length
  *     work, no per-iteration Spark jobs. When the distinct-word table
  *     exceeds the gate, the trainer takes the `maxVocab` most frequent
  *     words (ties broken by word, so the cut is deterministic) — the
  *     standard frequency-truncation every production BPE trainer applies:
  *     the dropped tail is hapax-class words whose pair mass is negligible,
  *     and encoding NEVER depends on the training vocabulary being
  *     complete (unseen words fall back through learned merges to
  *     characters). Merge lists are therefore a pure function of
  *     (corpus, maxVocab) at ANY corpus size.
  *   - Encoding is a one-pass imperative expression
  *     ([[graft.functions.BpeEncode]]) with the ranked merge table inlined
  *     — rides any scan, zero shuffles, streaming-safe like the other
  *     one-pass expressions.
  *
  * Determinism: pair selection breaks count ties by lexicographically
  * smallest (left, right) pair, so the learned merge list is a pure
  * function of the corpus — re-runs, partitionings and cluster sizes
  * cannot change it.
  *
  * Words are whitespace tokens (the engine-wide `tokens` definition);
  * symbols start as single characters plus a `</w>` end-of-word marker,
  * per the paper.
  */
object Bpe {

  val EndOfWord = "</w>"

  /** Distinct-word counts — the one corpus-sized aggregation. */
  def wordCounts(df: DataFrame, text: Column): DataFrame =
    df.select(explode(TextAnalysis.tokens(text)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Learn `nMerges` merge rules from the corpus. Returns the ranked merge
    * list (earlier = applied first during encoding). Corpora whose
    * distinct-word table exceeds `maxVocab` train on the `maxVocab` most
    * frequent words (count desc, word asc — a deterministic cut); see the
    * class note for why this is the scale route, not an approximation to
    * apologize for.
    */
  def trainMerges(df: DataFrame, text: Column, nMerges: Int,
      maxVocab: Long = 4L << 20): Seq[(String, String)] = {
    require(maxVocab > 0 && maxVocab <= Int.MaxValue,
      s"maxVocab must be in (0, 2^31), got $maxVocab")
    val wc = wordCounts(df, text)
    val n = wc.count()
    // TakeOrderedAndProject: the sort+limit never materializes the full
    // vocabulary anywhere — each task keeps its local top-maxVocab
    val bounded =
      if (n <= maxVocab) wc
      else wc.orderBy(col("cnt").desc, col("word").asc).limit(maxVocab.toInt)
    val vocab = bounded.collect().map(r => (r.getString(0), r.getLong(1)))
    trainLocal(vocab.toIndexedSeq, nMerges)
  }

  /** The classic in-memory merge loop over (word, count) rows — exposed for
    * specs. Each word is a symbol sequence `chars :+ </w>`; per iteration
    * the (count desc, pair asc) best adjacent pair is merged everywhere.
    * Stops early when no pair occurs at least twice.
    */
  def trainLocal(vocab: Seq[(String, Long)], nMerges: Int): Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] = vocab.toArray.map { case (w, c) =>
      (w.map(_.toString).toArray :+ EndOfWord, c)
    }
    val merges = Vector.newBuilder[(String, String)]
    var iter = 0
    var done = false
    while (iter < nMerges && !done) {
      val pairCounts = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          pairCounts.merge((syms(i), syms(i + 1)), c, (a, b) => a + b)
          i += 1
        }
      }
      var best: (String, String) = null
      var bestCnt = 1L // require >= 2 occurrences to merge
      val it = pairCounts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val p = e.getKey
        if (e.getValue > bestCnt || (e.getValue == bestCnt && best != null &&
            (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
          best = p
          bestCnt = e.getValue
        }
      }
      if (best == null) done = true
      else {
        merges += best
        val joined = best._1 + best._2
        words = words.map { case (syms, c) =>
          if (syms.length < 2) (syms, c)
          else {
            val out = Array.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
                out += joined
                i += 2
              } else {
                out += syms(i)
                i += 1
              }
            }
            (out.result(), c)
          }
        }
        iter += 1
      }
    }
    merges.result()
  }

  /** Encode a text column into BPE pieces (array<string>, `</w>`-marked)
    * with the given ranked merges — the one-pass
    * [[graft.functions.BpeEncode]] expression; zero shuffles.
    */
  def encode(text: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(graft.functions.BpeEncode(
      ColumnBridge.expression(text.cast("string")),
      ColumnBridge.expression(typedLit(merges.map(p => Seq(p._1, p._2))))))

  /** Piece count per document under the given merges. */
  def pieceCount(text: Column, merges: Seq[(String, String)]): Column =
    size(encode(text, merges))
}
