package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 keyword retrieval over a document corpus — the lexical-search
  * primitive a curation pipeline uses for targeted corpus probes
  * (contamination lookups, topic quota audits, eval-set neighborhood
  * pulls) without standing up an external search service.
  *
  * Scale design (the 100-TB shape):
  *  - The query-term filter is applied to the token ARRAY inside the scan
  *    projection (a higher-order `filter` before `explode`), so the only
  *    rows that ever reach an exchange are (doc, query-term) postings —
  *    the corpus's full token stream never shuffles. With q query terms
  *    the exchanged volume is O(docs-containing-q-terms), not O(tokens).
  *  - Corpus statistics (N, total token count) reduce to ONE row in a
  *    single scan and ride a broadcast nested-loop join; per-term document
  *    frequencies reduce to q rows and ride a broadcast hash join. No
  *    stats table is ever shuffled.
  *  - Scoring arithmetic happens in integer micro-units
  *    (`round(score*1e6)` per (doc, term), bigint-summed per doc) so the
  *    per-doc total is exact and association-order-free — the property
  *    that lets a DuckDB oracle reproduce the hash bit-for-bit, and that
  *    makes the result independent of partitioning at any scale.
  *  - The final top-k is a global `orderBy … limit k`: Spark plans it as
  *    per-partition TakeOrdered partials (k rows per partition on the
  *    wire), never a full sort.
  *
  * Reference provenance: the reference corpus-curation stack has no
  * retrieval process; this extends the §2-beyond-reference pipeline
  * family (SURVEY.md "training-data pipeline"). BM25 constants and shape
  * follow Robertson & Zaragoza 2009 (the Okapi BM25 formulation with
  * `idf = ln(1 + (N - df + 0.5)/(df + 0.5))`, k1=1.2, b=0.75).
  */
object Retrieval {

  /** ONE tokenization pass over the corpus, shared by the single- and
    * batch-query paths: the scan projects (id, dl, matched-terms array) —
    * the ONLY frame whose computation touches text — and BOTH downstream
    * needs derive from it: the postings (explode + map-side-combinable
    * agg, with dl reconstructed per doc by `first(dl)` so no corpus-keyed
    * (id, dl) join exists anywhere in the plan) and the corpus stats
    * (count + Σdl; they must cover docs with NO query term, which is
    * exactly why the projection, not the postings, is the shared base).
    *
    * The narrow projection persists LAZILY (row width is a
    * long + the few matched terms; spills at any scale): the first
    * consumer populates the blocks, every other pass reuses them, and the
    * caller scope-releases via the returned handle once its result is
    * materialized — nothing leaks into the session. History: r16 paid a
    * corpus-keyed (id, dl) shuffle join; r17 removed it via first(dl) but
    * re-tokenized the corpus in a SECOND stats scan and eagerly
    * checkpointed the postings (a blocking job inside the query) — 2×
    * slower; r18 is this shape — tokenize once, broadcast-only joins, no
    * eager job beyond the caller's single scoped materialization.
    *
    * @return (postings agg (id, term, tf, dl), one-row stats
    *         (n_docs, total_tok), the persisted base to scope-release)
    */
  private def tokenizedPostings(docs: DataFrame, id: Column,
      textCol: String, qArr: Column): (DataFrame, DataFrame, DataFrame) = {
    val toks = TextAnalysis.tokens(col(textCol))
    val base = docs.select(id,
      TextAnalysis.tokenCount(col(textCol)).as("dl"),
      filter(toks, t => array_contains(qArr, t)).as("_terms"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // postings: O(docs-containing-q-terms) rows; read twice downstream
    // (df_ and the scoring join), cheap to re-derive from the cached base
    val tf = base
      .select(id, col("dl"), explode(col("_terms")).as("term"))
      .groupBy(id, col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    // (N, Σdl) from the SAME projection: a count+sum, map-side combined,
    // shuffling exactly one row — broadcast by the caller
    val stats = base.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tok"))
    (tf, stats, base)
  }

  /** The exact integer micro-unit BM25 term score over a frame carrying
    * (tf, dl, df, n_docs, total_tok):
    * `round(1e6 · idf · tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)))` with
    * `idf = ln(1 + (N−df+0.5)/(df+0.5))`.
    */
  private def unitScore(k1: Double, b: Double): Column = {
    val avgdl = col("total_tok").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfn = (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / avgdl)))
    round(idf * tfn * lit(1e6)).cast("long")
  }

  /** Per-document BM25 scores for `queryTerms`, in exact integer
    * micro-units (`score_units` = sum over matched terms of
    * `round(1e6 * idf * tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)))`).
    *
    * @param docs corpus with `idCol` and a text column `textCol`
    * @return (idCol, score_units) for every document matching ≥1 term,
    *         ordered by (score_units desc, id asc), truncated to `k`
    */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
               idCol: String = "doc_id", textCol: String = "text",
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: empty query")
    require(queryTerms.map(_.trim.toLowerCase).distinct.size == queryTerms.size,
      "bm25TopK: query terms must be distinct after normalization")
    val internal = Set("term", "tf", "df", "dl", "n_docs", "total_tok",
      "score_units", "_u")
    require(!internal.contains(idCol),
      s"bm25TopK: id column '$idCol' collides with an internal helper " +
        "name; rename it first")
    val id = col(idCol)
    val qArr = array(queryTerms.map(t => lit(t.trim.toLowerCase)): _*)

    // the HOF filter runs inside the scan projection, before explode, so
    // non-query tokens die in the scan stage — see [[tokenizedPostings]]
    // for the full single-scan shape and its history
    val (tf, stats, cached) = tokenizedPostings(docs, id, textCol, qArr)
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val out = tf
      .join(broadcast(df_), "term")
      .crossJoin(broadcast(stats))
      .select(id, unitScore(k1, b).as("_u"))
      .groupBy(id).agg(sum(col("_u")).as("score_units"))
      .orderBy(col("score_units").desc, id.asc)
      .limit(k)
    graft.core.Caching.scoped(out, cached)
  }

  /** BATCH retrieval: top-k BM25 hits for EVERY query in a query table —
    * the production decontamination/eval-lookup shape, where thousands of
    * probe queries run against the corpus at once. ONE corpus scan serves
    * all queries:
    *
    *  - `queries` (queryIdCol, term) is collected once (it is the PROBE
    *    set — thousands of rows, not corpus-sized; a loud gate refuses
    *    beyond `maxTerms` distinct terms) and its distinct term set rides
    *    the scan projection exactly like the single-query path, so only
    *    union-of-query-terms postings ever shuffle;
    *  - per-(doc, term) scores compute once and fan out to the queries
    *    containing the term via a broadcast join (scores are
    *    query-independent in BM25 — the fan-out is pure reuse);
    *  - per-query top-k runs as ONE bounded-heap pass
    *    ([[graft.functions.TopKAgg]] keyed by query): ≤ k rows per
    *    (query, partition) on the wire, never a global sort.
    *
    * Returns (queryIdCol, rank, idCol, score_units), rank 1..k per query
    * by (score desc, id asc).
    */
  def bm25BatchTopK(docs: DataFrame, queries: DataFrame, k: Int,
      queryIdCol: String = "query_id", queryTermCol: String = "term",
      idCol: String = "doc_id", textCol: String = "text",
      k1: Double = 1.2, b: Double = 0.75,
      maxTerms: Int = 1 << 20): DataFrame = {
    val internal = Set("term", "tf", "df", "dl", "n_docs", "total_tok",
      "score_units", "_u")
    require(!internal.contains(idCol) && !internal.contains(queryIdCol),
      s"bm25BatchTopK: id columns ($idCol, $queryIdCol) must not collide " +
        "with internal helper names")
    // the per-query heap packs doc ids into a long slot, so the id column
    // must be integral — fail as loudly as the name checks above rather
    // than leaking an ANSI cast error (or a silent type change) from deep
    // inside the plan
    val idType = docs.schema(idCol).dataType
    require(Seq("byte", "short", "integer", "long")
        .contains(idType.typeName),
      s"bm25BatchTopK: id column '$idCol' must be an integral type " +
        s"(doc ids ride the top-k heap as longs); got $idType — " +
        "project a long surrogate id first")
    val qt = queries.select(col(queryIdCol),
      lower(trim(col(queryTermCol))).as("term")).distinct()
    val terms = qt.select(col("term")).distinct()
      .limit(maxTerms + 1).collect().map(_.getString(0)).toSeq
    require(terms.nonEmpty, "bm25BatchTopK: empty query table")
    require(terms.size <= maxTerms,
      s"bm25BatchTopK: query table exceeds $maxTerms distinct terms — " +
        "shard the probe set")

    val id = col(idCol)
    val toks = TextAnalysis.tokens(col(textCol))
    // scan-side pruning strategy by probe size: small term sets inline as
    // an array literal (the HOF filter runs before explode — nothing but
    // matching postings leaves the scan); large ones would bloat the plan
    // as a literal, so the token stream explodes and a BROADCAST left-semi
    // join prunes it before the aggregation's exchange — same wire
    // property (only matching postings shuffle), plan stays handle-sized
    val literalGate = 4096
    // dl rides the postings projection in BOTH arms (`first(dl)` in the
    // map-side-combinable tf agg reconstructs it per doc), so no
    // corpus-keyed (id, dl) join exists anywhere in the plan — same
    // single-tokenization shape as [[bm25TopK]] (see [[tokenizedPostings]]
    // for the r16→r18 history). Small arm: the narrow
    // (id, dl, matched-terms) projection is the shared, lazily-persisted
    // base for postings AND stats — ONE tokenize pass total. Large arm:
    // the matched set can't ride the scan as a literal, so the token
    // stream explodes through a broadcast semi-join and the stats (which
    // must cover non-matching docs the semi-join drops) pay a second
    // tokenize scan; the persisted frame is then the postings agg itself,
    // read twice by df_ and the scoring join.
    val (tf, stats, cached) =
      if (terms.size <= literalGate) {
        tokenizedPostings(docs, id, textCol, array(terms.map(lit): _*))
      } else {
        val termFrame = qt.select(col("term")).distinct()
        val tfB = docs
          .select(id, TextAnalysis.tokenCount(col(textCol)).as("dl"),
            explode(toks).as("term"))
          .join(broadcast(termFrame), Seq("term"), "left_semi")
          .groupBy(id, col("term"))
          .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val statsB = docs.agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col(textCol))).as("total_tok"))
        (tfB, statsB, tfB)
      }
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))

    val out = tf
      .join(broadcast(df_), "term")
      .crossJoin(broadcast(stats))
      .select(id, col("term"), unitScore(k1, b).as("_u"))
      // fan scores out to their queries; size-gated hint — an enormous
      // probe table falls back to the optimizer's join choice
      .join(graft.core.Joins.maybeBroadcast(qt), "term")
      .groupBy(col(queryIdCol), id).agg(sum(col("_u")).as("score_units"))
      // per-query top-k WITHOUT a window: the bounded heap ranks by
      // (units desc, doc asc); doc ids pack losslessly into the double
      // rank value's tie-break id slot
      .groupBy(col(queryIdCol))
      .agg(graft.functions.TopKAgg.column(
        col("score_units").cast("double"), id.cast("long"), k).as("top"))
      .select(col(queryIdCol), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col(queryIdCol), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as(idCol),
        col("e.v").cast("long").as("score_units"))
    graft.core.Caching.scoped(out, cached)
  }
}
