package graft.pipeline

import graft.core.Joins
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Deduplication operators for training-data pipelines, each designed
  * around the join/shuffle structure that survives 100 TB:
  *
  *  - exact: one hash-groupBy — a single shuffle on the content hash.
  *  - MinHash + LSH: shingle → signature → band buckets → candidate pairs →
  *    verify. Pair generation is *bucket-local* (never all-pairs); the
  *    band-bucket join is the only quadratic surface and its size is
  *    controlled by bands×rows.
  *  - SimHash: 64-bit signature per doc, pairs compared within blocking
  *    buckets by Hamming distance.
  *  - n-gram Jaccard: exact verification measure, blocked.
  *  - embedding cosine: near-dup by vector similarity, blocked/LSH'd.
  *
  * Hashing is md5-based everywhere (not Spark's murmur3) so signatures are
  * engine-portable — the DuckDB oracle computes bit-identical signatures.
  */
object Dedup {

  /** Exact dedup on a content key. Returns one row per distinct key with the
    * surviving (minimum) id and the duplicate count.
    */
  def exact(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.groupBy(key.as("content_key"))
      .agg(min(col(idCol)).as("survivor"), count(lit(1)).as("n_dups"))

  /** INCREMENTAL corpus dedup — the continuous-ingest shape: which rows of
    * a (comparatively small) NEW SHARD are genuinely new against an
    * existing (huge) corpus, with exact `key` anti-join semantics but
    * WITHOUT ever shuffling the corpus.
    *
    * Mechanics: a Bloom filter is built over the NEW side's keys (one
    * combinable aggregate over the small side; ~1.2 MB per million keys at
    * 1% fpp) and broadcast into the corpus scan. Only corpus keys the
    * bloom admits — the true shard∩corpus matches plus ~fpp·|corpus| false
    * positives — survive the scan filter; that residue is deduplicated and
    * anti-joined against the shard. At 100-TB corpus scale the corpus
    * contributes a filtered key projection (no text, no full key set) to
    * the exchange, the shard and hit set are both small, and AQE turns the
    * anti-join into a broadcast join when the residue fits — the plain
    * `shard ANTI JOIN corpus` alternative shuffles the ENTIRE corpus key
    * set instead. (Spark's own `InjectRuntimeFilter` applies the same idea
    * to inner equi-joins automatically; anti joins need it hand-built.)
    *
    * EXACT despite the sketch: a Bloom filter has no false negatives, so
    * every corpus key equal to a shard key passes the prefilter and kills
    * its shard row in the anti-join; false positives equal no shard key
    * and fall out of the equi-join. A saturated bloom degrades to the
    * plain anti-join, never to a wrong answer (spec-pinned). Shard-internal
    * duplicates are out of scope by design — chain [[exact]] on the
    * surviving shard for that.
    */
  def incrementalNew(newDocs: DataFrame, corpus: DataFrame, idCol: String,
      key: Column, expectedNewKeys: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    val keyed = newDocs.withColumn("_k", key.cast("string"))
    val bloom = keyed.stat.bloomFilter("_k", expectedNewKeys, fpp)
    // codegen'd probe (graft.functions.BloomProbe): the sketch rides the
    // generated class as a reference object, the key's UTF-8 bytes are
    // hashed without a per-row String, and the filter stays inside the
    // scan's whole-stage-codegen span (a UDF here broke the span AND
    // forced the key expression to evaluate three times)
    val corpusHits = corpus.select(key.cast("string").as("_k"))
      .filter(bloomProbe(bloom, col("_k")))
      .distinct()
    keyed.join(corpusHits, Seq("_k"), "left_anti").drop("_k")
  }

  /** Membership of a string `key` in `bloom` as the codegen'd
    * [[graft.functions.BloomProbe]], the sketch serialized into a binary
    * literal.
    */
  private def bloomProbe(bloom: org.apache.spark.util.sketch.BloomFilter,
      key: Column): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    ColumnBridge.column(graft.functions.BloomProbe(
      ColumnBridge.expression(lit(bos.toByteArray)),
      ColumnBridge.expression(key)))
  }

  /** Standing MinHash-LSH corpus index for INCREMENTAL near-dup probes —
    * the tables a continuous-ingest pipeline materializes ONCE over the
    * existing corpus and every arriving shard probes: the band-bucket
    * table `(id, band, bkey)`, the distinct-shingle table `(id, shingle)`
    * and the per-doc shingle counts. On a lake deployment `bands` is
    * written bucketed by (band, bkey) and `shingles`/`counts` by id
    * ([[graft.core.Layout.writeBucketed]]) so shard probes co-locate
    * without reshuffling the corpus; here the frames stay lazy and the
    * caller decides persistence. Parameters ride along so a probe can
    * only ever run against an index built with ITS OWN shingling/banding
    * scheme (a mismatch would silently produce garbage candidates).
    */
  final case class MinhashIndex(bands: DataFrame, shingles: DataFrame,
      counts: DataFrame, idCol: String, shingleLen: Int, k: Int,
      rowsPerBand: Int)

  /** Build the [[MinhashIndex]] over `corpus` — one corpus pass (the same
    * shingle → wide-signature → band chain [[minhashNearDups]] runs),
    * done ONCE per corpus generation, amortized over every shard probe.
    */
  def minhashIndex(corpus: DataFrame, idCol: String, text: Column,
      shingleLen: Int = 3, k: Int = 32, rowsPerBand: Int = 4): MinhashIndex = {
    val sh = shingles(corpus, idCol, text, shingleLen)
    val bands = lshBandKeysWide(minhashSignaturesWide(sh, idCol, k), idCol,
      k, rowsPerBand)
    MinhashIndex(bands, sh,
      sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh")),
      idCol, shingleLen, k, rowsPerBand)
  }

  /** INCREMENTAL NEAR-dup — the LSH twin of [[incrementalNew]]'s exact
    * anti-join, the continuous-ingest question that one answers wrong:
    * "which docs of this arriving shard are NEAR-dups (Jaccard ≥
    * threshold) of the standing corpus", WITHOUT reshuffling the corpus.
    * Returns one row per matched (shard doc, corpus doc) pair:
    * `(id_new, id_corpus, jaccard)`.
    *
    * Scale shape — every exchange is SHARD-sized, never corpus-sized:
    *  1. The shard is shingled/signed/banded with the index's own scheme
    *     (both sides persisted — shard-sized).
    *  2. A Bloom filter over the shard's (band, bkey) keys — one
    *     combinable aggregate over the SMALL side, ~1.2 MB per million
    *     band keys — is broadcast into the index's band-table scan; only
    *     corpus band rows the bloom admits (true bucket collisions plus
    *     ~fpp noise) survive to the equi-join, exactly the
    *     [[incrementalNew]] runtime-filter trick. No false negatives, so
    *     the candidate set is exact; false positives die in the join.
    *  3. Candidate pairs = shard×corpus docs sharing a band bucket — the
    *     standard LSH guarantee, volume tracks matches, never all-pairs.
    *  4. Exact-Jaccard verification reads corpus shingles through a
    *     semi-join on the CANDIDATE corpus ids (broadcast when small) —
    *     the index's shingle table is scanned-and-filtered, not
    *     shuffled; counts come precomputed from the index.
    *
    * A shard doc present in the corpus under the SAME id is not its own
    * near-dup (self-pairs are dropped). The result is eagerly
    * checkpointed and the shard-side caches released — the
    * [[graft.core.Caching]] scope discipline.
    */
  def incrementalNearNew(newDocs: DataFrame, index: MinhashIndex,
      text: Column, threshold: Double = 0.5,
      expectedShardBands: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    require(threshold > 0,
      s"incrementalNearNew: threshold must be positive ($threshold) — " +
        "zero would ask for the all-pairs cross product LSH exists to avoid")
    val idCol = index.idCol
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sSh = shingles(newDocs, idCol, text, index.shingleLen).persist(lvl)
    val sBands = lshBandKeysWide(minhashSignaturesWide(sSh, idCol, index.k),
      idCol, index.k, index.rowsPerBand).persist(lvl)
    // bloom over the shard's band keys (an action — the shard pipeline
    // materializes here, into its own cache)
    val keyed = sBands.select(concat_ws(":", col("band"), col("bkey")).as("_bk"))
    val bloom = keyed.stat.bloomFilter("_bk", expectedShardBands, fpp)
    // the corpus band scan, runtime-filtered by the broadcast bloom —
    // the codegen'd probe stays inside the scan's whole-stage span
    val cBandHits = index.bands.filter(
      bloomProbe(bloom, concat_ws(":", col("band"), col("bkey"))))
    val pairs = sBands.select(col("band"), col("bkey"), col(idCol).as("id_new"))
      .join(cBandHits.select(col("band"), col("bkey"),
        col(idCol).as("id_corpus")), Seq("band", "bkey"))
      .filter(col("id_new") =!= col("id_corpus"))
      .select("id_new", "id_corpus").distinct()
    // exact verification on candidates only: corpus shingles arrive
    // through a semi-join on candidate ids (broadcast when small), so
    // the corpus-sized table is filtered at the scan, never shuffled
    val candIds = pairs.select(col("id_corpus").as(idCol)).distinct()
    val cShCand = index.shingles.join(graft.core.Joins.maybeBroadcast(candIds),
      Seq(idCol), "left_semi")
    val inter = pairs
      .join(sSh.select(col(idCol).as("id_new"), col("shingle")), Seq("id_new"))
      .join(cShCand.select(col(idCol).as("id_corpus"), col("shingle")),
        Seq("id_corpus", "shingle"))
      .groupBy("id_new", "id_corpus").agg(count(lit(1)).as("n_inter"))
    val nNew = sSh.groupBy(col(idCol)).agg(count(lit(1)).as("n_new"))
    // inner joins throughout: a pair with zero shared shingles has
    // jaccard 0 < threshold and cannot surface (threshold is positive)
    val out = inter
      .join(nNew.select(col(idCol).as("id_new"), col("n_new")), Seq("id_new"))
      .join(index.counts.select(col(idCol).as("id_corpus"),
        col("n_sh").as("n_c")), Seq("id_corpus"))
      .withColumn("jaccard", col("n_inter") /
        (col("n_new") + col("n_c") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_corpus"), col("jaccard"))
    try graft.core.Caching.eager(out)
    finally {
      sSh.unpersist(blocking = false)
      sBands.unpersist(blocking = false)
    }
  }

  /** CCNet-style LINE-level dedup (Wenzek et al. 2020, public): split each
    * document into lines/sentences on `sep`, hash every non-empty line
    * (case/whitespace-normalized), and keep each distinct line's FIRST
    * corpus occurrence only — the classic scrub for boilerplate sentences
    * (cookie banners, navigation text) repeated across a web crawl.
    * Returns one row per input doc:
    * `(idCol, n_lines, n_kept, kept_text)` with the surviving lines
    * rejoined in their original order (docs reduced to nothing keep an
    * empty string).
    *
    * Scale shape — line text NEVER shuffles: lines are hashed in the scan
    * task and projected down to `(_h, _id, _pos)` before anything crosses
    * the wire. One combinable groupBy on the hash picks
    * `min(struct(id, pos))` — the deterministic first occurrence — and,
    * because each group's minimum IS the kept line, the keep set needs no
    * join-back on the hash: a second (tiny: one int per distinct line)
    * groupBy folds kept positions per doc. `kept_text` is rebuilt from ONE
    * re-split of the original document after a join on the doc id alone —
    * size-gated broadcast when the position table fits, exchange-free on a
    * bucketed-by-id lake layout ([[graft.core.Layout.writeBucketed]])
    * otherwise — so the document text moves at most once and the per-line
    * shuffles carry fixed-width keys only.
    *
    * `idCol` may be any orderable type (long, string/UUID, …); the
    * first-occurrence rule orders by the id's natural ordering, then
    * position.
    */
  def lineDedup(df: DataFrame, idCol: String, text: Column,
      sep: String = "\\. "): DataFrame = {
    val keys = df
      .select(col(idCol).as("_id"),
        posexplode(split(text.cast("string"), sep)).as(Seq("_pos", "_line")))
      .filter(length(trim(col("_line"))) > 0)
      .select(md5(trim(lower(col("_line"))).cast("binary")).as("_h"),
        col("_id"), col("_pos"))
    val firsts = keys.groupBy(col("_h"))
      .agg(min(struct(col("_id"), col("_pos"))).as("_keep"))
    val keptPerDoc = firsts
      .groupBy(col("_keep").getField("_id").as("_id"))
      .agg(sort_array(collect_list(col("_keep").getField("_pos"))).as("_kp"))
    // multi-use non-trivial alias: survives CollapseProject, so the doc is
    // re-split once, not once per consumer (same discipline as the
    // LanguageModel `_s` alias)
    val arr = col("_arr")
    df.select(col(idCol).as("_id"), text.cast("string").as("_text"))
      .join(Joins.maybeBroadcast(keptPerDoc), Seq("_id"), "left")
      .withColumn("_arr", split(col("_text"), sep))
      .select(col("_id").as(idCol),
        // null text → null _arr → null size; contract is 0 lines
        coalesce(size(filter(arr, l => length(trim(l)) > 0)).cast("long"),
          lit(0L)).as("n_lines"),
        coalesce(size(col("_kp")), lit(0)).cast("long").as("n_kept"),
        when(col("_kp").isNull, lit("")).otherwise(concat_ws(". ",
          transform(col("_kp"), p => element_at(arr, p + 1)))).as("kept_text"))
  }

  /** Distinct word n-gram shingles per document as one array column —
    * the one-pass [[graft.functions.Shingles]] expression (identical
    * semantics to [[shinglesHof]], property-spec-pinned).
    */
  def shingleArray(text: Column, n: Int): Column =
    ColumnBridge.column(graft.functions.Shingles(
      ColumnBridge.expression(text.cast("string")), n))

  /** Word n-grams with multiplicity PRESERVED (no distinct) — the feature
    * form frequency-based consumers (DSIR importance weighting) need.
    * Same one-pass expression, `distinct = false`.
    */
  def ngramArray(text: Column, n: Int): Column =
    ColumnBridge.column(graft.functions.Shingles(
      ColumnBridge.expression(text.cast("string")), n, distinct = false))

  /** The 64 signed SimHash bits of a token (±1, MSB-first md5 bits) — the
    * one-pass [[graft.functions.SimhashBits]] expression.
    */
  def simhashBitArray(tok: Column): Column =
    ColumnBridge.column(graft.functions.SimhashBits(
      ColumnBridge.expression(tok.cast("string"))))

  /** Distinct word n-gram shingles per document: one row per (id, shingle).
    * Shingling happens row-local in the scan — documents never leave the
    * executors and nothing shuffles until the downstream aggregation.
    */
  def shingles(df: DataFrame, idCol: String, text: Column, n: Int): DataFrame =
    df.select(col(idCol), explode(shingleArray(text, n)).as("shingle"))

  /** Reference HOF implementation of [[shingles]]'s per-row array
    * (interpreted; used by specs to pin the expression's semantics).
    */
  def shinglesHof(text: Column, n: Int): Column = {
    // Materialize the token array as a named column FIRST: inlining the
    // split() into the transform lambda would re-tokenize the whole document
    // per element (HOFs are interpreted and do no CSE) — measured 10× on the
    // shingling stage alone. A multi-use non-trivial alias survives
    // CollapseProject, so the lambda sees a cheap attribute reference.
    // Callers wrap in a two-step select naming `_toks`; here we inline via
    // a struct-scoped reference instead, which specs evaluate per row.
    val t = TextAnalysis.tokens(text)
    // sequence(0, k) DESCENDS when k < 0 — guard short documents explicitly
    array_distinct(when(size(t) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(t, i + k + 1)): _*))))
  }

  /** 2⁶¹−1, the Mersenne prime every derived minhash function reduces by. */
  val MinhashP: Long = 2305843009213693951L

  /** Deterministic universal-hash coefficients (aᵢ odd, bᵢ) for the k
    * derived minhash functions, generated from seeded md5 so BOTH engines
    * inline the SAME literals (the oracle SQL splices these values).
    */
  def minhashCoeffs(k: Int, seed: String = "graft-minhash"): (Seq[Long], Seq[Long]) = {
    def c(tag: String, i: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed-$tag-$i".getBytes("UTF-8"))
      val hex = d.map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 7), 16)
    }
    ((0 until k).map(i => c("a", i) | 1L), (0 until k).map(i => c("b", i)))
  }

  /** MinHash signatures, one row per document with columns `_m0.._m{k-1}`
    * — the wide form every downstream stage prefers.
    *
    * Hashing cost is ONE md5 per DISTINCT shingle (duplicates across
    * documents are the norm in a near-dup corpus): the digest's first 28
    * bits become the base hash h, and the k functions are derived as
    * hᵢ = (aᵢ·h + bᵢ) mod (2⁶¹−1) — integer multiply-add, overflow-free in
    * int64 (a < 2³¹, h < 2²⁸), ANSI-safe, and portable to the oracle. The
    * per-function minimum is then k min-columns in ONE wide aggregation
    * over the instance rows: map-side combinable, no row explosion, one
    * shuffle on the document id. (The earlier shape burned k/4 md5 digests
    * per vocabulary shingle — the dominant cost of the signature stage.)
    */
  def minhashSignaturesWide(sh: DataFrame, idCol: String, k: Int): DataFrame = {
    val (as_, bs) = minhashCoeffs(k)
    val hashed = sh.select(col("shingle")).distinct()
      .withColumn("h",
        conv(substring(md5(col("shingle").cast("binary")), 1, 7), 16, 10)
          .cast("bigint"))
    // vocabulary-sized: broadcast only while Catalyst's estimate says it
    // fits — a web-scale shingle vocabulary must shuffle-join instead
    val joined = sh.join(graft.core.Joins.maybeBroadcast(hashed), Seq("shingle"))
    val minCols = for (i <- 0 until k) yield
      min((lit(as_(i)) * col("h") + lit(bs(i))) % lit(MinhashP)).as(s"_m$i")
    joined.groupBy(col(idCol)).agg(minCols.head, minCols.tail: _*)
  }

  /** Band keys straight off the wide signature row — k/rowsPerBand codegen'd
    * md5 projections and one explode, no regroup of exploded signature rows
    * (byte-identical keys to [[lshBandKeys]]; measured ~2 s cheaper at
    * sf0.1).
    */
  def lshBandKeysWide(wide: DataFrame, idCol: String, k: Int,
      rowsPerBand: Int): DataFrame = {
    require(k % rowsPerBand == 0, "rowsPerBand must divide k")
    val bandStructs = (0 until k / rowsPerBand).map { b =>
      struct(lit(b.toLong).as("band"),
        md5(concat_ws(",", (0 until rowsPerBand).map(r =>
          col(s"_m${b * rowsPerBand + r}")): _*).cast("binary")).as("bkey"))
    }
    wide.select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** LSH band keys: split the k signature rows into bands of `rowsPerBand`,
    * hash each band's concatenated signature. One row per (id, band, key).
    */
  def lshBandKeys(sigs: DataFrame, idCol: String, rowsPerBand: Int): DataFrame = {
    val banded = sigs.withColumn("band", floor(col("i") / rowsPerBand))
    banded.groupBy(col(idCol), col("band"))
      .agg(md5(concat_ws(",",
        transform(array_sort(collect_list(struct(col("i"), col("sig")))),
          s => s.getField("sig"))).cast("binary")).as("bkey"))
  }

  /** Candidate pairs = documents sharing any band bucket (a < b). The
    * groupBy-join runs per (band, bkey) bucket — never all-pairs.
    */
  def lshCandidatePairs(bandKeys: DataFrame, idCol: String): DataFrame = {
    val a = bandKeys.select(col("band"), col("bkey"), col(idCol).as("id_a"))
    val b = bandKeys.select(col("band"), col("bkey"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard similarity over distinct shingles for given pairs:
    * |A∩B| via a shingle equi-join, |A∪B| = |A| + |B| − |A∩B|. All-integer
    * arithmetic — deterministic across engines and partitionings.
    */
  def jaccardForPairs(pairs: DataFrame, sh: DataFrame, idCol: String): DataFrame = {
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(sh.select(col(idCol).as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("shingle").as("shingle_b")),
        Seq("id_b"))
      .filter(col("shingle") === col("shingle_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("id_a", "id_b"), "left_outer")
      .na.fill(0L, Seq("n_inter"))
      .join(counts.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(counts.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band → candidate
    * pairs → exact-Jaccard verify → threshold.
    *
    * The shingle table is persisted: it feeds BOTH the signature branch
    * and the verification branch, so the diamond DAG tokenizes the corpus
    * once. The result stays lazy, so the cache entry outlives this call
    * (Spark caches by logical plan) until the caller clears it — with
    * `spark.catalog.clearCache()` once the result is materialised.
    */
  def minhashNearDups(df: DataFrame, idCol: String, text: Column,
      shingleLen: Int = 3, k: Int = 32, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val sh = shingles(df, idCol, text, shingleLen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wide = minhashSignaturesWide(sh, idCol, k)
    val bands = lshBandKeysWide(wide, idCol, k, rowsPerBand)
    val pairs = lshCandidatePairs(bands, idCol)
    jaccardForPairs(pairs, sh, idCol).filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash per document as a '0'/'1' string: token bit j of
    * md5(token) (hex nibble, MSB first), weighted by term frequency; the
    * signed bit-sum's sign gives signature bit j. Portable: every step is
    * md5 + integer arithmetic.
    */
  def simhash64(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(col(idCol), explode(TextAnalysis.tokens(text)).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("cnt"))
    // hash each DISTINCT token once (vocabulary ≪ token instances), derive
    // its 64 signed bits as an array, and join back — turns 64×|instances|
    // bit computations into 64×|vocab| plus one broadcastable join. The
    // one-pass SimhashBits expression replaces the interpreted 64-element
    // nibble-arithmetic HOF at identical bits (spec-pinned).
    val vocabBits = toks.select(col("tok")).distinct()
      .withColumn("bits", simhashBitArray(col("tok")))
      .select(col("tok"), col("bits"))
    // 64 wide sum-columns instead of a collect_list fold: partial aggregates
    // combine map-side, so the shuffle carries 64 longs per (doc, partition)
    // instead of every token's 64-element bit array (collect_list has no
    // partial aggregation). Locally timing-neutral — the win is shuffle
    // volume at corpus scale.
    val sumCols = (0 until 64).map(j =>
      sum(element_at(col("bits"), j + 1) * col("cnt")).as(s"_s$j"))
    val perDoc = toks.join(vocabBits, "tok")
      .groupBy(col(idCol))
      .agg(sumCols.head, sumCols.tail: _*)
    perDoc.select(col(idCol),
      concat((0 until 64).map(j =>
        when(col(s"_s$j") > 0, "1").otherwise("0")): _*).as("simhash"))
  }

  /** SimHash near-dups within blocking buckets: pairs (a < b) from the same
    * block whose signatures differ in at most `maxHamming` bits.
    *
    * Candidate generation is PIGEONHOLE bucketing, not block-cartesian: the
    * 64-bit signature is split into maxHamming+1 chunks, and two signatures
    * within maxHamming Hamming distance must agree on at least one whole
    * chunk — so an equal-chunk equi-join produces a LOSSLESS candidate
    * superset whose volume scales with per-chunk collisions, not with block
    * size squared. Exact verification then packs each signature into two
    * longs so the per-pair cost is two XOR + bit_count instructions
    * (codegen'd) instead of 64 interpreted substring compares.
    */
  def simhashNearDups(df: DataFrame, idCol: String, text: Column,
      blockCols: Seq[String], maxHamming: Int): DataFrame = {
    val packed = simhash64(df, idCol, text)
      .withColumn("h1", conv(substring(col("simhash"), 1, 32), 2, 10).cast("long"))
      .withColumn("h2", conv(substring(col("simhash"), 33, 32), 2, 10).cast("long"))
      .join(df.select((idCol +: blockCols).map(col): _*), idCol)
    val nChunks = maxHamming + 1
    val base = 64 / nChunks; val extra = 64 % nChunks
    val sizes = Seq.tabulate(nChunks)(c => base + (if (c < extra) 1 else 0))
    val startLen = sizes.scanLeft(1)(_ + _).init.zip(sizes)
    val keyed = packed
      .withColumn("chs", array(startLen.zipWithIndex.map { case ((st, ln), ci) =>
        struct(lit(ci).as("ci"), substring(col("simhash"), st, ln).as("cv"))
      }: _*))
      .select((blockCols.map(col) :+ col(idCol) :+ col("h1") :+ col("h2") :+
        explode(col("chs")).as("ch")): _*)
      .select((blockCols.map(col) :+ col(idCol) :+ col("h1") :+ col("h2") :+
        col("ch.ci").as("ci") :+ col("ch.cv").as("cv")): _*)
    val a = keyed.select((blockCols.map(col) :+ col("ci") :+ col("cv") :+
      col(idCol).as("id_a") :+ col("h1").as("a1") :+ col("h2").as("a2")): _*)
    val b = keyed.select((blockCols.map(col) :+ col("ci") :+ col("cv") :+
      col(idCol).as("id_b") :+ col("h1").as("b1") :+ col("h2").as("b2")): _*)
    a.join(b, blockCols ++ Seq("ci", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "a1", "a2", "b1", "b2").distinct()
      .withColumn("hamming",
        (bit_count(col("a1").bitwiseXOR(col("b1"))) +
          bit_count(col("a2").bitwiseXOR(col("b2")))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Resolve near-dup PAIRS into duplicate CLUSTERS (connected components):
    * every doc labeled with the MINIMUM doc id reachable through the pair
    * graph — the canonical "keep one survivor per duplicate group" step a
    * dedup pipeline runs after any pair generator (MinHash, SimHash, …).
    *
    * Two execution paths behind one size gate, because the edge list is a
    * DERIVED table orders of magnitude smaller than the corpus (it holds
    * only near-duplicate pairs, not documents):
    *
    *  - `|E| <= driverEdgeLimit` (default 4M edges ≈ 64 MB of id pairs):
    *    ONE collect of the deduplicated edge list and a driver-side
    *    union-find with path compression — zero iterative Spark jobs, so
    *    no per-round scheduling overhead. This is the common case even at
    *    100 TB corpus scale unless the corpus is mostly duplicates.
    *  - above the gate: iterative distributed min-label propagation — each
    *    round joins labels onto the (symmetrised) edge list and takes the
    *    per-node min over self and neighbors. Converges in O(component
    *    diameter) rounds; duplicate clusters are near-cliques (tiny
    *    diameter), so a handful of rounds suffices at any corpus size.
    *    Each round is one distributed join + one combinable groupBy;
    *    `localCheckpoint` truncates the growing lineage so round N doesn't
    *    replay rounds 1..N−1. Convergence is detected by the
    *    (monotonically decreasing) label sum, in the exact decimal domain
    *    so no overflow can fake a fixpoint.
    *
    * Pass `driverEdgeLimit = 0` to force the distributed path.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 25,
      driverEdgeLimit: Long = 4L << 20): DataFrame = {
    // canonical undirected edge list (a <= b), deduplicated once; the
    // eager checkpoint makes it the single materialization both paths share
    val und = pairs.select(
        least(col(idA).cast("long"), col(idB).cast("long")).as("a"),
        greatest(col(idA).cast("long"), col(idB).cast("long")).as("b"))
      .distinct()
    val undCp = graft.core.Caching.eager(und)
    if (undCp.count() <= driverEdgeLimit) return unionFindLocal(undCp)
    val edges = graft.core.Caching.eager(
      undCp.select(col("a"), col("b"))
        .unionByName(undCp.select(col("b").as("a"), col("a").as("b")))
        .distinct())
    var labels = graft.core.Caching.eager(
      edges.select(col("a").as("node")).distinct()
        .withColumn("lbl", col("node")))
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).first().getDecimal(0)
    var prev = lblSum(labels)
    def prop(l: DataFrame): DataFrame = {
      val neigh = edges.join(l, edges("a") === l("node"))
        .select(col("b").as("node"), col("lbl"))
      l.unionByName(neigh).groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
    }
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // TWO propagation hops per materialized round, and a LAZY checkpoint
      // so the convergence-sum action is the one that computes and caches
      // it: one driver action per round (plus, when a reliable checkpoint
      // dir is configured, the cache-replaying DFS write that follows it)
      // — per-round cost on a cluster is job/shuffle overhead, not the
      // (tiny) label table itself. release() drops the superseded round's
      // cached blocks once the new labels are on disk.
      val (next, release) = graft.core.Caching.deferred(prop(prop(labels)))
      labels = next
      val cur = lblSum(labels)
      release()
      converged = cur.compareTo(prev) == 0 // labels only decrease
      prev = cur
      iter += 1
    }
    require(converged, s"connectedComponents: no fixpoint in $maxIter rounds")
    labels.select(col("node"), col("lbl").as("cluster"))
  }

  /** Eval-set decontamination signal: for every eval document, the fraction
    * of its distinct n-gram shingles that occur ANYWHERE in the training
    * corpus — the standard check that a benchmark has not leaked into the
    * training data. Scale shape: the train side collapses to a distinct
    * shingle set (one shuffle over derived shingles, never full text); the
    * eval side is tiny by construction (benchmarks are KBs–MBs), so the hit
    * count is a size-gated broadcast join against the train shingle stream
    * followed by a combinable count — no second corpus-sized shuffle.
    */
  def ngramContainment(train: DataFrame, evalDocs: DataFrame, idCol: String,
      text: Column, n: Int = 3): DataFrame = {
    val trainSh = shingles(train, idCol, text, n).select(col("shingle")).distinct()
    val evalSh = shingles(evalDocs, idCol, text, n)
    val nGrams = evalSh.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val hits = trainSh.join(Joins.maybeBroadcast(evalSh), Seq("shingle"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    nGrams.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) / col("n_grams").cast("double"))
          .as("containment"))
  }

  /** The deduplicated corpus: every document EXCEPT cluster non-survivors
    * — a doc is dropped iff it is reachable from a smaller doc id through
    * the near-dup pair graph (i.e. its component label differs from its own
    * id). This is the terminal step of the dedup pipeline: pair generator →
    * [[connectedComponents]] → anti-join, leaving exactly one canonical
    * representative per duplicate group. The anti-join's build side is the
    * (tiny, derived) non-survivor set, which Spark broadcasts on its own
    * under AQE — no corpus shuffle.
    */
  def survivors(docs: DataFrame, idCol: String, pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val dropped = connectedComponents(pairs, idA, idB)
      .filter(col("node") =!= col("cluster")).select(col("node"))
    docs.join(dropped, docs(idCol) === dropped("node"), "left_anti")
  }

  /** Survivor selection through the exact-dup pre-collapse cluster path
    * ([[nearDupClustersCollapsed]]): drop every clustered doc that is not
    * its cluster's minimum. Output-equivalent to
    * `survivors(docs, idCol, minhashNearDups(docs, ...))`.
    */
  def survivorsCollapsed(docs: DataFrame, idCol: String, text: Column,
      shingleLen: Int = 3, k: Int = 32, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val dropped = nearDupClustersCollapsed(docs, idCol, text,
        shingleLen, k, rowsPerBand, threshold)
      .filter(col("doc_id") =!= col("cluster")).select(col("doc_id"))
    docs.join(dropped, docs(idCol) === dropped("doc_id"), "left_anti")
  }

  /** MinHash near-dup CLUSTERS with exact-duplicate pre-collapse — the
    * production-scale path for dup-heavy corpora, equivalent output to
    * `connectedComponents(minhashNearDups(df, ...))` on the full corpus.
    * Behind a duplication-ratio gate: when ≥ `collapseRatio` of documents
    * are textually unique (one cheap count/count_distinct agg), the
    * collapse cannot pay and the direct pair path runs instead — both
    * branches produce identical output.
    *
    * Why: pair listing is quadratic IN CLIQUE SIZE, and exact duplicates
    * (the dominant duplication mode in web corpora) form cliques whose
    * pairs carry no information — every member has Jaccard 1 with every
    * other. Collapsing identical texts first (ONE cheap md5 groupBy, the
    * same shuffle `exact` dedup pays) runs shingling/signatures/banding/
    * verification on UNIQUE texts only: a corpus that is 90% exact copies
    * does ~1% of the pair work. Measured: the 10×-replicated 50k-doc
    * stress corpus drops from 22.9 s of pair listing to base-corpus cost.
    *
    * Equivalence argument (spec-pinned on a dup-heavy fixture): an exact
    * clique is fully connected at ANY threshold, so full-graph
    * connectivity = collapsed-graph connectivity over representatives
    * plus intra-group edges; each group's representative is its MINIMUM
    * id, so the component minimum over representatives IS the component
    * minimum over documents. Docs appear in the output iff they have at
    * least one near-dup (a ≥2 exact group whose text yields ≥1 shingle, or
    * a representative with cross-text pairs) — the same node set as the
    * full pair graph. The shingle condition matters: docs with fewer than
    * `shingleLen` tokens produce no signature and hence no pairs in the
    * direct branch, so identical copies of such a doc are NOT near-dups
    * under MinHash semantics and must not appear here either.
    */
  def nearDupClustersCollapsed(df: DataFrame, idCol: String, text: Column,
      shingleLen: Int = 3, k: Int = 32, rowsPerBand: Int = 4,
      threshold: Double = 0.5, collapseRatio: Double = 0.9): DataFrame = {
    // gate (one cheap agg, the union-find-edge-gate pattern): the collapse
    // adds a groupBy + expansion joins that only pay off when the corpus
    // actually contains exact duplicates — on a mostly-unique corpus the
    // direct pair path is strictly cheaper. approx_count_distinct ships
    // fixed-size sketches instead of every distinct key, and it hashes
    // its input internally (xxhash64), so the gate aggregates the TEXT
    // column directly — an md5 pre-hash here would cost a second full-text
    // digest pass for nothing. The gate needs a ratio, not a census, and
    // BOTH branches produce identical output so sketch error can only
    // affect cost, never correctness
    val Array(nDocs, nUnique) = df
      .agg(count(lit(1)), approx_count_distinct(text)).first()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    if (nUnique >= nDocs * collapseRatio) {
      return connectedComponents(minhashNearDups(df, idCol, text,
          shingleLen, k, rowsPerBand, threshold))
        .select(col("node").as("doc_id"), col("cluster"))
    }
    // only the collapse branch needs the md5 group key
    val keyed = df.select(col(idCol).cast("long").as("_doc"),
      md5(text.cast("binary")).as("_k"), text.as("_t"))
    val groups = keyed.groupBy(col("_k"))
      .agg(min(col("_doc")).as("rep"), count(lit(1)).as("_gn"),
        first(col("_t")).as("_t")) // texts in a group are identical
      // does this text produce ANY shingle? Zero-shingle docs (fewer than
      // shingleLen tokens) generate no MinHash signature and therefore no
      // pairs in the direct branch — an exact clique of them must NOT count
      // as near-dups here either, or the gate's branch choice would change
      // the output. Computed once per DISTINCT text, not per document.
      .withColumn("_sh", size(shingleArray(col("_t"), shingleLen)) > 0)
    val reps = groups.select(col("rep").as(idCol), col("_t").as("__text"))
    val pairs = minhashNearDups(reps, idCol, col("__text"),
      shingleLen, k, rowsPerBand, threshold)
    val repClusters = connectedComponents(pairs)
    // expand: every doc inherits its representative's component label
    // (falling back to the rep itself when the rep has no cross-text
    // pairs); keep docs that have ANY near-dup — cross-text, or exact with
    // a shingle-bearing text (matching the pair graph's node set exactly)
    val expanded = keyed
      .join(Joins.maybeBroadcast(groups.select(col("_k"), col("rep"), col("_gn"), col("_sh"))), Seq("_k"))
      .join(Joins.maybeBroadcast(repClusters), col("rep") === col("node"), "left")
      .filter((col("_gn") >= 2L && col("_sh")) || col("node").isNotNull)
    expanded.select(col("_doc").as("doc_id"),
      coalesce(col("cluster"), col("rep")).as("cluster"))
  }

  /** Driver union-find over a bounded, already-checkpointed edge list:
    * roots are kept at the component MINIMUM by always linking the larger
    * root under the smaller, and path compression keeps walks amortized
    * near-constant. Used by [[connectedComponents]] under its size gate.
    */
  private def unionFindLocal(und: DataFrame): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    und.collect().foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val spark = und.sparkSession
    import spark.implicits._
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.keySet().forEach(n => out += ((n, find(n))))
    out.toSeq.toDF("node", "cluster")
  }

  /** Per-doc shingle set + its prefix in ONE aggregation: (id, _set, n_sh,
    * _prefix). The set array is collected already ordered by the canonical
    * (df, shingle) total order, so the prefix is just its leading slice —
    * no per-doc window pass.
    *
    * A document's PREFIX under the canonical global shingle order
    * (document frequency ascending, shingle ascending — a total order shared
    * by every document) is the first n − ⌈t·n⌉ + 1 shingles of its
    * n-shingle set. The prefix-filtering lemma (public SSJoin/PPJoin
    * technique — Chaudhuri et al. ICDE'06, Xiao et al. WWW'08) guarantees
    * two sets with Jaccard ≥ t share at least one shingle in BOTH prefixes,
    * so a prefix inverted index is a LOSSLESS candidate generator. The
    * excluded suffix is each doc's ⌈t·n⌉−1 globally most-frequent shingles —
    * precisely the stop-word-class hot keys whose Σf² pairs blow up a
    * full-index self-join at corpus scale.
    */
  private[graft] def shingleSetsWithPrefix(sh: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    sh.join(dfreq, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("_df"), col("shingle")))).as("_ord"))
      .select(col(idCol),
        transform(col("_ord"), x => x.getField("shingle")).as("_set"),
        size(col("_ord")).as("n_sh"))
      .withColumn("_prefix", slice(col("_set"), lit(1),
        (col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1).cast("int")))
  }

  /** R-S (two-table) exact n-gram-Jaccard similarity JOIN — the "fuzzy
    * join" of record linkage: every (left, right) pair whose word-shingle
    * Jaccard is ≥ `threshold`, with the exact score. Where
    * [[ngramJaccardNearDups]] self-joins one corpus, this joins two tables
    * (new shard vs corpus, queries vs catalog, dirty names vs canon).
    *
    * Same PPJoin construction as the self-join path, cross-table form:
    * document frequencies — and hence the canonical (df, shingle) total
    * order every prefix is computed under — come from the UNION of both
    * sides (the prefix lemma needs only a SHARED total order, and union
    * frequencies put either side's hot shingles in the excluded suffix),
    * candidates come from a left-prefix ⋈ right-prefix equi-join on the
    * shingle, and verification computes exact Jaccard from the full per-doc
    * set arrays. Candidate volume scales with rare-shingle co-occurrence
    * ACROSS the tables, never with |L|·|R|.
    *
    * Integer-derived doubles only (intersection and set sizes), so scores
    * are bit-identical across engines. Thresholds below the self-join
    * path's prefix cutoff are rejected — a tiny threshold makes any exact
    * algorithm near-quadratic; use [[ngramContainment]]-style asymmetric
    * screens there instead.
    *
    * `cachePrefix` (default on) persists the slim prefix index for its two
    * consumers and returns the checkpointed result. Off, the prefix build
    * recomputes per consumer and the result stays lazy: [[graft.Stress]]'s
    * recorded scale protocol runs it off, because at 5M docs the cached
    * index does not fit the stress box's disk (SCALE.md, "R-S fuzzy join
    * at 5M docs").
    */
  def jaccardJoin(left: DataFrame, right: DataFrame, idCol: String,
      text: Column, shingleLen: Int = 3, threshold: Double = 0.5,
      cachePrefix: Boolean = true): DataFrame = {
    require(threshold >= PrefixCutoff,
      s"jaccardJoin: threshold $threshold below $PrefixCutoff makes the " +
        "prefix filter vacuous; use a containment screen for tiny thresholds")
    val tagged = left.select(lit("L").as("_side"), col(idCol), text.as("_t"))
      .unionByName(
        right.select(lit("R").as("_side"), col(idCol), text.as("_t")))
    // verification arrays are SCAN-LOCAL: the per-doc distinct-shingle
    // array comes straight off the one-pass graft_shingles expression —
    // the full shingle sets never shuffle (array_intersect doesn't care
    // about order), so the only corpus-wide exchanges below carry the df
    // census and the slim prefix index
    def setArrs(s: String, suffix: String) = tagged
      .filter(col("_side") === s)
      .select(col(idCol).as(s"id_$suffix"),
        shingleArray(col("_t"), shingleLen).as(s"_set_$suffix"))
      .withColumn(s"n_$suffix", size(col(s"_set_$suffix")))
    // the index rows carry xxhash64 TOKENS, not shingle strings: the
    // prefix lemma holds under ANY shared total order, and hashing can
    // only RAISE a pair's Jaccard (h(A∩B) ⊆ h(A)∩h(B), |h(A)∪h(B)| ≤
    // |A∪B|), so every pair passing on true sets also passes on hashed
    // sets — provided the prefix length is computed from the DISTINCT
    // hashed-token count (array_distinct below collapses within-doc
    // collisions before the slice; without it a collision could shrink
    // the covered-token count below the lemma's bound). Extra candidates
    // from collisions are killed by the exact string-set verification.
    // The prefix build's exchanges (census + per-doc sort + candidate
    // join) then move 8-byte longs instead of multi-word strings — the
    // dominant constant at corpus scale (measured in SCALE.md).
    val sh = tagged.select(col("_side"), col(idCol),
      explode(shingleArray(col("_t"), shingleLen)).as("_s"))
      .select(col("_side"), col(idCol), xxhash64(col("_s")).as("shingle"))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    // each doc's prefix under the shared (union-df, shingle) total order —
    // the lowest-df n − ⌈t·n⌉ + 1 shingles (prefix lemma, same
    // construction as [[shingleSetsWithPrefix]]); exploded slim
    // (_side, id, shingle) rows, the ONLY per-doc state that shuffles
    val prefixPlan = sh.join(dfreq, Seq("shingle"))
      .groupBy(col("_side"), col(idCol))
      .agg(array_distinct(
        sort_array(collect_list(struct(col("_df"), col("shingle")))))
        .as("_ord"))
      .select(col("_side"), col(idCol),
        explode(slice(transform(col("_ord"), x => x.getField("shingle")),
          lit(1), (size(col("_ord")) -
            ceil(lit(threshold) * size(col("_ord"))) + 1).cast("int")))
          .as("shingle"))
    // two consumers (L and R arms) — scope a cache over the slim index so
    // the df join + per-doc sort run once ([[lineDedup]] diamond
    // discipline)
    val prefix =
      if (cachePrefix) prefixPlan
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else prefixPlan
    val cand = prefix.filter(col("_side") === "L")
      .select(col(idCol).as("id_l"), col("shingle"))
      .join(prefix.filter(col("_side") === "R")
        .select(col(idCol).as("id_r"), col("shingle")), Seq("shingle"))
      .select(col("id_l"), col("id_r")).distinct()
    // Verification join ORDER is the scale lever (r12 fuzzyjoin stress):
    // joining the probe arrays first attached them to every candidate
    // pair crossing the second join's exchange — 21.8 GB shuffled at 500k
    // docs against 1.1 GB of total array bytes. Instead the BIGGER side's
    // arrays join first (each array crosses the wire exactly once, pairs
    // stay 16-byte slim through their exchange), and the smaller side
    // joins LAST under a size-gated broadcast hint — when it broadcasts,
    // its arrays never ride an exchange at all; when both sides are huge,
    // the per-pair carry is at least the cheaper of the two orders.
    // The probe (left) side's TRUE byte size comes from one bounded
    // aggregate over the probe scan — O(|probe|) by the operator's
    // contract that left is the probe/smaller table. Catalyst's
    // post-filter size estimates overshoot by orders of magnitude here,
    // and the r12 5M-doc stress measured the gate flipping to sort-merge
    // exactly when it matters: candidates carried the reference arrays
    // through their exchange, 38.7 GB shuffled where ~6 GB suffices.
    val lTextBytes = left.select(text.cast("string").as("_t"))
      .agg(coalesce(sum(octet_length(col("_t"))), lit(0L)))
      .first().getLong(0)
    // each word lands in up to `shingleLen` distinct shingles, so the
    // exploded-array payload scales with shingleLen (the graph node
    // exposes `n` to users) — plus array/struct element overhead: the
    // ceiling must track it or a large shingleLen undershoots the real
    // broadcast size and forces an over-cap broadcast onto the driver
    val out0 =
      if ((shingleLen + 3L) * lTextBytes <= graft.core.Joins.DefaultBroadcastCap)
        cand.join(setArrs("R", "r"), Seq("id_r"))
          .join(broadcast(setArrs("L", "l")), Seq("id_l"))
      else if (left.queryExecution.optimizedPlan.stats.sizeInBytes <=
          right.queryExecution.optimizedPlan.stats.sizeInBytes)
        cand.join(setArrs("R", "r"), Seq("id_r"))
          .join(graft.core.Joins.maybeBroadcast(setArrs("L", "l")), Seq("id_l"))
      else
        cand.join(setArrs("L", "l"), Seq("id_l"))
          .join(graft.core.Joins.maybeBroadcast(setArrs("R", "r")), Seq("id_r"))
    val out = out0
      .withColumn("_ni", size(array_intersect(col("_set_l"), col("_set_r"))))
      .withColumn("jaccard", col("_ni") /
        (col("n_l") + col("n_r") - col("_ni")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_l"), col("id_r"), col("jaccard"))
    if (cachePrefix) graft.core.Caching.scoped(out, prefix) else out
  }

  /** Below this threshold the prefix filter is a no-op in disguise: the
    * prefix keeps n − ⌈t·n⌉ + 1 ≈ (1−t)·n shingles, so at tiny t the
    * "filtered" index is the full index plus the per-pair set-intersection
    * verification on top. Near-quadratic work is INTRINSIC to a tiny
    * threshold (any exact algorithm must count every pair sharing ≥1
    * shingle), so the count-based index — which never materialises per-pair
    * arrays — is the cheaper exact plan there.
    */
  private val PrefixCutoff = 0.1

  /** Blocked exact n-gram-Jaccard near-dups (the non-LSH baseline).
    *
    * For thresholds ≥ `PrefixCutoff` (every realistic dedup setting),
    * candidates come from a PREFIX-FILTERED shingle inverted index — a
    * self-join on (block, prefix shingle) — so candidate volume scales with
    * rare-shingle co-occurrence, not with Σ_shingle f² over the whole
    * vocabulary: the globally hottest shingles sit in every doc's excluded
    * suffix, closing the quadratic hot-key surface an unfiltered index hits
    * on stop-word shingles at corpus scale. Verification computes the EXACT
    * Jaccard from the full shingle sets (codegen'd array_intersect over the
    * per-doc set arrays) — results are identical to the unfiltered index by
    * the prefix lemma; pairs sharing no shingle have Jaccard 0 and are below
    * any positive threshold, so dropping them is exact too.
    *
    * For degenerate tiny thresholds the same results come from the
    * count-based full index (shared-shingle groupBy count), which is cheaper
    * when nearly every sharing pair must be examined anyway; MinHash-LSH is
    * the scale route for corpora where even that is too hot.
    */
  def ngramJaccardNearDups(df: DataFrame, idCol: String, text: Column,
      blockCols: Seq[String], shingleLen: Int, threshold: Double): DataFrame = {
    require(threshold > 0, "threshold must be positive (0-overlap pairs are dropped)")
    val sh = shingles(df, idCol, text, shingleLen)
    val blocks = df.select((idCol +: blockCols).map(col): _*)
    if (threshold >= PrefixCutoff) {
      val sets = shingleSetsWithPrefix(sh, idCol, threshold)
      val prefix = sets.select(col(idCol), explode(col("_prefix")).as("shingle"))
        .join(blocks, idCol)
      val a = prefix.select((blockCols.map(col) :+ col("shingle") :+
        col(idCol).as("id_a")): _*)
      val b = prefix.select((blockCols.map(col) :+ col("shingle") :+
        col(idCol).as("id_b")): _*)
      val cands = a.join(b, blockCols :+ "shingle")
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
      cands
        .join(sets.select(col(idCol).as("id_a"), col("_set").as("_sa"),
          col("n_sh").as("n_a")), Seq("id_a"))
        .join(sets.select(col(idCol).as("id_b"), col("_set").as("_sb"),
          col("n_sh").as("n_b")), Seq("id_b"))
        .withColumn("n_inter", size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
        .withColumn("jaccard",
          col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    } else {
      val keyed = sh.join(blocks, idCol)
      val a = keyed.select((blockCols.map(col) :+ col("shingle") :+
        col(idCol).as("id_a")): _*)
      val b = keyed.select((blockCols.map(col) :+ col("shingle") :+
        col(idCol).as("id_b")): _*)
      val inter = a.join(b, blockCols :+ "shingle")
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
      val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
      inter
        .join(counts.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
        .join(counts.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
        .withColumn("jaccard",
          col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    }
  }

  /** Corpus-wide EXACT substring duplication (the detection half of Lee et
    * al. 2021, "Deduplicating Training Data Makes Language Models Better" —
    * public): slide a `k`-char window every `stride` chars over each
    * document, hash the windows, and mark every window whose hash occurs ≥2
    * times ANYWHERE in the corpus (other docs or elsewhere in the same
    * doc). Returns per-doc `(idCol, n_windows, n_dup_windows, dup_frac)`;
    * a high fraction means the doc is largely boilerplate shared with the
    * rest of the corpus. Docs shorter than `k` have zero windows.
    *
    * Scale shape: window GENERATION is row-local (a bounded per-row
    * transform — no self-join, documents never leave their task); the only
    * corpus-wide structure is one map-side-combinable groupBy on the
    * window hash plus a size-gated broadcast of the duplicated-key set
    * (near-dup keys are a tiny fraction of windows on a healthy corpus).
    * `stride` is the cost lever: windows per byte scale as 1/stride, at
    * the cost of detection granularity — the paper's suffix-array
    * formulation is exact-to-the-byte but needs a global sort; stride
    * windows are the shuffle-friendly approximation.
    *
    * `cacheWindows` (default on) persists the window table for its two
    * consumers and returns the checkpointed stats. Off, the windows
    * recompute per consumer and the result stays lazy: [[graft.Stress]]'s
    * recorded scale protocol runs it off, because a corpus-sized window
    * table outgrows executor storage and recomputing the scan is the
    * cheaper, predictable path there (SCALE.md, corpus-sized caches off).
    */
  def substringDupStats(df: DataFrame, idCol: String, text: Column,
      k: Int = 40, stride: Int = 10,
      cacheWindows: Boolean = true): DataFrame = {
    require(k >= 1 && stride >= 1, s"need k,stride >= 1, got k=$k stride=$stride")
    val len = length(text)
    val nWin = when(len < k, lit(0L)).otherwise(
      floor((len - k).cast("double") / stride).cast("long") + 1L)
    // sequence(0, m-1) DESCENDS for m-1 < 0 — the nWin===0 guard avoids it
    val winArr = when(nWin === 0L, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0L), nWin - 1L),
        i => text.substr((i * stride + 1L).cast("int"), lit(k))))
    // shuffle carries fixed-width md5 keys, never window text; the window
    // table feeds BOTH the key-count branch and the per-doc join (same
    // diamond as the MinHash shingle table), so persist by default —
    // ~(id + 32-char key) per window, ≈ corpus_bytes/stride·50B
    val winBase = df.select(col(idCol), explode(winArr).as("w"))
      .select(col(idCol), md5(col("w").cast("binary")).as("wkey"))
    val win = if (cacheWindows)
      winBase.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else winBase
    val dupKeys = win.groupBy(col("wkey"))
      .agg(count(lit(1)).as("wcnt"))
      .filter(col("wcnt") >= 2L)
      .select(col("wkey"), lit(1).as("_dup"))
    val perDoc = win
      .join(Joins.maybeBroadcast(dupKeys), Seq("wkey"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("_dup").isNotNull, 1L).otherwise(0L)).as("n_dup_windows"))
    val res = df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_windows", "n_dup_windows"))
      .withColumn("dup_frac", when(col("n_windows") === 0L, 0.0).otherwise(
        round(col("n_dup_windows") / col("n_windows").cast("double"), 6)))
    // close the cache scope: materialize per-doc stats while the window
    // table is hot, then release it (see graft.core.Caching)
    if (cacheWindows) graft.core.Caching.scoped(res, win) else res
  }
}
