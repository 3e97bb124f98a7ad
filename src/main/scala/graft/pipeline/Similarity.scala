package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  *  - Brute-force cosine top-k: broadcast the (small) query set against the
  *    corpus — scales linearly in corpus size, embarrassingly parallel; the
  *    correctness baseline.
  *  - LSH-bucketed top-k: sign-bit bucket signature (axis-aligned random
  *    hyperplanes), candidates only within a bucket — the scale path: the
  *    corpus shuffles once on the bucket key, each bucket is tiny.
  *
  * Dot products run in double via zip_with+aggregate (sequential fold in
  * array order → deterministic); no UDFs.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double, left-to-right — the codegen'd DotProduct expression.
    * Bit-identical to the interpreted HOF fold in [[dotHof]], ~6× faster on
    * pairwise workloads.
    */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(graft.functions.DotProduct(
      ColumnBridge.expression(a.cast("array<double>")),
      ColumnBridge.expression(b.cast("array<double>"))))

  /** Reference HOF implementation of [[dot]] (interpreted; used by tests to
    * pin the codegen path's semantics).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  /** Exact top-k neighbors by cosine for each query vector (self excluded).
    * `queries` must be small enough to broadcast; the corpus is only
    * scanned, never shuffled.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rk"))
  }

  /** Banded sign-LSH keys over md5-seeded hyperplanes spanning ALL vector
    * components (see [[Planes]]): one struct (band, bkey) per band, where
    * bkey is the bit-string of plane signs for that band. Band-OR candidate
    * generation — two vectors are candidates iff they agree on EVERY bit of
    * at least one band — is the same amplification scheme as MinHash
    * banding: per-band collision for a random pair is 2^-bitsPerBand, so the
    * candidate volume is ~bands·n²/2^bitsPerBand per key-space, while close
    * pairs (bit-agreement p) survive with 1-(1-p^bits)^bands.
    */
  def lshBandKeys(vec: Column, planes: Array[Array[Double]], bands: Int): Column = {
    require(planes.length % bands == 0, "planes must divide evenly into bands")
    val perBand = planes.length / bands
    val bits: Seq[Column] = planes.toSeq.map(p =>
      when(dot(vec, typedlit(p.toIndexedSeq)) > 0, lit("1")).otherwise(lit("0")))
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        concat(bits.slice(b * perBand, (b + 1) * perBand): _*).as("bkey"))): _*)
  }

  /** Distinct candidate pairs (both directions) from band-OR LSH: each
    * vector shuffles once per band on its (band, bkey); only equal keys join.
    * Never all-pairs: bucket population is bounded by the key space, and the
    * seeded planes kill the hot-bucket skew of axis-aligned bits (correlated
    * leading dims). Sub-quadratic candidate volume is asserted by spec.
    */
  def lshCandidates(df: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Double]], bands: Int): DataFrame = {
    val withKeys = df
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("bks", lshBandKeys(col("v"), planes, bands))
    val keyed = withKeys.select(col("id"), explode(col("bks")).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    keyed.as("a").join(keyed.as("b"), Seq("band", "bkey"))
      .filter(col("a.id") =!= col("b.id"))
      .select(col("a.id").as("query_id"), col("b.id").as("neighbor_id"))
      .distinct()
  }

  /** Top-k by cosine within band-OR LSH candidates. Norms are computed once
    * per vector and joined in — not recomputed per pair. Recall < 1 by
    * construction; (#planes, bands) trade recall for candidate volume.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, dims: Int,
      nPlanes: Int, bands: Int, k: Int, seed: String = "graft-lsh"): DataFrame = {
    val planes = Planes.hyperplanes(nPlanes, dims, seed)
    val base = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", norm2(col("v")))
    val cand = lshCandidates(df, idCol, vecCol, planes, bands)
    val scored = cand
      .join(base.select(col("id").as("query_id"), col("v").as("qv"), col("n").as("qn")), "query_id")
      .join(base.select(col("id").as("neighbor_id"), col("v").as("cv"), col("n").as("cn")), "neighbor_id")
      .withColumn("cos", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rk"))
  }

  /** A trained coarse quantizer: (centroid id, vector, L2 norm). The set is
    * FIXED-SIZE by construction (k centroids regardless of corpus size), so
    * shipping it to executors is O(k·dims) — never data-sized.
    *
    * Sizing k: the centroid-id join key has exactly k distinct values, so k
    * bounds both the post-assignment shuffle parallelism and the per-cell
    * candidate volume (n/k per cell). At corpus scale pick k ≈ O(√n) — the
    * classical IVF balance — which keeps cells small AND the broadcast tiny
    * (4096 × 64-dim doubles ≈ 2 MB). The small defaults here match the
    * oracle fixtures, not production.
    */
  type Centroid = (Long, Array[Double], Double)

  /** Deterministic fixed-count quantizer: every ceil(n/k)-th id is a
    * centroid. Two bounded driver jobs train it (a count + a k-row collect)
    * — train-then-apply, like any ML model. Mirrorable in SQL, which is what
    * lets the oracle replicate the assignment bit-exactly.
    */
  def strideCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int): Array[Centroid] = {
    val stride = math.max(1L, math.ceil(df.count().toDouble / k).toLong)
    // picks by RANK, not id value: id-space independent (the sf1 gate
    // caught offset/sparse id spaces tripping the old id-modulus), and on
    // dense 0-based ids rank-1 == id so picks — and every downstream
    // oracle hash — are unchanged. The rank window runs over the TRAINING
    // frame only, which is bounded by contract (train-then-apply: pass a
    // sample, exactly like kmeansCentroids' sampleRows).
    df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("rn", row_number().over(Window.orderBy(col("id"))) - 1)
      .filter(col("rn") % stride === 0)
      .withColumn("n", norm2(col("v")))
      .select(col("id"), col("v"), col("n"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
  }

  /** Production quantizer: MLlib KMeans fit on a bounded-size sample of the
    * corpus (first `sampleRows` rows — training data volume is a model
    * hyperparameter, not "the whole corpus"). Returns exactly `k` centroids
    * with synthetic ids 0..k-1. Not SQL-mirrorable (so spec-covered, not
    * oracle-gated); plug into [[ivfNearDupsWith]] for the scale path.
    */
  def kmeansCentroids(df: DataFrame, vecCol: String, k: Int,
      sampleRows: Int = 10000, seed: Long = 42L): Array[Centroid] = {
    val sess = df.sparkSession
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val sample = df.select(array_to_vector(
        col(vecCol).cast("array<double>")).as("features"))
      .limit(sampleRows)
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features")
      .fit(sample)
    model.clusterCenters.zipWithIndex.map { case (c, i) =>
      val v = c.toArray
      (i.toLong, v, math.sqrt(v.map(x => x * x).sum))
    }
  }

  /** Embedding-cosine near-dup pairs via IVF coarse quantization: candidates
    * are pairs sharing one of their `probes` nearest centroids, then exact
    * cosine ≥ threshold verifies.
    *
    * Why IVF and not sign-LSH here: near-dup thresholds in the 0.3-0.6 range
    * are too close to the random-pair baseline for sign-bit amplification —
    * banding that keeps such pairs also keeps most random pairs. Data-aligned
    * cells discriminate where hyperplanes cannot.
    */
  def ivfNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numCentroids: Int = 16, probes: Int = 3): DataFrame =
    ivfNearDupsWith(df, idCol, vecCol,
      strideCentroids(df, idCol, vecCol, numCentroids), threshold, probes)

  /** IVF near-dup core over an already-trained centroid set.
    *
    * Scale shape: the k-centroid matrix rides to executors as a broadcast
    * variable (O(k·dims), fixed); probe assignment is a mapPartitions scan —
    * no crossJoin, no window, ZERO shuffle until the candidate self-join on
    * the centroid key. Ranking uses dot(v,c)/‖c‖ — ‖v‖ is constant per row,
    * so dividing it out does not change the per-row centroid order and the
    * row norm is never computed during assignment. The exact-cosine verify
    * then touches only candidate pairs.
    */
  /** Per-row probe assignment: each vector's `probes` nearest centroids by
    * dot(v,c)/‖c‖ (the row norm is constant per row and divides out of the
    * ranking). mapPartitions over the broadcast centroid matrix — scan-only,
    * zero shuffle; (-score, cid) ascending == (score DESC, cid ASC), and
    * the left-to-right double fold matches the codegen'd graft_dot and the
    * SQL mirror bit-exactly.
    */
  def assignProbes(base: DataFrame, cents: Array[Centroid],
      probes: Int): DataFrame = {
    val sess = base.sparkSession
    import sess.implicits._
    val centB = sess.sparkContext.broadcast(cents)
    base.select(col("id"), col("v")).as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = centB.value
        it.flatMap { case (id, v) =>
          val scored = cs.map { case (cid, cv, cn) =>
            var s = 0.0
            var i = 0
            while (i < v.length) { s += v(i) * cv(i); i += 1 }
            (-(s / cn), cid)
          }
          scored.sortBy(identity)(
            Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
            .take(probes).map { case (_, cid) => (id, cid) }
        }
      }.toDF("id", "cid")
  }

  /** Embedding-space outlier flagging for corpus curation: every vector's
    * nearest-centroid cell, its (rounded) cosine to that centroid, and an
    * outlier flag for vectors far from EVERY centroid — the standard
    * "prune vectors that fit no cluster" pass before semantic dedup or
    * retrieval indexing. Reuses the IVF machinery: fixed-size quantizer,
    * broadcast centroid matrix, mapPartitions assignment (zero shuffles
    * before the tiny broadcast joins).
    */
  def centroidOutliers(df: DataFrame, idCol: String, vecCol: String,
      cents: Array[Centroid], minCos: Double): DataFrame = {
    val sess = df.sparkSession
    import sess.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val assign = assignProbes(base, cents, probes = 1)
    val centDf = cents.toSeq.map { case (cid, cv, _) => (cid, cv.toSeq) }
      .toDF("cid", "cv")
    base.join(assign, "id")
      .join(broadcast(centDf), "cid")
      .withColumn("cos_centroid",
        round(cosine(col("v"), col("cv").cast("array<double>")), 6))
      .select(col("id").as(idCol), col("cid").as("cell"), col("cos_centroid"),
        (col("cos_centroid") < minCos).cast("int").as("is_outlier"))
  }

  def ivfNearDupsWith(df: DataFrame, idCol: String, vecCol: String,
      cents: Array[Centroid], threshold: Double, probes: Int): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", norm2(col("v")))
    val assign = assignProbes(base, cents, probes)
    val cand = assign.as("x").join(assign.as("y"), "cid")
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb")), "id_b")
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** IVF top-k ANN — the quantized scale path beside [[bruteForceTopK]]
    * (exact baseline) and [[lshTopK]] (sign-bucketed): the corpus is
    * assigned to its single nearest cell, queries probe their `probes`
    * nearest cells, and exact cosine ranks only the candidates inside
    * probed cells. Search work per query is `probes` cells ≈
    * probes·n/k vectors instead of n; recall < 1 by construction (a true
    * neighbor hiding in an unprobed cell is missed — raise `probes` to
    * trade time for recall). Same fixed-size quantizer contract as
    * [[ivfNearDupsWith]]: O(k·dims) broadcast, assignment is scan-only.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, cents: Array[Centroid], k: Int,
      probes: Int = 3): DataFrame = {
    def baseOf(df: DataFrame) =
      df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
        .withColumn("n", norm2(col("v")))
    val qb = baseOf(queries)
    val cb = baseOf(corpus)
    val qAssign = assignProbes(qb, cents, probes)
      .select(col("id").as("query_id"), col("cid"))
    val cAssign = assignProbes(cb, cents, 1)
      .select(col("id").as("neighbor_id"), col("cid"))
    val cand = qAssign.join(cAssign, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    val scored = cand
      .join(qb.select(col("id").as("query_id"), col("v").as("qv"),
        col("n").as("qn")), "query_id")
      .join(cb.select(col("id").as("neighbor_id"), col("v").as("cv"),
        col("n").as("cn")), "neighbor_id")
      .withColumn("cos", round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rk"))
  }

  /** Symmetric per-vector int8 scalar quantization scale: max|vᵢ|/127,
    * or 1.0 for the zero vector. With [[int8Codes]] this is the standard
    * 4× memory lever for billion-vector ANN: codes stay in [-127, 127] by
    * construction (max|vᵢ|/scale = 127 up to one ulp), and every operand is
    * IEEE-identical across engines (float→double casts are exact, max is
    * order-free), so the DuckDB oracle mirrors it bit-for-bit. HOFs are
    * interpreted, not codegen'd — materialize the scale ONCE as a named
    * column before feeding it to [[int8Codes]], never inline it.
    */
  def int8Scale(vec: Column): Column = {
    val m = array_max(transform(vec, x => abs(x.cast("double"))))
    when(m === 0.0, 1.0).otherwise(m / 127.0)
  }

  /** Int8 code array for a vector under a per-row scale column:
    * qᵢ = round(vᵢ/scale) (half away from zero on both engines).
    */
  def int8Codes(vec: Column, scale: Column): Column =
    transform(vec, x => round(x.cast("double") / scale).cast("long"))

  /** Reconstruction from codes: qᵢ·scale. */
  def int8Dequantize(codes: Column, scale: Column): Column =
    transform(codes, q => q.cast("double") * scale)

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication" —
    * public): cluster embeddings with the IVF coarse quantizer, list
    * within-cluster cosine near-dup pairs, resolve the duplicate groups,
    * and keep ONE representative — the minimum id — per semantic group.
    * Returns the surviving rows of `df` (left-anti against the dropped
    * set), i.e. the corpus with semantically redundant items removed.
    *
    * Scale shape: inherits [[ivfNearDups]]' bounded structure (broadcast
    * O(k·dims) quantizer, cell-local candidate join — never all-pairs) and
    * the gated union-find / distributed min-label of
    * [[graft.pipeline.Dedup.connectedComponents]]; the pair graph is
    * near-dup-sized, ≪ corpus, and the anti-join side is only the dropped
    * ids (AQE broadcasts it).
    */
  def semDedupSurvivors(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numCentroids: Int = 16, probes: Int = 3): DataFrame =
    graft.pipeline.Dedup.survivors(df, idCol,
      ivfNearDups(df, idCol, vecCol, threshold, numCentroids, probes))

  /** [[semDedupSurvivors]] over an already-trained centroid set — the
    * train-then-apply form, letting callers share one quantizer across
    * the whole embedding-op family instead of re-training per call.
    */
  def semDedupSurvivorsWith(df: DataFrame, idCol: String, vecCol: String,
      cents: Array[Centroid], threshold: Double, probes: Int = 3): DataFrame =
    graft.pipeline.Dedup.survivors(df, idCol,
      ivfNearDupsWith(df, idCol, vecCol, cents, threshold, probes))

  // ---- product quantization (Jégou et al. 2011, "Product quantization
  // for nearest neighbor search" — public) ----

  /** PQ codebook: `m` subspaces of `dims/m` contiguous components, each
    * with its own centroid set, all arithmetic in INTEGER MICRO-UNITS
    * (floor(x·1e6) of the double-cast component) so every step — distance,
    * argmin, Lloyd average — is order-free and a DuckDB oracle mirrors it
    * bit-exactly. `cents(j)(c)(d)` is centroid c of subspace j.
    *
    * Training is deterministic: the stride-quantizer init (every
    * ceil(n/k)-th id's subvectors, centroid index = id rank — the
    * [[strideCentroids]] contract) followed by ONE exact Lloyd refinement
    * (assign every training row per-subspace to its nearest init centroid,
    * tie to the lowest index; refined component = floorDiv of the
    * micro-unit sum by the cell count; empty cells keep their init). Like
    * any quantizer, training data volume is a model hyperparameter — at
    * corpus scale feed a bounded sample, then [[pqEncode]] the full corpus.
    */
  final case class PqCodebook(m: Int, dsub: Int,
      cents: Array[Array[Array[Long]]])

  /** Micro-unit components of the NORMALIZED vector: on the unit sphere
    * L2² = 2 − 2·cos, so PQ's L2-space codes rank by cosine — the metric
    * every other similarity op here uses. The norm is the same sequential
    * sum-of-squares fold as the cosine oracles (bit-identical across
    * engines); zero vectors quantize to the origin.
    */
  private def microUnits(vecCol: Column): Column = {
    val v = vecCol.cast("array<double>")
    val n = norm2(v)
    transform(v, x =>
      floor(when(n === 0.0, lit(0.0)).otherwise(x / n) * lit(1000000.0))
        .cast("long"))
  }

  /** Codebook init is RANK-stride based: rows are ranked by id
    * (`row_number` over the training frame, bounded by the train-then-
    * apply contract) and every `stride`-th RANK is picked — id-space
    * independent, so sparse or offset id spaces select exactly the same
    * centroid count as dense 0-based ones (the sf1 gate caught the old
    * `id % stride` form under-/over-picking there). The `picks.length`
    * check below is a sanity bound on the pick arithmetic, not a
    * dense-id contract.
    */
  def pqCodebook(df: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, k: Int): PqCodebook = {
    require(m > 0 && dims % m == 0, s"PQ: $m subspaces must divide $dims dims")
    val dsub = dims / m
    val base = df.select(col(idCol).cast("long").as("id"),
      microUnits(col(vecCol)).as("u"))
    val nRows = df.count()
    val stride = math.max(1L, math.ceil(nRows.toDouble / k).toLong)
    // init: subvectors of the RANK-stride-selected rows, centroid index =
    // id rank. Rank picks are id-space independent (the sf1 gate caught
    // sparse/offset ids under-/over-picking with the old id-modulus) and
    // identical to it on dense 0-based ids, so gate hashes are unchanged.
    // The rank window covers the TRAINING frame only — bounded by
    // contract (train-then-apply), like kmeansCentroids' sampleRows.
    val init: Array[Array[Array[Long]]] = {
      val picks = base
        .withColumn("rn", row_number().over(Window.orderBy(col("id"))) - 1)
        .filter(col("rn") % stride === 0)
        .select(col("id"), col("u"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1).map(_._2)
      require(picks.length > 0 && picks.length <= k,
        s"PQ: rank-stride init picked ${picks.length} of $k centroids")
      Array.tabulate(m)(j => picks.map(_.slice(j * dsub, (j + 1) * dsub)))
    }
    val kEff = init(0).length
    require(kEff > 0, "PQ: empty training frame")
    val sess = df.sparkSession
    import sess.implicits._
    val initB = sess.sparkContext.broadcast(init)
    // one Lloyd pass: per-row per-subspace nearest init centroid
    // (integer L2, tie to lowest index), emitted as (j, c, subvector) —
    // scan-local work, no per-centroid row explosion
    val assigned = base.select(col("id"), col("u")).as[(Long, Array[Long])]
      .mapPartitions { it =>
        val cs = initB.value
        it.flatMap { case (_, u) =>
          (0 until cs.length).iterator.map { j =>
            val sub = u.slice(j * (u.length / cs.length),
              (j + 1) * (u.length / cs.length))
            var best = 0; var bestD = Long.MaxValue
            var c = 0
            while (c < cs(j).length) {
              var d = 0L; var i = 0
              while (i < sub.length) {
                val t = sub(i) - cs(j)(c)(i); d += t * t; i += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            (j, best, sub)
          }
        }
      }.toDF("j", "c", "sub")
    // exact integer averages per (subspace, centroid, component)
    val sums = assigned
      .select(col("j"), col("c"), posexplode(col("sub")).as(Seq("d", "u")))
      .groupBy(col("j"), col("c"), col("d"))
      .agg(sum(col("u")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)),
        Math.floorDiv(r.getLong(3), r.getLong(4)))).toMap
    val refined = Array.tabulate(m, kEff, dsub) { (j, c, d) =>
      sums.getOrElse((j, c, d), init(j)(c)(d)) // empty cells keep init
    }
    PqCodebook(m, dsub, refined)
  }

  /** Encode every vector as `m` centroid indices — the 4×dims-bytes →
    * m-bytes compression that lets a 100-TB embedding corpus sit in
    * memory. Scan-local (broadcast codebook, no shuffle); same integer
    * argmin as training.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      book: PqCodebook): DataFrame = {
    val sess = df.sparkSession
    import sess.implicits._
    val bookB = sess.sparkContext.broadcast(book.cents)
    df.select(col(idCol).cast("long").as("id"),
        microUnits(col(vecCol)).as("u")).as[(Long, Array[Long])]
      .mapPartitions { it =>
        val cs = bookB.value
        it.map { case (id, u) =>
          val dsub = u.length / cs.length
          val codes = Array.tabulate(cs.length) { j =>
            var best = 0; var bestD = Long.MaxValue
            var c = 0
            while (c < cs(j).length) {
              var d = 0L; var i = 0
              while (i < dsub) {
                val t = u(j * dsub + i) - cs(j)(c)(i); d += t * t; i += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            best
          }
          (id, codes)
        }
      }.toDF("id", "codes")
  }

  /** PQ top-k via asymmetric distance (ADC): each query precomputes its
    * m×k table of exact integer distances to every centroid, and a corpus
    * row's approximate distance is the m-term table-lookup sum over its
    * codes — the classic trade that replaces a dims-wide dot per pair
    * with m lookups. The query tables are a broadcast-sized join table
    * ((query, j, c) rows); the corpus codes explode to m rows each for
    * the relational lookup join, then one window ranks per query
    * ((distance, neighbor_id) ascending — deterministic). Self matches
    * are excluded like [[bruteForceTopK]].
    */
  /** The two ADC relations: each query's m×k integer distance table and
    * the corpus codes exploded to (neighbor_id, j, c) rows.
    */
  private def adcQueryTables(queries: DataFrame, idCol: String,
      vecCol: String, book: PqCodebook): DataFrame = {
    val sess = queries.sparkSession
    import sess.implicits._
    val bookB = sess.sparkContext.broadcast(book.cents)
    queries.select(col(idCol).cast("long").as("query_id"),
        microUnits(col(vecCol)).as("u")).as[(Long, Array[Long])]
      .mapPartitions { it =>
        val cs = bookB.value
        it.flatMap { case (qid, u) =>
          val dsub = u.length / cs.length
          for (j <- (0 until cs.length).iterator; c <- cs(j).indices.iterator)
            yield {
              var d = 0L; var i = 0
              while (i < dsub) {
                val t = u(j * dsub + i) - cs(j)(c)(i); d += t * t; i += 1
              }
              (qid, j, c, d)
            }
        }
      }.toDF("query_id", "j", "c", "qd")
  }

  private def adcParts(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, book: PqCodebook): (DataFrame, DataFrame) = {
    val qTables = adcQueryTables(queries, idCol, vecCol, book)
    val codes = pqEncode(corpus, idCol, vecCol, book)
      .select(col("id").as("neighbor_id"),
        posexplode(col("codes")).as(Seq("j", "c")))
    (qTables, codes)
  }

  private def adcScores(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, book: PqCodebook): DataFrame = {
    val (qTables, codes) = adcParts(queries, corpus, idCol, vecCol, book)
    codes.join(broadcast(qTables), Seq("j", "c"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("qd")).as("adist"))
  }

  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, book: PqCodebook, k: Int): DataFrame = {
    val scored = adcScores(queries, corpus, idCol, vecCol, book)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adist"), col("rk"))
  }

  /** The production PQ pattern (FAISS's IVFPQ + refine): the ADC ranking
    * SHORTLISTS `shortlist` candidates per query from the compressed
    * codes alone, and exact cosine re-ranks only that shortlist — per
    * query, `shortlist` full vectors are touched instead of the corpus.
    * Deterministic end to end: the shortlist ranks by (integer adist,
    * neighbor_id), the final ranking by (rounded cosine desc,
    * neighbor_id).
    */
  def pqTopKRefined(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, book: PqCodebook, k: Int, shortlist: Int): DataFrame =
    pqRefine(adcScores(queries, corpus, idCol, vecCol, book),
      queries, corpus, idCol, vecCol, k, shortlist)

  /** IVFADC (the FAISS default composition): the IVF coarse quantizer
    * bounds WHICH corpus rows each query ADC-scores — queries probe their
    * `probes` nearest cells and only code rows in probed cells join the
    * query's table — so per-query scan work is ~probes·n/cells code rows
    * instead of n, and the flat-ADC O(n·q) pair volume becomes
    * cell-local. Same deterministic ranking; recall < 1 by cell pruning
    * exactly like [[ivfTopK]] (raise `probes` to trade time for recall).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, cents: Array[Centroid], book: PqCodebook, k: Int,
      shortlist: Int, probes: Int = 3): DataFrame = {
    def baseOf(df: DataFrame) =
      df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
    val qAssign = assignProbes(baseOf(queries), cents, probes)
      .select(col("id").as("query_id"), col("cid"))
    val cAssign = assignProbes(baseOf(corpus), cents, 1)
      .select(col("id").as("neighbor_id"), col("cid"))
    val cellCand = qAssign.join(cAssign, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    // candidate-driven ADC: the code rows fan out per ALLOWED pair only
    // (m rows each), so the join/agg volume is candidates·m, not n·q·m —
    // the pruning must happen BEFORE the lookup join, a semi-join above
    // the aggregate would score every pair first. The candidate join
    // moves PACKED m-byte code arrays (one row per corpus vector), not
    // the m-way explode — the explode happens after the join, inside the
    // same stage as the broadcast table lookup, and the groupBy's
    // map-side partial sum collapses it back to one row per pair before
    // the final exchange (stress-measured: the exploded-first shape
    // shipped ~10x the bytes at 500k vectors).
    val qTables = adcQueryTables(queries, idCol, vecCol, book)
    val packed = pqEncode(corpus, idCol, vecCol, book)
      .withColumnRenamed("id", "neighbor_id")
    val scored = cellCand.join(packed, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        posexplode(col("codes")).as(Seq("j", "c")))
      .join(broadcast(qTables), Seq("query_id", "j", "c"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("qd")).as("adist"))
    pqRefine(scored, queries, corpus, idCol, vecCol, k, shortlist)
  }

  private def pqRefine(scored: DataFrame, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      shortlist: Int): DataFrame = {
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    val short = scored.withColumn("srk", row_number().over(ws))
      .filter(col("srk") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    def base(df: DataFrame, idAs: String, vAs: String, nAs: String) =
      df.select(col(idCol).cast("long").as(idAs),
        col(vecCol).cast("array<double>").as(vAs))
        .withColumn(nAs, norm2(col(vAs)))
    // Join order keeps the corpus's full vectors SCAN-LOCAL (same lesson
    // as the fuzzy-join verification fix): `short` is bounded at
    // q·shortlist id pairs, so broadcasting it turns the corpus-side
    // exact rerank into a broadcast-hash probe on the corpus scan — a
    // sort-merge here ships every corpus vector through an exchange
    // (stress-measured ~vector-payload bytes at 500k vectors). The query
    // vectors join after, against the q·shortlist survivors only.
    val ver = base(corpus, "neighbor_id", "cv", "cn")
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(base(queries, "query_id", "qv", "qn")), Seq("query_id"))
      .withColumn("cos",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    ver.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rk"))
  }
}
