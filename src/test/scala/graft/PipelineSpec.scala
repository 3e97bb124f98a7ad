package graft

import graft.pipeline._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.SparkTuning.tune(s)
    s
  }

  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s1"),
    (2L, "the quick brown fox jumps over the lazy cat", "en", "s1"),
    (3L, "completely different content about spark engines", "en", "s1"),
    (4L, "the quick brown fox jumps over the lazy dog", "en", "s2") // exact dup of 1
  ).toDF("doc_id", "text", "lang", "source")

  test("exact dedup groups identical content") {
    val out = Dedup.exact(docs, "doc_id", md5(col("text").cast("binary")))
    assert(out.count() == 3)
    val dupRow = out.filter(col("n_dups") === 2).collect()(0)
    assert(dupRow.getLong(1) == 1L) // survivor = min id
  }

  test("incremental dedup: exact anti semantics, saturated bloom degrades safely") {
    // shard 10..13 vs corpus 1..4: shard doc 10 duplicates corpus text,
    // 11 matches nothing, 12 duplicates corpus text, 13 is new
    val corpus = Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
      (3L, "eta theta iota"), (4L, "kappa lambda mu")).toDF("doc_id", "text")
    val shard = Seq(
      (10L, "alpha beta gamma"), (11L, "nu xi omicron"),
      (12L, "kappa lambda mu"), (13L, "pi rho sigma")).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val key = TextAnalysis.contentHash(col("text"))
    // well-sized bloom
    assert(ids(Dedup.incrementalNew(shard, corpus, "doc_id", key,
      expectedNewKeys = 1024)) == Set(11L, 13L))
    // pathologically under-sized bloom (saturates: everything is "maybe")
    // must still be EXACT — it degrades to the plain anti-join
    assert(ids(Dedup.incrementalNew(shard, corpus, "doc_id", key,
      expectedNewKeys = 1, fpp = 0.5)) == Set(11L, 13L))
    // disjoint shard passes through whole
    val fresh = Seq((20L, "tau upsilon phi")).toDF("doc_id", "text")
    assert(ids(Dedup.incrementalNew(fresh, corpus, "doc_id", key)) == Set(20L))
    // payload columns survive the round trip
    val out = Dedup.incrementalNew(shard, corpus, "doc_id", key)
    assert(out.columns.toSeq == Seq("doc_id", "text"))
  }

  test("incremental NEAR-dup: shard probe == full-corpus LSH restricted " +
      "to shard×corpus pairs") {
    // corpus with internal near-dups (1≈2) and shard docs that are
    // near-dups of corpus docs (10≈1/2, 12≈4), plus a shard-internal
    // near-dup pair (10≈11) the probe must NOT report — only
    // shard×corpus pairs are its contract
    def d(s: String) = s
    val corpus = Seq(
      (1L, d("the quick brown fox jumps over the lazy dog tonight")),
      (2L, d("the quick brown fox jumps over the lazy dog today")),
      (3L, d("completely different content about spark engines here")),
      (4L, d("structured streaming state stores commit logs watermark")))
      .toDF("doc_id", "text")
    val shard = Seq(
      (10L, d("the quick brown fox jumps over the lazy dog tonight")),
      (11L, d("the quick brown fox jumps over the lazy dog tonight yes")),
      (12L, d("structured streaming state stores commit logs watermarks")),
      (13L, d("nothing like anything else in any corpus at all")))
      .toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(corpus, "doc_id", col("text"))
    val got = Dedup.incrementalNearNew(shard, idx, col("text"))
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    // the reference: run the FULL batch pipeline over shard ∪ corpus and
    // keep only the cross pairs — the equivalence the driver row's
    // oracle gates at corpus scale
    val allPairs: Set[(Long, Long)] = Dedup.minhashNearDups(
        shard.union(corpus), "doc_id", col("text"), cacheShingles = false)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = allPairs
      .filter { case (a, b) => (a >= 10L) != (b >= 10L) }
      .map { case (a, b) => if (a >= 10L) (a, b) else (b, a) }
    assert(got == want)
    assert(got.nonEmpty) // the gate bites: real near-dups exist
    assert(!got.exists { case (a, b) => a == b })
    // a saturated bloom must stay EXACT (degrades to the plain band join)
    val gotSat = Dedup.incrementalNearNew(shard, idx, col("text"),
      expectedShardBands = 1, fpp = 0.5)
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    assert(gotSat == want)
    // a shard doc present in the corpus under the SAME id is not its own
    // near-dup — the self-pair is dropped, true near-dups still surface
    val gotSelf = Dedup.incrementalNearNew(
      corpus.filter(col("doc_id") === 1L), idx, col("text"))
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    assert(!gotSelf.contains((1L, 1L)) && gotSelf.contains((1L, 2L)))
  }

  test("fuzzy join == brute-force R-S jaccard, hot shingles notwithstanding") {
    // every doc shares a hot boilerplate prefix (the stop-word-class keys
    // the prefix filter must suffix-exclude); uniqueness lives in the tail
    def doc(tail: String) = s"terms of service apply here $tail"
    val probes = Seq(
      (1L, doc("alpha beta gamma delta")),
      (2L, doc("epsilon zeta eta theta")),
      (3L, doc("iota kappa lambda mu"))).toDF("doc_id", "text")
    val refs = Seq(
      (10L, doc("alpha beta gamma delta")),        // exact tail dup of 1
      (11L, doc("alpha beta gamma DELTA extra")),  // near-dup of 1
      (12L, doc("nu xi omicron pi")),              // boilerplate-only overlap
      (13L, doc("iota kappa lambda mu"))           // exact tail dup of 3
    ).toDF("doc_id", "text")
    for (th <- Seq(0.3, 0.5, 0.8)) {
      val got = Dedup.jaccardJoin(probes, refs, "doc_id", col("text"),
          shingleLen = 3, threshold = th)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      // brute force: all pairs, exact jaccard over distinct 3-gram sets
      def sh(s: String): Set[String] = {
        val t = s.trim.toLowerCase.split("\\s+")
        (0 to t.length - 3).map(i => t.slice(i, i + 3).mkString(" ")).toSet
      }
      val want = (for {
        p <- probes.collect(); r <- refs.collect()
        a = sh(p.getString(1)); b = sh(r.getString(1))
        ni = (a & b).size
        j = ni.toDouble / (a.size + b.size - ni)
        if j >= th
      } yield (p.getLong(0), r.getLong(0)) -> j).toMap
      assert(got == want, s"threshold $th")
      if (th == 0.3) {
        // the gate separates structure: dups and near-dups link, the
        // boilerplate-only pair does not
        assert(got.contains((1L, 10L)) && got.contains((3L, 13L)))
        assert(got.contains((1L, 11L)))
        assert(!got.keySet.exists(_._2 == 12L))
      }
    }
    // tiny thresholds are rejected, not silently quadratic
    intercept[IllegalArgumentException] {
      Dedup.jaccardJoin(probes, refs, "doc_id", col("text"), 3, 0.01)
    }
  }

  test("minhash LSH finds the near-dup pair and the exact-dup pair") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", col("text"),
      shingleLen = 2, k = 16, rowsPerBand = 2, threshold = 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical docs always collide
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccard of identical docs is 1.0") {
    val sh = Dedup.shingles(docs, "doc_id", col("text"), 2)
    val pairs = Seq((1L, 4L)).toDF("id_a", "id_b")
    val j = Dedup.jaccardForPairs(pairs, sh, "doc_id")
      .select("jaccard").collect()(0).getDouble(0)
    assert(j == 1.0)
  }

  test("ngram-Jaccard prefix filter: exact results, hot-shingle candidates gone") {
    // 30 docs all sharing one boilerplate phrase (a hot-shingle block that an
    // unfiltered inverted index turns into all-pairs candidates) + one true
    // near-dup pair that must survive
    val base = (1 to 30).map(i => (i.toLong,
      s"shared boilerplate header line unique$i token$i body$i words$i", "en", "s1"))
    val dups = Seq(
      (31L, "an actual duplicated document body with many words kept equal", "en", "s1"),
      (32L, "an actual duplicated document body with many words kept equal", "en", "s1"))
    val corpus = (base ++ dups).toDF("doc_id", "text", "lang", "source")
    val t = 0.5
    val sh = Dedup.shingles(corpus, "doc_id", col("text"), 2)
    def candCount(idx: org.apache.spark.sql.DataFrame): Long =
      idx.select(col("doc_id").as("id_a"), col("shingle"))
        .join(idx.select(col("doc_id").as("id_b"), col("shingle")), "shingle")
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct().count()
    val fullCands = candCount(sh)
    val prefCands = candCount(Dedup.jaccardPrefix(sh, "doc_id", t))
    // the boilerplate shingles pair up every doc in the full index…
    assert(fullCands >= 435, s"fixture not hot enough: $fullCands")
    // …but sit in every doc's excluded suffix under the prefix filter
    assert(prefCands <= 5, s"prefix filter ineffective: $prefCands")
    // exactness: prefix-filtered output == unfiltered Jaccard over ALL pairs
    val out = Dedup.ngramJaccardNearDups(corpus, "doc_id", col("text"),
      blockCols = Seq("lang", "source"), shingleLen = 2, threshold = t)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ids = corpus.select("doc_id").collect().map(_.getLong(0))
    val allPairs = (for { a <- ids; b <- ids if a < b } yield (a, b))
      .toSeq.toDF("id_a", "id_b")
    val brute = Dedup.jaccardForPairs(allPairs, sh, "doc_id")
      .filter(col("jaccard") >= t)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == brute)
    assert(out.exists(p => p._1 == 31L && p._2 == 32L && p._3 == 1.0))
    // below the cutoff the count-based plan runs — same answer as brute force
    val lowT = 0.05
    val outLow = Dedup.ngramJaccardNearDups(corpus, "doc_id", col("text"),
      blockCols = Seq("lang", "source"), shingleLen = 2, threshold = lowT)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bruteLow = Dedup.jaccardForPairs(allPairs, sh, "doc_id")
      .filter(col("jaccard") >= lowT)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(outLow == bruteLow)
  }

  test("connected components: pair chains resolve to min-label clusters") {
    val pairs = (Seq((2L, 1L), (2L, 3L), (4L, 5L)) ++
      (10L until 18L).map(n => (n, n + 1))) // 9-node chain: multi-round case
      .toDF("id_a", "id_b")
    // both execution paths must agree: driver union-find (default gate)
    // and the distributed min-label iteration (gate forced to 0)
    for (limit <- Seq(4L << 20, 0L)) {
      val out = Dedup.connectedComponents(pairs, driverEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Seq(1L, 2L, 3L).forall(out(_) == 1L), s"limit=$limit")
      assert(out(4L) == 4L && out(5L) == 4L, s"limit=$limit")
      for (n <- 10L to 18L) assert(out(n) == 10L, s"node $n limit=$limit")
      assert(out.size == 14, s"limit=$limit")
    }
  }

  test("survivors: corpus keeps exactly one representative per dup cluster") {
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("id_a", "id_b")
    val kept = Dedup.survivors(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L)) // 2 and 4 fold into cluster 1; 3 untouched
  }

  test("pii redaction scrubs every class; counts match; plain text untouched") {
    val rows = Seq(
      (1L, "mail bob.smith+x@corp.example.org or carol@ex.io now"),
      (2L, "call +1 (415) 555-0100 about host 192.168.1.77 please"),
      (3L, "ssn 123-45-6789 leaked"),
      (4L, "no pii here at all")).toDF("id", "t")
    val out = rows.select(col("id"),
        TextAnalysis.redactPii(col("t")).as("r"),
        TextAnalysis.piiCount(col("t"), TextAnalysis.piiPatterns.head._1).as("ne"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(out(1L)._1 == "mail <EMAIL> or <EMAIL> now" && out(1L)._2 == 2)
    assert(out(2L)._1 == "call <PHONE> about host <IP> please")
    assert(out(3L)._1 == "ssn <SSN> leaked")
    assert(out(4L)._1 == "no pii here at all" && out(4L)._2 == 0)
  }

  test("hash split: deterministic, exhaustive, near-target proportions") {
    val ids = (0L until 2000L).toDF("id")
    val split = Sampling.splitColumn(col("id"), "s42",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = ids.select(split.as("s")).groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000) // every row assigned exactly one split
    assert(counts("train") > 1500 && counts("val") > 120 && counts("test") > 120)
    // re-run assigns identically (pure function of id, no RNG state)
    val twice = ids.select(col("id"), split.as("a")).join(
      ids.select(col("id"), split.as("b")), "id")
    assert(twice.filter(col("a") =!= col("b")).count() == 0)
  }

  test("stratified exact sample: ceil(frac*n) rows per stratum, stable") {
    val rows = (0L until 300L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("id", "lang")
    val out = Sampling.stratifiedExact(rows, "id", Seq("lang"), 0.25, "s7")
    val per = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(per("en") == 25 && per("de") == 50) // ceil(100*.25), ceil(200*.25)
    // growing a stratum keeps prior members until the quota boundary moves:
    // the 25 chosen "en" ids are the hash-smallest — a strict subset rule
    val again = Sampling.stratifiedExact(rows, "id", Seq("lang"), 0.25, "s7")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("stratifiedSampleK: heap selection == the window form at quota k") {
    val rows = (0L until 300L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("id", "lang")
    val heap = Sampling.stratifiedSampleK(rows, "id", Seq("lang"), 7, "s7")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // reference: per-stratum (hashRank, id) order through the window
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(Sampling.hashRank(col("id"), "s7"), col("id"))
    val win = rows.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 7).select("lang", "rank", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(heap == win)
    // quota exceeding a stratum returns the whole stratum, still ranked
    val all = Sampling.stratifiedSampleK(rows, "id", Seq("lang"), 500, "s7")
    assert(all.count() == 300)
    // non-integral ids refuse loudly (they cannot ride the heap's id slot)
    val ex = intercept[IllegalArgumentException] {
      Sampling.stratifiedSampleK(rows.withColumn("id", col("id").cast("string")),
        "id", Seq("lang"), 5, "s7")
    }
    assert(ex.getMessage.contains("integral"))
  }

  test("scoreQuotaK: top-k by (score desc, id asc) per stratum, exact ties") {
    val rows = Seq(
      (1L, "a", 900L), (2L, "a", 900L), (3L, "a", 100L), (4L, "a", 500L),
      (5L, "b", 300L), (6L, "b", 300L), (7L, "b", 300L))
      .toDF("id", "grp", "sc")
    val out = Sampling.scoreQuotaK(rows, "id", col("sc"), Seq("grp"), 2)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    // grp a: the two 900s, id asc breaks the tie; grp b: all tie at 300 —
    // ids 5, 6 win
    assert(out.toSeq == Seq(
      ("a", 1L, 1L, 900.0), ("a", 2L, 2L, 900.0),
      ("b", 1L, 5L, 300.0), ("b", 2L, 6L, 300.0)))
    // unrankable rows (null id / null score) are excluded before the
    // heap (the TopKAgg null contract) — never silently ranked as 0
    val withNulls = Seq(
      (Some(1L), "a", Some(900L)), (None, "a", Some(999L)),
      (Some(3L), "a", None), (Some(4L), "a", Some(500L)))
      .toDF("id", "grp", "sc")
    val kept = Sampling.scoreQuotaK(withNulls, "id", col("sc"), Seq("grp"), 9)
      .collect().map(_.getLong(2)).toSet
    assert(kept == Set(1L, 4L))
  }

  test("decontamination: leaked eval doc scores 1.0, fresh doc scores low") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // verbatim leak
      (11L, "totally novel material never seen anywhere")).toDF("doc_id", "text")
    val out = Dedup.ngramContainment(train, eval, "doc_id", col("text"), n = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(10L) == 1.0)
    assert(out(11L) == 0.0)
  }

  test("int8 quantization: codes bounded, reconstruction within half-scale") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)) // zero vector: scale falls to 1.0
    ).toDF("vec_id", "embedding")
    val q = vecs.withColumn("_s", Similarity.int8Scale(col("embedding")))
      .withColumn("_q", Similarity.int8Codes(col("embedding"), col("_s")))
      .withColumn("_r", Similarity.int8Dequantize(col("_q"), col("_s")))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getSeq[Long](3), r.getSeq[Double](4)))).toMap
    val (s1, c1, r1) = q(1L)
    assert(c1.forall(c => c >= -127 && c <= 127) && c1(1) == -127L)
    val orig = Seq(0.5, -1.0, 0.25, 0.0)
    r1.zip(orig).foreach { case (rec, o) => assert(math.abs(rec - o) <= s1 / 2) }
    val (s2, c2, _) = q(2L)
    assert(s2 == 1.0 && c2.forall(_ == 0L))
  }

  test("chunking: overlapping windows cover every token, short docs intact") {
    val d = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c")).toDF("doc_id", "text")
    val out = Chunking.chunkDocs(d, "doc_id", col("text"), window = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    // doc 1: starts 0,3,6 cover ceil((10-4)/3)+1 = 3 chunks; last is short
    assert(out((1L, 0L)) == "w1 w2 w3 w4")
    assert(out((1L, 1L)) == "w4 w5 w6 w7")
    assert(out((1L, 2L)) == "w7 w8 w9 w10")
    assert(out((2L, 0L)) == "a b c" && out.size == 4)
    // stride-3/window-4: consecutive chunks overlap by exactly one token
  }

  test("sequence packing: distributed prefix sum == global cumsum semantics") {
    val rows = (0L until 100L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    // token counts are all 1 (single token docs) → bin = floor(idx/7)
    val out = Sampling.packSequences(rows, "doc_id", lit(1), budget = 7,
      nBuckets = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    for (i <- 0L until 100L)
      assert(out(i) == (i / 7, i % 7), s"doc $i")
    // varying lengths, compared against an in-memory serial fill
    val lens = (0L until 50L).map(i => (i, (i % 13 + 1).toInt))
    val df2 = lens.toDF("doc_id", "n")
    val got = Sampling.packSequences(df2, "doc_id", col("n"), budget = 20,
      nBuckets = 4).collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    var cum = 0L
    lens.foreach { case (id, n) =>
      assert(got(id) == (cum / 20, cum % 20), s"doc $id")
      cum += n
    }
    // an empty corpus (everything gated away upstream) packs to an empty
    // frame with the contract schema — the max-id probe must not throw on
    // its null aggregate row (found by the sf1 workload, r11)
    val empty = Sampling.packSequences(
      rows.filter(lit(false)), "doc_id", lit(1), budget = 7, nBuckets = 8)
    assert(empty.columns.toSeq ==
      Seq("doc_id", "n_tok", "bin", "offset_in_bin") && empty.count() == 0)
  }

  test("ANN over int8-dequantized vectors preserves exact top-k (recall)") {
    // deterministic synthetic corpus: 4 well-separated direction clusters
    // with small per-vector jitter — quantization noise (≤ scale/2 per
    // component) must not reorder neighbors across clusters
    val dims = 16
    def vec(cluster: Int, j: Int): Array[Float] = {
      val v = Array.fill(dims)(0.05f * ((cluster * 7 + j * 3) % 5 - 2))
      v(cluster) = 1.0f
      v(cluster + 4) = 0.5f
      v
    }
    val rows = for { c <- 0 until 4; j <- 0 until 10 }
      yield ((c * 10 + j).toLong, vec(c, j), c)
    val df = rows.toDF("vec_id", "embedding", "label")
    val deq = df
      .withColumn("_s", Similarity.int8Scale(col("embedding")))
      .withColumn("embedding", Similarity.int8Dequantize(
        Similarity.int8Codes(col("embedding"), col("_s")), col("_s"))
        .cast("array<float>"))
      .drop("_s")
    val queries = df.filter(col("vec_id") % 10 === 0)
    def topk(corpus: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, xs) => q -> xs.map(_._2).toSet }
    val exact = topk(df)
    val quant = topk(deq)
    val recall = exact.keys.toSeq.map(q =>
      (exact(q) intersect quant(q)).size.toDouble / 3).sum / exact.size
    assert(recall >= 0.9, s"recall@3 over quantized corpus = $recall")
  }

  test("simhash: identical docs share signatures; near-dups are close") {
    val sigs = Dedup.simhash64(docs, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs(1L) == sigs(4L))
    assert(sigs.values.forall(_.length == 64))
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
  }

  test("brute-force ANN ranks the most similar vector first") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0),
      (4L, Array(-1.0f, 0.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(vecs.filter(col("vec_id") === 1),
      vecs, "vec_id", "embedding", k = 2).collect()
    assert(top(0).getLong(1) == 2L) // nearest
    assert(top.length == 2)
  }

  test("LSH band-OR candidate volume is sub-quadratic on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val planes = Planes.hyperplanes(16, 64, "graft-lsh")
    val cand = Similarity.lshCandidates(emb, "vec_id", "embedding", planes, 4).count()
    info(s"n=$n directed-candidate-pairs=$cand of ${n * (n - 1)} all-pairs")
    assert(cand > 0 && cand < n * (n - 1) / 2)
  }

  test("IVF near-dup prefilter always finds a planted exact duplicate") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dup = emb.filter(col("vec_id") === 0).withColumn("vec_id", lit(9999L))
    val out = Similarity.ivfNearDups(emb.unionByName(dup), "vec_id", "embedding",
      threshold = 0.99, numCentroids = 50, probes = 2).collect()
    assert(out.exists(r => r.getLong(0) == 0L && r.getLong(1) == 9999L))
  }

  test("IVF candidate volume is sub-quadratic and the quantizer is fixed-size") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val cents = Similarity.strideCentroids(emb, "vec_id", "embedding", 16)
    assert(cents.length <= 16 + 1) // k regardless of corpus size (±ceil slack)
    val assign = Similarity.ivfNearDupsWith(emb, "vec_id", "embedding", cents,
      threshold = -1.0, probes = 3) // threshold -1 keeps every candidate pair
    val cand = assign.count()
    info(s"n=$n ivf-candidate-pairs=$cand of ${n * (n - 1) / 2} all-pairs")
    assert(cand > 0 && cand < n * (n - 1) / 2)
  }

  test("IVF top-k recalls most brute-force neighbors at a fraction of the scan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val cents = Similarity.strideCentroids(emb, "vec_id", "embedding", 16)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3))
    val ivf = pairs(Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
      cents, k = 3, probes = 8))
    val recall = (exact intersect ivf).size.toDouble / exact.size
    info(f"IVF recall@3 = $recall%.2f (${ivf.size} returned)")
    assert(recall >= 0.5, s"recall $recall too low")
    assert(ivf.nonEmpty && ivf.forall { case (q, n) => q != n })
  }

  test("PQ: codes compress to m indices, Lloyd refines, ADC recalls neighbors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val book = Similarity.pqCodebook(emb, "vec_id", "embedding",
      dims = 64, m = 16, k = 32)
    assert(book.m == 16 && book.dsub == 4)
    assert(book.cents.forall(_.forall(_.length == 4)))
    // determinism: training twice yields the identical codebook
    val book2 = Similarity.pqCodebook(emb, "vec_id", "embedding",
      dims = 64, m = 16, k = 32)
    assert(book.cents.flatten.flatten.toSeq == book2.cents.flatten.flatten.toSeq)
    // id-space independence (the sf1-gate find): RANK-based stride picks
    // make sparse/offset ids train the IDENTICAL codebook as dense ids —
    // rank order is preserved under any monotone id remap
    val sparse = emb.withColumn("vec_id", col("vec_id") * 100 + 7)
    val book3 = Similarity.pqCodebook(sparse, "vec_id", "embedding",
      dims = 64, m = 16, k = 32)
    assert(book.cents.flatten.flatten.toSeq == book3.cents.flatten.flatten.toSeq,
      "sparse ids must train the same codebook as dense ids")
    // codes are m per-subspace indices within range — the 4·dims bytes →
    // m bytes compression that makes a 100-TB embedding corpus memory-scale
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", book)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(codes.nonEmpty && codes.forall(_._2.length == 16))
    assert(codes.forall(_._2.forall(c => c >= 0 && c < book.cents(0).length)))
    val queries = emb.filter(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3))
    // pure ADC ranks by code distance alone — lossy on these near-random
    // synthetic embeddings (true neighbors at cos ~0.34 against a 0.0
    // median barely clear the quantization noise)...
    val adc = pairs(Similarity.pqTopK(queries, emb, "vec_id", "embedding", book, k = 3))
    val adcRecall = (exact intersect adc).size.toDouble / exact.size
    info(f"pure-ADC recall@3 = $adcRecall%.2f")
    assert(adc.nonEmpty && adc.forall { case (q, n) => q != n })
    // ...which is exactly why the production shape is shortlist + exact
    // re-rank: 25 candidates from the codes, cosine re-ranks to 3
    val pq = pairs(Similarity.pqTopKRefined(queries, emb, "vec_id",
      "embedding", book, k = 3, shortlist = 25))
    val recall = (exact intersect pq).size.toDouble / exact.size
    info(f"PQ-refine recall@3 = $recall%.2f (${pq.size} returned)")
    assert(recall >= 0.6, s"refined recall $recall too low")
    assert(recall > adcRecall, "re-ranking must improve on raw ADC order")

    // IVFADC: probing EVERY cell makes the coarse filter a no-op — the
    // composition must then equal plain PQ-refine exactly; pruned probes
    // stay a subset-quality result
    val cents = Similarity.strideCentroids(emb, "vec_id", "embedding", 16)
    def full(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val allProbes = full(Similarity.ivfPqTopK(queries, emb, "vec_id",
      "embedding", cents, book, k = 3, shortlist = 25, probes = cents.length))
    val plain = full(Similarity.pqTopKRefined(queries, emb, "vec_id",
      "embedding", book, k = 3, shortlist = 25))
    assert(allProbes == plain, "all-cells IVFADC must equal flat PQ-refine")
    val pruned = pairs(Similarity.ivfPqTopK(queries, emb, "vec_id",
      "embedding", cents, book, k = 3, shortlist = 25, probes = 4))
    val prunedRecall = (exact intersect pruned).size.toDouble / exact.size
    info(f"IVFADC(4/16 cells) recall@3 = $prunedRecall%.2f")
    assert(pruned.nonEmpty && prunedRecall >= 0.3)
  }

  test("KMeans quantizer returns exactly k centroids and finds planted dups") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(emb, "embedding", k = 8,
      sampleRows = 200)
    assert(cents.length == 8)
    assert(cents.map(_._1).toSet == (0L until 8L).toSet)
    val dup = emb.filter(col("vec_id") === 0).withColumn("vec_id", lit(9999L))
    val out = Similarity.ivfNearDupsWith(emb.unionByName(dup), "vec_id",
      "embedding", cents, threshold = 0.99, probes = 2).collect()
    assert(out.exists(r => r.getLong(0) == 0L && r.getLong(1) == 9999L))
  }

  test("semdedup keeps one representative per semantic group") {
    // ids 1-3 point the same way (scaled copies + tiny noise = one
    // semantic group), 10 and 20 are orthogonal singletons
    def vec(scale: Double, eps: Double): Array[Double] =
      Array(1.0 * scale, 2.0 * scale + eps, 3.0 * scale) ++ Array.fill(61)(0.0)
    val rows = Seq(
      (1L, vec(1.0, 0.0)), (2L, vec(2.0, 0.0)), (3L, vec(1.0, 0.01)),
      (10L, Array.fill(64)(0.0).updated(10, 5.0)),
      (20L, Array.fill(64)(0.0).updated(20, 7.0)))
    val df = rows.toDF("vec_id", "embedding")
    val surv = Similarity.semDedupSurvivors(df, "vec_id", "embedding",
        threshold = 0.9, numCentroids = 2, probes = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 10L, 20L), surv) // min id of the group survives
  }

  test("topk_revenue-style join never broadcasts a side above the size cap") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val rev = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice")).as("rev"))
    def planOf(capBytes: Long) = rev
      .join(graft.core.Joins.maybeBroadcast(orders, capBytes),
        col("l_orderkey") === col("o_orderkey"))
      .queryExecution.executedPlan.toString
    // Above the cap: no broadcast hint → with autoBroadcast disabled the
    // data-sized side must NOT appear under a BroadcastExchange.
    val auto = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(auto)
    try {
      spark.conf.set(auto, "-1")
      assert(!planOf(1L).contains("BroadcastExchange"))
      assert(planOf(Long.MaxValue).contains("BroadcastExchange"))
    } finally spark.conf.set(auto, prev)
  }

  test("lang_id picks marker-majority language, unknown when no hits") {
    val df = Seq(
      (1L, "der hund und die katze ist da"),
      (2L, "the cat of the house is a friend"),
      (3L, "xyz qqq zzz")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.langId(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "de" && out(2L) == "en" && out(3L) == "unknown")
  }

  test("multimodal REAL image decode + resize through the JDK codec") {
    import spark.implicits._
    // fixture: a 64×32 PNG with known flat color, encoded by ImageIO itself
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val blobs = Seq(
      Multimodal.Blob(1L, png(64, 32, 0xffffff)), // white
      Multimodal.Blob(2L, png(10, 10, 0x000000)), // black, below maxDim
      Multimodal.Blob(3L, "not an image".getBytes("UTF-8"))).toDS()

    val feats = Multimodal.imageFeatures(blobs).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats(1L).ok && feats(1L).width == 64 && feats(1L).height == 32)
    assert(math.abs(feats(1L).mean_luma - 255.0) < 0.5) // white ≈ 255
    assert(feats(2L).ok && math.abs(feats(2L).mean_luma) < 0.5)
    assert(!feats(3L).ok) // undecodable → flagged, not dropped

    val resized = Multimodal.resizeImages(blobs, maxDim = 16).collect()
      .map(b => b.doc_id -> b.blob).toMap
    val r1 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized(1L)))
    assert(r1.getWidth == 16 && r1.getHeight == 8) // aspect preserved
    assert(resized(2L).sameElements(blobs.collect()(1).blob)) // no upscale
    assert(resized(3L).sameElements("not an image".getBytes("UTF-8")))
  }

  test("multimodal REAL audio decode: WAV through javax.sound.sampled") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 0.5 s of a 440 Hz sine at amplitude 0.5, 16-bit mono PCM, 8 kHz
    val (rate, nFrames, amp) = (8000f, 4000, 0.5)
    val pcm = new Array[Byte](nFrames * 2)
    for (i <- 0 until nFrames) {
      val s = (amp * math.sin(2 * math.Pi * 440.0 * i / rate) * 32767).round.toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, nFrames),
      AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val blobs = spark.createDataset(Seq(
      Multimodal.Blob(1L, wav),
      Multimodal.Blob(2L, Array[Byte](1, 2, 3, 4)) // junk → ok=false
    ))(org.apache.spark.sql.Encoders.product[Multimodal.Blob])
    val out = Multimodal.audioFeatures(blobs).collect().map(f => f.doc_id -> f).toMap
    val a = out(1L)
    assert(a.ok && a.channels == 1 && a.bits == 16)
    assert(a.sample_rate == 8000.0 && a.n_frames == nFrames && a.duration_s == 0.5)
    assert(math.abs(a.rms - amp / math.sqrt(2)) < 0.01, a.rms) // sine RMS = A/√2
    assert(math.abs(a.peak - amp) < 0.01, a.peak)
    assert(!out(2L).ok)
  }

  test("multimodal frame sampling expands blobs into typed frame rows") {
    import spark.implicits._
    val blobs = docs.withColumn("blob", col("text").cast("binary"))
      .select(col("doc_id"), col("blob"))
      .as[Multimodal.Blob](org.apache.spark.sql.Encoders.product[Multimodal.Blob])
    val frames = Multimodal.frameSampleStub(blobs, everyNth = 2).collect()
    // deterministic: identical bytes → identical frame sets (docs 1 and 4)
    val byDoc = frames.groupBy(_.doc_id)
    assert(byDoc(1L).map(f => (f.frame_idx, f.frame.toSeq)).toSet ==
      byDoc(4L).map(f => (f.frame_idx, f.frame.toSeq)).toSet)
    // stride honored and timestamps follow the frame clock
    assert(frames.forall(f => f.frame_idx % 2 == 0 && f.ts_ms == f.frame_idx * 40L))
    assert(frames.nonEmpty)
  }

  test("multimodal REAL mp4 container parse: duration, tracks, codecs, size") {
    import java.nio.ByteBuffer
    def box(t: String, payload: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length).put(t.getBytes("US-ASCII")).put(payload)
      b.array()
    }
    def full(version: Int, body: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(4 + body.length)
      b.putInt(version << 24).put(body) // version byte + zero flags
      b.array()
    }
    val mvhd = box("mvhd", full(0, {
      val b = ByteBuffer.allocate(96)
      b.putInt(0).putInt(0)           // ctime, mtime
      b.putInt(1000).putInt(5000)     // timescale, duration -> 5.0 s
      b.array()                       // rest zeros (rate/vol/matrix/next)
    }))
    val tkhdV = box("tkhd", full(0, {
      val b = ByteBuffer.allocate(80)
      b.position(72)                  // up to matrix end
      b.putInt(640 << 16).putInt(360 << 16) // width, height 16.16
      b.array()
    }))
    def hdlr(kind: String) = box("hdlr", full(0, {
      val b = ByteBuffer.allocate(20)
      b.putInt(0).put(kind.getBytes("US-ASCII"))
      b.array()
    }))
    def stsd(fcc: String) = box("stsd", full(0, {
      val entry = ByteBuffer.allocate(16)
        .putInt(16).put(fcc.getBytes("US-ASCII")).array()
      ByteBuffer.allocate(4 + entry.length).putInt(1).put(entry).array()
    }))
    val mdhd = box("mdhd", full(0, {
      val b = ByteBuffer.allocate(20)
      b.putInt(0).putInt(0).putInt(10).putInt(20) // timescale 10, dur 20
      b.array()
    }))
    // 4 samples: sizes 3,4,5,6; 2 samples/chunk; deltas of 5 ticks at
    // timescale 10 -> presentation ts 0, 500, 1000, 1500 ms
    val sizes = Seq(3, 4, 5, 6)
    val stsz = box("stsz", full(0, {
      val b = ByteBuffer.allocate(8 + 4 * sizes.length)
      b.putInt(0).putInt(sizes.length); sizes.foreach(b.putInt); b.array()
    }))
    val stsc = box("stsc", full(0,
      ByteBuffer.allocate(16).putInt(1).putInt(1).putInt(2).putInt(1).array()))
    val stts = box("stts", full(0,
      ByteBuffer.allocate(12).putInt(1).putInt(4).putInt(5).array()))
    def stco(off: Int) = box("stco", full(0,
      ByteBuffer.allocate(12).putInt(2).putInt(off).putInt(off + 7).array()))
    def trak(kind: String, fcc: String, video: Boolean, mdatOff: Int) = {
      val stbl = box("stbl", stsd(fcc) ++ (if (video)
        stsz ++ stsc ++ stts ++ stco(mdatOff) else Array.empty[Byte]))
      val minf = box("minf", stbl)
      val mdia = box("mdia", hdlr(kind) ++ (if (video) mdhd
        else Array.empty[Byte]) ++ minf)
      box("trak", (if (video) tkhdV else Array.empty[Byte]) ++ mdia)
    }
    def mkMoov(mdatOff: Int) = box("moov",
      mvhd ++ trak("vide", "avc1", video = true, mdatOff) ++
        trak("soun", "mp4a", video = false, 0))
    val ftyp = box("ftyp", "isomiso2".getBytes("US-ASCII"))
    val mdatPayload = Array.tabulate[Byte](18)(i => (i + 1).toByte)
    val mdatOff = ftyp.length + mkMoov(0).length + 8 // same length any offset
    val mp4 = ftyp ++ mkMoov(mdatOff) ++ box("mdat", mdatPayload)
    val blobs = spark.createDataset(Seq(Multimodal.Blob(1L, mp4),
      Multimodal.Blob(2L, "not a video at all".getBytes("UTF-8"))))(
      org.apache.spark.sql.Encoders.product[Multimodal.Blob])
    val out = Multimodal.videoMeta(blobs).collect().map(v => v.doc_id -> v).toMap
    val v = out(1L)
    assert(v.ok && v.brand == "isom" && v.duration_s == 5.0)
    assert(v.n_tracks == 2 && v.video_codec == "avc1" && v.audio_codec == "mp4a")
    assert(v.width == 640 && v.height == 360)
    assert(!out(2L).ok)
    // REAL demux: every 2nd encoded sample with its bytes and timestamp
    val frames = Multimodal.videoFrames(blobs, everyNth = 2).collect()
      .map(f => f.frame_idx -> f).toMap
    assert(frames.keySet == Set(0, 2))
    assert(frames(0).ts_ms == 0L && frames(2).ts_ms == 1000L)
    assert(frames(0).frame.toSeq == mdatPayload.slice(0, 3).toSeq)   // chunk 1
    assert(frames(2).frame.toSeq == mdatPayload.slice(7, 12).toSeq)  // chunk 2
  }

  test("demuxed frames compose with frame-level exact dedup") {
    // two copies of the same mp4 -> their demuxed encoded samples are
    // byte-identical, so frame-level exact dedup collapses them: the
    // frames-as-rows contract, end to end on REAL demux output
    import java.nio.ByteBuffer
    def box(t: String, payload: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length).put(t.getBytes("US-ASCII")).put(payload)
      b.array()
    }
    def full(body: Array[Byte]): Array[Byte] =
      ByteBuffer.allocate(4 + body.length).putInt(0).put(body).array()
    val stsd = box("stsd", full(ByteBuffer.allocate(20).putInt(1)
      .putInt(16).put("avc1".getBytes("US-ASCII")).array()))
    val mdhd = box("mdhd", full(
      ByteBuffer.allocate(20).putInt(0).putInt(0).putInt(10).putInt(10).array()))
    val stsz = box("stsz", full(
      ByteBuffer.allocate(16).putInt(0).putInt(2).putInt(4).putInt(4).array()))
    val stsc = box("stsc", full(
      ByteBuffer.allocate(16).putInt(1).putInt(1).putInt(2).putInt(1).array()))
    val stts = box("stts", full(
      ByteBuffer.allocate(12).putInt(1).putInt(2).putInt(5).array()))
    def mkMoov(off: Int) = box("moov", box("trak", box("mdia",
      box("hdlr", full(ByteBuffer.allocate(20).putInt(0)
        .put("vide".getBytes("US-ASCII")).array())) ++ mdhd ++
        box("minf", box("stbl", stsd ++ stsz ++ stsc ++ stts ++
          box("stco", full(ByteBuffer.allocate(8).putInt(1).putInt(off).array())))))))
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII"))
    val off = ftyp.length + mkMoov(0).length + 8
    val mp4 = ftyp ++ mkMoov(off) ++
      box("mdat", Array.tabulate[Byte](8)(i => (i * 3).toByte))
    val blobs = spark.createDataset(Seq(
      Multimodal.Blob(1L, mp4), Multimodal.Blob(2L, mp4)))(
      org.apache.spark.sql.Encoders.product[Multimodal.Blob])
    val frames = Multimodal.videoFrames(blobs, everyNth = 1)
      .select(col("doc_id"), col("frame_idx"), col("frame"))
    assert(frames.count() == 4) // 2 docs x 2 samples
    val dedup = Dedup.exact(frames, "doc_id", md5(col("frame")))
    // both samples are distinct within a doc, duplicated across docs
    assert(dedup.count() == 2)
    assert(dedup.collect().forall(r => r.getLong(2) == 2L))
  }

  test("REAL MJPEG frame decode: demuxed access units yield pixel stats") {
    // MJPEG-in-MP4: each access unit IS a complete JPEG, so the demuxed
    // samples must decode to real luma stats through the JDK codec —
    // gray (~128) and white (~255) solid frames, JPEG-lossy tolerance.
    // The same tables under an 'avc1' entry must yield ok=false rows.
    import java.nio.ByteBuffer
    def box(t: String, payload: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length).put(t.getBytes("US-ASCII")).put(payload)
      b.array()
    }
    def full(body: Array[Byte]): Array[Byte] =
      ByteBuffer.allocate(4 + body.length).putInt(0).put(body).array()
    def jpegBytes(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, 8, 6); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val f0 = jpegBytes(0x808080) // gray -> luma ~128
    val f1 = jpegBytes(0xffffff) // white -> luma ~255
    def mkMp4(fcc: String): Array[Byte] = {
      val stsd = box("stsd", full(ByteBuffer.allocate(20).putInt(1)
        .putInt(16).put(fcc.getBytes("US-ASCII")).array()))
      val mdhd = box("mdhd", full(ByteBuffer.allocate(20)
        .putInt(0).putInt(0).putInt(10).putInt(10).array()))
      val stsz = box("stsz", full(ByteBuffer.allocate(16)
        .putInt(0).putInt(2).putInt(f0.length).putInt(f1.length).array()))
      val stsc = box("stsc", full(ByteBuffer.allocate(16)
        .putInt(1).putInt(1).putInt(2).putInt(1).array()))
      val stts = box("stts", full(ByteBuffer.allocate(12)
        .putInt(1).putInt(2).putInt(5).array()))
      def mkMoov(off: Int) = box("moov", box("trak", box("mdia",
        box("hdlr", full(ByteBuffer.allocate(20).putInt(0)
          .put("vide".getBytes("US-ASCII")).array())) ++ mdhd ++
          box("minf", box("stbl", stsd ++ stsz ++ stsc ++ stts ++
            box("stco", full(ByteBuffer.allocate(8).putInt(1).putInt(off).array())))))))
      val ftyp = box("ftyp", "isom".getBytes("US-ASCII"))
      val off = ftyp.length + mkMoov(0).length + 8
      ftyp ++ mkMoov(off) ++ box("mdat", f0 ++ f1)
    }
    val blobs = spark.createDataset(Seq(
      Multimodal.Blob(1L, mkMp4("mjpa")), Multimodal.Blob(2L, mkMp4("avc1"))))(
      org.apache.spark.sql.Encoders.product[Multimodal.Blob])
    val out = Multimodal.videoFrameFeatures(blobs, everyNth = 1).collect()
      .map(f => (f.doc_id, f.frame_idx) -> f).toMap
    assert(out.size == 4)
    // MJPEG track: real decoded pixels per sampled frame
    val g0 = out((1L, 0)); val g1 = out((1L, 1))
    assert(g0.ok && g0.width == 8 && g0.height == 6 && g0.ts_ms == 0L)
    assert(g1.ok && g1.width == 8 && g1.height == 6 && g1.ts_ms == 500L)
    assert(math.abs(g0.mean_luma - 128.0) < 3.0, s"gray luma ${g0.mean_luma}")
    assert(math.abs(g1.mean_luma - 255.0) < 3.0, s"white luma ${g1.mean_luma}")
    // inter-frame codec: demux metadata intact, no pixels claimed
    assert(!out((2L, 0)).ok && !out((2L, 1)).ok)
    assert(out((2L, 1)).ts_ms == 500L && out((2L, 1)).mean_luma == 0.0)
  }

  test("MJPEG frames feed frame-level dedup through a DECODED luma key") {
    // the composition the spec ledger promised: videoFrameFeatures (real
    // MJPEG pixel decode) → per-frame (dims, quantized-luma) key →
    // Dedup.exact. The planted duplicate is re-encoded at a different JPEG
    // quality — byte-level dedup sees distinct frames, the decoded-pixel
    // key collapses them.
    import java.nio.ByteBuffer
    def box(t: String, payload: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length).put(t.getBytes("US-ASCII")).put(payload)
      b.array()
    }
    def full(body: Array[Byte]): Array[Byte] =
      ByteBuffer.allocate(4 + body.length).putInt(0).put(body).array()
    def jpegQ(rgb: Int, quality: Float): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, 8, 6); g.dispose()
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val p = w.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      val bos = new java.io.ByteArrayOutputStream()
      w.setOutput(javax.imageio.ImageIO.createImageOutputStream(bos))
      w.write(null, new javax.imageio.IIOImage(img, null, null), p)
      w.dispose()
      bos.toByteArray
    }
    def mkMp4(frames: Seq[Array[Byte]]): Array[Byte] = {
      val n = frames.size
      val stsd = box("stsd", full(ByteBuffer.allocate(20).putInt(1)
        .putInt(16).put("mjpa".getBytes("US-ASCII")).array()))
      val mdhd = box("mdhd", full(ByteBuffer.allocate(20)
        .putInt(0).putInt(0).putInt(10).putInt(10).array()))
      val stszB = ByteBuffer.allocate(12 + 4 * n).putInt(0).putInt(n)
      frames.foreach(f => stszB.putInt(f.length))
      val stsz = box("stsz", full(stszB.array()))
      val stsc = box("stsc", full(ByteBuffer.allocate(16)
        .putInt(1).putInt(1).putInt(n).putInt(1).array()))
      val stts = box("stts", full(ByteBuffer.allocate(12)
        .putInt(1).putInt(n).putInt(5).array()))
      def mkMoov(off: Int) = box("moov", box("trak", box("mdia",
        box("hdlr", full(ByteBuffer.allocate(20).putInt(0)
          .put("vide".getBytes("US-ASCII")).array())) ++ mdhd ++
          box("minf", box("stbl", stsd ++ stsz ++ stsc ++ stts ++
            box("stco", full(ByteBuffer.allocate(8).putInt(1).putInt(off).array())))))))
      val ftyp = box("ftyp", "isom".getBytes("US-ASCII"))
      val off = ftyp.length + mkMoov(0).length + 8
      ftyp ++ mkMoov(off) ++ box("mdat", frames.reduce(_ ++ _))
    }
    val grayHi = jpegQ(0x808080, 0.9f)
    val grayLo = jpegQ(0x808080, 0.5f) // same pixels, different bytes
    val white = jpegQ(0xffffff, 0.9f)
    val black = jpegQ(0x000000, 0.9f)
    assert(!java.util.Arrays.equals(grayHi, grayLo))
    val blobs = spark.createDataset(Seq(
      Multimodal.Blob(1L, mkMp4(Seq(grayHi, white, grayLo))),
      Multimodal.Blob(2L, mkMp4(Seq(grayHi, black)))))(
      org.apache.spark.sql.Encoders.product[Multimodal.Blob])
    val feats = Multimodal.videoFrameFeatures(blobs, everyNth = 1)
      .filter(col("ok"))
      .withColumn("fid", col("doc_id") * 100 + col("frame_idx"))
    assert(feats.count() == 5)
    // frame key: dimensions + luma quantized to 16-wide ROUNDED bands (a
    // gray of ~128 sits exactly on a floor boundary; rounding centers the
    // band) — wide enough to absorb JPEG loss, narrow to split gray/white
    val key = concat_ws(":", col("width"), col("height"),
      round(col("mean_luma") / 16).cast("int"))
    val clusters = Dedup.exact(feats, "fid", key).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(clusters.size == 3, clusters) // gray, white, black
    assert(clusters("8:6:8") == ((100L, 3L)))  // both grays + doc-2 copy
    assert(clusters("8:6:16") == ((101L, 1L))) // white
    assert(clusters("8:6:0") == ((201L, 1L)))  // black
    // byte-level dedup CANNOT collapse the re-encoded gray: 4 distinct
    val frames = Multimodal.videoFrames(blobs, everyNth = 1)
      .withColumn("fid", col("doc_id") * 100 + col("frame_idx"))
    assert(Dedup.exact(frames, "fid", md5(col("frame"))).count() == 4)
  }

  test("multimodal feature extraction over binary column is deterministic") {
    val blobs = docs.withColumn("blob", col("text").cast("binary"))
    val out = Multimodal.features(blobs, "doc_id", "blob").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) == out(4L)) // identical bytes → identical features
    assert(out(1L)._1 == "the quick brown fox jumps over the lazy dog".getBytes("UTF-8").length)
  }

  test("asof join: backward/forward, strict, per-key isolation, outer nulls") {
    import graft.core.Joins
    val left = Seq(("a", 1L, 10), ("a", 2L, 20), ("a", 3L, 30), ("a", 5L, 50),
      ("b", 2L, 99)).toDF("k", "t", "lv")
    val right = Seq(("a", 2L, 200), ("a", 4L, 400)).toDF("k", "rt", "p")
    def run(dir: String, strict: Boolean): Map[(String, Long), Option[Int]] =
      Joins.asofJoin(left, right, Seq("k"), "t", "rt", Seq("p"), dir, strict)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (if (r.isNullAt(3)) None else Some(r.getInt(3)))).toMap
    val bw = run("backward", strict = false)
    assert(bw(("a", 1L)).isEmpty && bw(("a", 2L)).contains(200) &&
      bw(("a", 3L)).contains(200) && bw(("a", 5L)).contains(400))
    assert(bw(("b", 2L)).isEmpty) // keys never leak across series
    val bws = run("backward", strict = true)
    assert(bws(("a", 2L)).isEmpty && bws(("a", 3L)).contains(200))
    val fw = run("forward", strict = false)
    assert(fw(("a", 1L)).contains(200) && fw(("a", 2L)).contains(200) &&
      fw(("a", 3L)).contains(400) && fw(("a", 5L)).isEmpty)
    val fws = run("forward", strict = true)
    assert(fws(("a", 2L)).contains(400))
  }

  test("asof join: equal-time right rows resolve to the largest payload") {
    import graft.core.Joins
    val left = Seq(("a", 5L)).toDF("k", "t")
    val right = Seq(("a", 3L, 7), ("a", 3L, 9), ("a", 3L, 8)).toDF("k", "rt", "p")
    val out = Joins.asofJoin(left, right, Seq("k"), "t", "rt", Seq("p"))
      .collect()(0)
    assert(out.getInt(2) == 9)
  }

  test("repetition metrics: hand-checked values on a planted repetitive doc") {
    // "a b a b a b c": 2-grams = [a b]x3, [b a]x2, [b c]x1; text len 13
    val d = Seq((1L, "a b a b a b c")).toDF("doc_id", "text")
    val r = d.select(
      Repetition.topNgram(col("text"), 2).as("top"),
      Repetition.topNgramCharFraction(col("text"), 2).as("f2"),
      Repetition.dupNgramCharFraction(col("text"), 2).as("d2"),
      Repetition.typeTokenRatio(col("text")).as("ttr")).collect()(0)
    val top = r.getStruct(0)
    assert(top.getLong(0) == 3L && top.getString(1) == "a b")
    assert(math.abs(r.getDouble(1) - 9.0 / 13) < 1e-12)   // 3 * len("a b")
    assert(math.abs(r.getDouble(2) - 15.0 / 13) < 1e-12)  // 3*3 + 2*3 (>1 ok)
    assert(math.abs(r.getDouble(3) - 3.0 / 7) < 1e-12)    // {a,b,c} of 7 toks
  }

  test("repetition: tie on count picks the lexicographically smallest gram") {
    // 2-grams of "z y x w" are "z y", "y x", "x w" — each once; the
    // (count desc, gram asc) order must pick "x w" in BOTH forms
    val d = Seq((1L, "z y x w")).toDF("doc_id", "text")
    val top = d.select(Repetition.topNgram(col("text"), 2)).collect()(0).getStruct(0)
    assert(top.getLong(0) == 1L && top.getString(1) == "x w")
    val rel = Repetition.topNgramStats(d, "doc_id", col("text"), 2).collect()(0)
    assert(rel.getLong(1) == 1L && rel.getString(2) == "x w")
  }

  test("repetition: scan-speed folds == relational explode+groupBy, whole corpus") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val scan = real.select(col("doc_id"),
      Repetition.topNgram(col("text"), 3).getField("cnt").as("cnt"),
      Repetition.topNgram(col("text"), 3).getField("gram").as("gram"),
      Repetition.dupNgramCharCount(col("text"), 2).as("dup2"))
    val rel = Repetition.topNgramStats(real, "doc_id", col("text"), 3)
      .join(Repetition.dupNgramChars(real, "doc_id", col("text"), 2), Seq("doc_id"), "left")
      .select(col("doc_id"), col("cnt"), col("gram"),
        coalesce(col("dup_chars"), lit(0L)).as("dup2"))
    assert(scan.exceptAll(rel).isEmpty && rel.exceptAll(scan).isEmpty)
  }

  test("repetition: doc shorter than n yields empty grams and zero fractions") {
    val d = Seq((1L, "one two")).toDF("doc_id", "text")
    val r = d.select(
      Repetition.topNgramCharFraction(col("text"), 5).as("f"),
      Repetition.dupNgramCharFraction(col("text"), 5).as("g")).collect()(0)
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0)
  }

  test("substring dup: planted shared boilerplate is detected, unique text is not") {
    val boiler = "this exact boilerplate sentence is shared verbatim between docs"
    val d = Seq(
      (1L, boiler + " plus unique tail one two three four five six seven"),
      (2L, boiler + " with another completely different ending entirely here"),
      (3L, "no shared substrings at all in this document whatsoever okay"),
      (4L, "tiny")).toDF("doc_id", "text")
    val out = Dedup.substringDupStats(d, "doc_id", col("text"), k = 40, stride = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // docs 1+2 share the 63-char boiler prefix: windows starting at 1, 11, 21
    // fit inside it on both docs => >=3 duplicated windows each
    assert(out(1L)._2 >= 3 && out(2L)._2 >= 3)
    assert(out(3L)._2 == 0 && out(3L)._1 > 0) // unique text, windows exist
    assert(out(4L) == (0L, 0L))               // shorter than k: no windows
  }

  test("dsir: target-distribution docs outscore raw-only docs") {
    // target speaks 'alpha beta'; raw-only speaks 'gamma delta' — weights
    // must separate them with a positive margin
    val d = Seq(
      (1L, "alpha beta alpha beta alpha beta alpha beta", true),
      (2L, "beta alpha beta alpha beta alpha beta alpha", true),
      (3L, "gamma delta gamma delta gamma delta gamma delta", false),
      (4L, "delta gamma delta gamma delta gamma delta gamma", false),
      (5L, "alpha beta alpha beta alpha beta beta alpha", false)
    ).toDF("doc_id", "text", "tgt")
    val out = Importance.dsirWeights(d, "doc_id", col("text"), col("tgt"),
        buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) > 0 && out(2L) > 0)
    assert(out(3L) < 0 && out(4L) < 0)
    // doc 5 is raw-labeled but written in the target's language: DSIR must
    // still score it high — that's the whole point of importance weighting
    assert(out(5L) > 0)
  }

  test("dsirUnitsColumn is bit-identical to dsirWeights score_units") {
    // the codegen'd DsirUnits scalar (which both dsirUnitsColumn and
    // dsirWeights now score through) must agree to the unit with the
    // interpreted HOF reference — the per-gram arithmetic the oracle
    // mirrors — on every doc, including null-text, blank, sub-bigram and
    // multi-byte rows
    val d = Seq(
      (1L, Option("alpha beta alpha beta gamma"), true),
      (2L, Option("gamma delta epsilon gamma"), false),
      (3L, Option.empty[String], false),
      (4L, Option("alpha"), true),
      (5L, Option("  "), false),
      (6L, Option("héllo wörld héllo é́ tab\tsep"), true)
    ).toDF("doc_id", "text", "tgt")
    val rel = Importance.dsirWeights(d, "doc_id", col("text"), col("tgt"),
        buckets = 64)
      .select("doc_id", "score_units")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fused = d.select(col("doc_id"),
        Importance.dsirUnitsColumn(d, col("text"), col("tgt"), buckets = 64)
          .as("u"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = d.select(col("doc_id"),
        Importance.dsirUnitsHofColumn(d, col("text"), col("tgt"), buckets = 64)
          .as("u"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused == hof)
    assert(rel == hof)
  }

  test("LanguageModel.scoreColumn/xentOf match charTrigramScore exactly") {
    val d = Seq(
      (1L, Option("the quick brown fox is quick"), true),
      (2L, Option("vastly different characters zzz"), false),
      (3L, Option.empty[String], false),
      (4L, Option("ab"), true) // sub-trigram doc scores (0, 0, 0.0)
    ).toDF("doc_id", "text", "en")
    val frame = LanguageModel.charTrigramScore(d, "doc_id", col("text"),
        col("en"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val sc = LanguageModel.scoreColumn(d, col("text"), col("en")).get
    val fused = d.select(col("doc_id"), sc.as("_t"),
        LanguageModel.xentOf(sc).as("xe"))
      .collect().map(r => r.getLong(0) -> {
        val t = r.getStruct(1)
        ((t.getLong(0), t.getLong(1), r.getDouble(2)))
      }).toMap
    assert(fused == frame)
  }

  test("temperature mixture: tau<1 flattens toward small sources; tau=1 is natural") {
    val d = (1L to 90L).map(i => (i, if (i <= 80) "big" else "small"))
      .toDF("doc_id", "source")
    def quota(tau: Double): Map[String, Long] =
      Sampling.temperatureMixture(d, "doc_id", "source", tau,
          targetFrac = 0.5, salt = "t")
        .groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nat = quota(1.0)   // natural: 40/5 (proportional to 80/10)
    assert(nat("big") == 40L && nat("small") == 5L)
    val flat = quota(0.5)  // sqrt weights 8.94/3.16 → quotas 33/12, small
                           // capped at its population of 10
    assert(flat("small") > nat("small") && flat("big") < nat("big"))
    assert(flat("big") == 33L && flat("small") == 10L)
    // determinism: same call twice selects the same ids
    val ids = Sampling.temperatureMixture(d, "doc_id", "source", 0.5, 0.5, "t")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.temperatureMixture(d, "doc_id", "source", 0.5, 0.5, "t")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == ids2)
  }

  test("new-op edge cases: no-target DSIR, oversized substring k, single-source mixture") {
    // DSIR with zero target docs: smoothing keeps every weight defined
    val noTgt = Importance.dsirWeights(
      Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text"),
      "doc_id", col("text"), lit(false), buckets = 32).collect()
    assert(noTgt.length == 2 && noTgt.forall(!_.isNullAt(1)))
    // substring dup with k longer than every doc: all-zero stats, rows kept
    val big = Dedup.substringDupStats(
      Seq((1L, "short"), (2L, "tiny")).toDF("doc_id", "text"),
      "doc_id", col("text"), k = 100, stride = 10).collect()
    assert(big.length == 2 &&
      big.forall(r => r.getLong(1) == 0L && r.getDouble(3) == 0.0))
    // single-source mixture: plain deterministic half sample
    val one = Sampling.temperatureMixture(
      (1L to 10L).map((_, "s")).toDF("doc_id", "source"),
      "doc_id", "source", tau = 0.5, targetFrac = 0.5, salt = "z")
    assert(one.count() == 5)
  }

  test("collapsed clusters == full-graph clusters on a dup-heavy corpus") {
    // 4 distinct texts; a/b near-dups of each other, plus exact copies of
    // a (id 11,21) and c (id 13): the collapse path must reproduce the
    // full pair-graph components exactly — labels, node set and all
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy cat tonight"),
      (3L, "completely different content about spark engines here"),
      (4L, "unrelated singleton text with no duplicates anywhere at all"),
      (11L, "the quick brown fox jumps over the lazy dog tonight"),
      (21L, "the quick brown fox jumps over the lazy dog tonight"),
      (13L, "completely different content about spark engines here")
    ).toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = asMap(Dedup.connectedComponents(
      Dedup.minhashNearDups(base, "doc_id", col("text"),
        shingleLen = 2, k = 16, rowsPerBand = 2, threshold = 0.3,
        cacheShingles = false))
      .select(col("node").as("doc_id"), col("cluster")))
    val collapsed = asMap(Dedup.nearDupClustersCollapsed(base, "doc_id",
      col("text"), shingleLen = 2, k = 16, rowsPerBand = 2, threshold = 0.3,
      collapseRatio = 1.01)) // force the collapse branch
    assert(collapsed == full, s"collapsed=$collapsed full=$full")
    // the gate's direct branch (forced) must agree too
    val direct = asMap(Dedup.nearDupClustersCollapsed(base, "doc_id",
      col("text"), shingleLen = 2, k = 16, rowsPerBand = 2, threshold = 0.3,
      collapseRatio = 0.0))
    assert(direct == full, s"direct=$direct full=$full")
    // the exact copies of doc 1 must be present and share its cluster
    assert(collapsed.contains(11L) && collapsed(11L) == collapsed(1L))
    assert(collapsed.contains(13L) && collapsed(13L) == collapsed(3L))
    assert(!collapsed.contains(4L)) // true singleton stays absent
  }

  test("identical zero-shingle docs are not near-dups in either branch") {
    // docs 31/32 are IDENTICAL but hold a single token — below shingleLen=2
    // they produce no shingles, hence no MinHash signature, hence no pairs:
    // MinHash semantics says they are NOT near-dups, and the collapse
    // branch's exact-clique expansion must agree with the direct branch
    // (and with the pair graph) instead of smuggling them in
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "the quick brown fox jumps over the lazy dog tonight"),
      (31L, "solo"),
      (32L, "solo"),
      (33L, "")
    ).toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = asMap(Dedup.connectedComponents(
      Dedup.minhashNearDups(base, "doc_id", col("text"),
        shingleLen = 2, k = 16, rowsPerBand = 2, threshold = 0.3,
        cacheShingles = false))
      .select(col("node").as("doc_id"), col("cluster")))
    val collapsed = asMap(Dedup.nearDupClustersCollapsed(base, "doc_id",
      col("text"), shingleLen = 2, k = 16, rowsPerBand = 2, threshold = 0.3,
      collapseRatio = 1.01)) // force the collapse branch
    val direct = asMap(Dedup.nearDupClustersCollapsed(base, "doc_id",
      col("text"), shingleLen = 2, k = 16, rowsPerBand = 2, threshold = 0.3,
      collapseRatio = 0.0))  // force the direct branch
    assert(full == Map(1L -> 1L, 11L -> 1L), full)
    assert(collapsed == full, s"collapsed=$collapsed full=$full")
    assert(direct == full, s"direct=$direct full=$full")
    // survivorsCollapsed must KEEP the short docs (they are no one's dup)
    val surv = Dedup.survivorsCollapsed(base, "doc_id", col("text"),
      shingleLen = 2, k = 16, rowsPerBand = 2, threshold = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 31L, 32L, 33L), surv)
  }

  test("url parsing: scheme/host/path/domain across ports, queries, non-urls") {
    val d = Seq(
      (1L, "https://www.sub.example.co/a/b?q=1#frag"),
      (2L, "http://example.org"),
      (3L, "ftp://files.example.net:2121/pub/x.bin"),
      (4L, "not a url at all"),
      (5L, "https://host.example.io/?only=query")
    ).toDF("id", "u")
    val out = d.select(col("id"),
        TextAnalysis.urlScheme(col("u")),
        TextAnalysis.urlHost(col("u")),
        TextAnalysis.urlPath(col("u")),
        TextAnalysis.registeredDomain(TextAnalysis.urlHost(col("u"))))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3), r.getString(4)))).toMap
    assert(out(1L) == (("https", "www.sub.example.co", "/a/b", "example.co")))
    assert(out(2L) == (("http", "example.org", "", "example.org")))
    assert(out(3L) == (("ftp", "files.example.net", "/pub/x.bin", "example.net")))
    assert(out(4L) == (("", "", "", "")))  // non-URL: empty, never an error
    assert(out(5L) == (("https", "host.example.io", "/", "example.io")))
  }

  test("url canonicalization: case, ports, tracking params, ordering, fragments") {
    val d = Seq(
      (1L, "HTTP://WWW.Example.COM:80/Path/x?b=2&utm_source=f&a=1#frag"),
      (2L, "https://site.example.org:443"),          // default port + no path
      (3L, "https://site.example.org:8443/x"),       // NON-default port kept
      (4L, "http://h.example.net/?fbclid=abc&gclid=x"), // all params tracking
      (5L, "ftp://Files.Example.net:21/pub"),        // unknown scheme: port kept
      (6L, "not a url"),
      (7L, "https://a.example.io/p?z=1&y=2&z=0")     // sort is stable + total
    ).toDF("id", "u")
    val got = d.select(col("id"),
        TextAnalysis.canonicalizeUrl(col("u"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "http://www.example.com/Path/x?a=1&b=2")
    assert(got(2L) == "https://site.example.org/")
    assert(got(3L) == "https://site.example.org:8443/x")
    assert(got(4L) == "http://h.example.net/")
    assert(got(5L) == "ftp://files.example.net:21/pub")
    assert(got(6L) == "")
    assert(got(7L) == "https://a.example.io/p?y=2&z=0&z=1")
    // the canonical form IS the dedup key: tracking/order/case variants of
    // one resource collapse to a single survivor
    val variants = Seq(
      (10L, "https://Shop.Example.com/item?id=7&utm_campaign=x"),
      (11L, "https://shop.example.com:443/item?utm_source=y&id=7"),
      (12L, "HTTPS://SHOP.EXAMPLE.COM/item?id=7#reviews")
    ).toDF("doc_id", "u")
      .select(col("doc_id"), TextAnalysis.canonicalizeUrl(col("u")).as("c"))
    val groups = Dedup.exact(variants, "doc_id", col("c")).collect()
    assert(groups.length == 1 && groups(0).getLong(2) == 3L)
    assert(groups(0).getString(0) == "https://shop.example.com/item?id=7")
  }

  test("registered domain: PSL eTLD+1 semantics (co.uk, 3-label, wildcard, exception)") {
    val hosts = Seq(
      "shop.example.co.uk" -> "example.co.uk", // 2-label suffix: eTLD+1 = 3 labels
      "example.co.uk" -> "example.co.uk",
      "co.uk" -> "",                           // a public suffix itself: no reg. domain
      "deep.school.nsw.edu.au" -> "school.nsw.edu.au", // 3-label suffix
      "school.nsw.edu.au" -> "school.nsw.edu.au",
      "nsw.edu.au" -> "",
      "uni.edu.au" -> "uni.edu.au",            // edu.au itself is the suffix here
      "a.b.foo.bd" -> "b.foo.bd",              // wildcard *.bd: every foo.bd is public
      "b.foo.bd" -> "b.foo.bd",
      "foo.bd" -> "",
      "a.www.ck" -> "www.ck",                  // exception !www.ck beats *.ck
      "www.ck" -> "www.ck",
      "x.other.ck" -> "x.other.ck",            // plain wildcard under ck
      "example.org" -> "example.org",          // default rule: unlisted TLD
      "www.example.org" -> "example.org",
      "localhost" -> "",                       // single label
      "" -> "",
      // ---- full-list shapes the 311-rule snapshot could not express ----
      // multi-label wildcard *.kobe.jp: every <x>.kobe.jp is a suffix
      "shop.brand.kobe.jp" -> "shop.brand.kobe.jp",
      "brand.kobe.jp" -> "",
      // 3-label exception !city.kobe.jp beats *.kobe.jp
      "www.city.kobe.jp" -> "city.kobe.jp",
      "city.kobe.jp" -> "city.kobe.jp",
      // 4-label plain suffix pvt.k12.ma.us, longest-match over k12.ma.us
      "sub.pvt.k12.ma.us" -> "sub.pvt.k12.ma.us",
      "pvt.k12.ma.us" -> "",
      "myschool.k12.ma.us" -> "myschool.k12.ma.us",
      // 5-label plain suffix (private section, S3 dualstack)
      "bucket.s3.dualstack.ap-south-1.amazonaws.com" ->
        "bucket.s3.dualstack.ap-south-1.amazonaws.com",
      "s3.dualstack.ap-south-1.amazonaws.com" -> "",
      // 4-label wildcard base *.compute.amazonaws.com.cn
      "vm.x.compute.amazonaws.com.cn" -> "vm.x.compute.amazonaws.com.cn",
      "x.compute.amazonaws.com.cn" -> "",
      // private-section 2-label rule
      "user.github.io" -> "user.github.io",
      "github.io" -> "",
      // IDN rule 公司.cn matches as u-label AND as its punycode twin
      "foo.公司.cn" -> "foo.公司.cn",
      "foo.xn--55qx5d.cn" -> "foo.xn--55qx5d.cn")
    val df = hosts.zipWithIndex.map { case ((h, _), i) => (i.toLong, h) }
      .toDF("id", "host")
    val got = df.select(col("id"),
        TextAnalysis.registeredDomain(col("host"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for (((h, want), i) <- hosts.zipWithIndex)
      assert(got(i.toLong) == want, s"host=$h got=${got(i.toLong)} want=$want")
    // the naive last-two-labels form groups co.uk hosts WRONG — that is
    // exactly why the PSL lookup exists
    val naive = df.select(TextAnalysis.registeredDomainNaive(col("host")))
      .collect().map(_.getString(0))
    assert(naive(0) == "co.uk")
  }

  test("line dedup: first corpus occurrence survives, order preserved") {
    val d = Seq(
      (1L, "Cookie banner. unique alpha. All rights reserved"),
      (2L, "cookie banner. unique beta. All rights reserved"), // case-insensitive match
      (3L, "unique gamma. Cookie banner"),
      (4L, ""),
      (5L, "unique delta")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 owns the first occurrence of both boilerplate lines
    assert(out(1L) == ((3L, 3L,
      "Cookie banner. unique alpha. All rights reserved")))
    // doc 2's copies (case-normalized match) drop; its own line survives
    assert(out(2L) == ((3L, 1L, "unique beta")))
    // doc 3's banner copy drops, order of what remains is the original
    assert(out(3L) == ((2L, 1L, "unique gamma")))
    assert(out(4L) == ((0L, 0L, "")))   // empty doc: defined zeros
    assert(out(5L) == ((1L, 1L, "unique delta")))
  }

  test("line dedup: null text yields n_lines=0, not NULL (r7 contract)") {
    // a real crawl always carries some null-text rows (fetch failures);
    // the count contract must stay defined so downstream aggregates of
    // n_lines never silently null out
    val d = Seq(
      (1L, Option("Shared line. Own line one")),
      (2L, None),
      (3L, Option("shared line. Own line two"))
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(2L) == ((0L, 0L, "")))  // null text: zeros and empty, no NULLs
    assert(out(1L) == ((2L, 2L, "Shared line. Own line one")))
    assert(out(3L) == ((2L, 1L, "Own line two")))
  }

  test("html extract: scripts/styles/comments dropped, tags stripped, entities decoded") {
    val page =
      """<html><head><style>body { color: red }</style>
        |<script>if (1 < 2) { alert("</div>"); }</script></head>
        |<body><!-- hidden --><h1>Title</h1>
        |<p>First&nbsp;paragraph with 1 &lt; 2 &amp;&amp; 3 &gt; 2.</p>
        |<ul><li>it&#39;s &quot;quoted&quot;</li></ul>
        |<div>tail</div></body></html>""".stripMargin
    val out = Seq((1L, page)).toDF("doc_id", "text")
      .select(TextAnalysis.htmlExtract(col("text")))
      .collect()(0).getString(0)
    assert(!out.contains("color"), out)    // style payload gone
    assert(!out.contains("alert"), out)    // script payload gone (incl. the
    assert(!out.contains("</div>"), out)   //   embedded closing-tag string)
    assert(!out.contains("hidden"), out)   // comment gone
    assert(out ==
      "Title\nFirst paragraph with 1 < 2 && 3 > 2.\nit's \"quoted\"\ntail", out)
    // double-encoded entity: &amp;lt; must decode to the LITERAL "&lt;"
    val dbl = Seq((1L, "a &amp;lt; b")).toDF("doc_id", "text")
      .select(TextAnalysis.htmlExtract(col("text"))).collect()(0).getString(0)
    assert(dbl == "a &lt; b", dbl)
  }

  test("lm score: expression path == relational join path, bit-exact") {
    // force the fallback join path with modelGate = 0 and compare every
    // column against the default scan-speed TrigramScore path — same
    // normalization, same char windows, same integer micro-unit sums
    val d = Seq(
      (1L, "The Quick    brown fox", true),
      (2L, "the quick brown fox jumps over it", true),
      (3L, "größé ünïcode ère tested here", false),
      (4L, "zz", false), (5L, "", false),
      (6L, "  padded   with   spaces  ", true),
      (7L, null.asInstanceOf[String], false) // NULL text: defined zeros
    ).toDF("doc_id", "text", "tgt")
    def rows(gate: Long) = LanguageModel.charTrigramScore(
      d, "doc_id", col("text"), col("tgt"), modelGate = gate)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val expr = rows(1L << 20)
    val join = rows(0L)
    assert(expr == join, s"expr=$expr join=$join")
    assert(expr(5L) == ((0L, 0L, 0.0))) // empty doc: defined zeros
    assert(expr(4L) == ((0L, 0L, 0.0))) // sub-trigram doc
    assert(expr(7L) == ((0L, 0L, 0.0))) // NULL text, both paths
    // broadcast-backed model (literalGate = 0 forces it) must be
    // bit-identical to the plan-literal form — one shared scorer
    val bcast = LanguageModel.charTrigramScore(
      d, "doc_id", col("text"), col("tgt"), literalGate = 0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(bcast == expr, s"bcast=$bcast expr=$expr")
  }

  test("one-pass expressions compile under codegen with fallback DISABLED") {
    // a codegen bug in doGenCode would silently fall back to interpreted
    // eval (correct but slow); fallback=false turns that into a hard
    // failure. spark.range keeps the plan out of LocalRelation constant
    // folding so the stage genuinely compiles.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val d = spark.range(4).select(col("id").as("doc_id"),
        concat(lit("<p>doc "), col("id").cast("string"),
          lit(" the quick brown fox &amp; dog</p>")).as("text"),
        (col("id") % 2 === 0).as("tgt"))
      val h = d.select(TextAnalysis.htmlExtract(col("text")).as("c"))
        .collect().map(_.getString(0))
      assert(h.head == "doc 0 the quick brown fox & dog", h.head)
      val lm = LanguageModel.charTrigramScore(d, "doc_id", col("text"),
        col("tgt")).collect()
      assert(lm.length == 4 && lm.forall(_.getLong(1) > 0))
      val lmB = LanguageModel.charTrigramScore(d, "doc_id", col("text"),
        col("tgt"), literalGate = 0) // force the broadcast expression
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(lmB == lm.map(r => r.getLong(0) -> r.getLong(2)).toMap)
      // the whole one-pass family: shingles/ngrams, simhash, repetition
      // folds, BPE encode
      val fam = d.select(
        size(Dedup.shingleArray(col("text"), 2)).as("sh"),
        size(Dedup.ngramArray(col("text"), 1)).as("ng"),
        size(Dedup.simhashBitArray(col("text"))).as("sb"),
        Repetition.stats(col("text")).getField("ttr").as("ttr"),
        size(Bpe.encode(col("text"), Seq(("t", "h"), ("th", "e")))).as("bp"))
        .collect()
      assert(fam.forall(r => r.getInt(0) > 0 && r.getInt(1) > 0 &&
        r.getInt(2) == 64 && r.getDouble(3) > 0 && r.getInt(4) > 0))
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("lm score: expression path builds without SparkTuning registration") {
    // direct-construction contract: the library API must work on a session
    // that never called SparkTuning.tune — every native expression is built
    // directly, none is looked up in a session function registry
    val fresh = spark.newSession() // shares context, NOT the tuned conf
    assert(!fresh.catalog.functionExists("graft_trigram_score"))
    val d2 = fresh.createDataFrame(
      Seq((1L, "the quick brown fox", true), (2L, "zzz qqq", false)))
      .toDF("doc_id", "text", "tgt")
    val out = LanguageModel.charTrigramScore(d2, "doc_id", col("text"),
      col("tgt")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 17L && out(2L) == 5L, out)
    // the rest of the native-expression family on the same untuned session
    val docs = fresh.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight", true),
      (2L, "the quick brown fox jumps over the lazy dog today", false),
      (3L, "completely different content about spark engines here", false)))
      .toDF("doc_id", "text", "tgt")
    val r = docs.filter(col("doc_id") === 1L).select(
      Similarity.dot(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))),
      size(Dedup.shingleArray(col("text"), 2)),
      size(Dedup.ngramArray(col("text"), 1)),
      size(Dedup.simhashBitArray(col("text"))),
      Repetition.stats(col("text")).getField("ttr"),
      size(Bpe.encode(col("text"), Seq(("t", "h"), ("th", "e")))),
      Importance.dsirUnitsColumn(docs, col("text"), col("tgt")),
      Importance.dsirUnitsHofColumn(docs, col("text"), col("tgt"))).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 9 && r.getInt(2) == 10 && r.getInt(3) == 64)
    assert(r.getDouble(4) == 0.9 && r.getInt(5) >= 10)
    assert(r.getLong(6) == r.getLong(7))
    // both bloom-probe paths
    val key = TextAnalysis.contentHash(col("text"))
    assert(Dedup.incrementalNew(docs, docs.filter(col("doc_id") === 3L),
      "doc_id", key).select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L))
    val idx = Dedup.minhashIndex(docs.filter(col("doc_id") =!= 1L),
      "doc_id", col("text"))
    assert(Dedup.incrementalNearNew(docs.filter(col("doc_id") === 1L), idx,
      col("text")).select("id_new", "id_corpus").as[(Long, Long)]
      .collect().toSet == Set((1L, 2L)))
  }

  test("SparkTuning.tune sets its conf defaults only where the caller set none") {
    val minPS = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val useId = "spark.sql.codegen.useIdInClassName"
    val callerSet = spark.newSession()
    callerSet.conf.set(minPS, "1m")
    callerSet.conf.set(useId, "true")
    graft.core.SparkTuning.tune(callerSet)
    assert(callerSet.conf.get(minPS) == "1m")
    assert(callerSet.conf.get(useId) == "true")
    val untouched = spark.newSession()
    assert(!untouched.sessionState.conf.contains(minPS) &&
      !untouched.sessionState.conf.contains(useId))
    graft.core.SparkTuning.tune(untouched)
    assert(untouched.conf.get(minPS) == "64k")
    assert(untouched.conf.get(useId) == "false")
    assert(untouched.conf.get("spark.sql.optimizer.excludedRules").contains(
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"))
  }

  test("lm score: target-like text gets lower cross-entropy than alien text") {
    val d = Seq(
      (1L, "the cat sat on the mat with the hat", true),
      (2L, "the rat sat on the cat with the bat", true),
      (3L, "the bat sat on the rat and the cat", false),  // target-like, raw
      (4L, "zzqx vvkw jjpy qqzz xxvv wwkk yyjj", false)   // alien charset
    ).toDF("doc_id", "text", "tgt")
    val out = LanguageModel.charTrigramScore(d, "doc_id", col("text"), col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(3L) < out(4L), s"target-like doc must score below alien: $out")
    assert(out(1L) < out(4L) && out(2L) < out(4L))
    // short doc: no trigrams, defined-zero xent
    val short = LanguageModel.charTrigramScore(
      Seq((9L, "ab", true)).toDF("doc_id", "text", "tgt"),
      "doc_id", col("text"), col("tgt")).collect()(0)
    assert(short.getLong(1) == 0L && short.getDouble(3) == 0.0)
  }

  test("bpe: learns the classic merge sequence and encodes consistently") {
    // Sennrich et al. 2016 fixture: low*5 lower*2 newest*6 widest*3.
    // Hand-computed: pair counts put (e,s)=(s,t)=(t,</w>)=9 first — the
    // lexicographic tie-break picks (e,s), then (es,t), (est,</w>), then
    // (l,o)=7 over (o,w) on the same tie rule.
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(d, col("text"), 4)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o")))
    val enc = Seq((1L, "newest low unseen")).toDF("doc_id", "text")
      .select(Bpe.encode(col("text"), merges)).collect()(0).getSeq[String](0)
    assert(enc == Seq("n", "e", "w", "est</w>", "lo", "w", "</w>",
      "u", "n", "s", "e", "e", "n", "</w>"))
    // round-trip: pieces re-concatenate to the word
    assert(enc.mkString.replace("</w>", " ").trim == "newest low unseen")
    // more merges never increase the piece count
    val m0 = Seq((1L, text)).toDF("doc_id", "text")
      .select(size(Bpe.encode(col("text"), Seq.empty))).collect()(0).getInt(0)
    val m4 = Seq((1L, text)).toDF("doc_id", "text")
      .select(size(Bpe.encode(col("text"), merges))).collect()(0).getInt(0)
    assert(m4 < m0)
    // determinism: retraining yields identical merges
    assert(Bpe.trainMerges(d, col("text"), 4) == merges)
  }

  test("bpe scale route: over-gate vocab trains on the frequency-truncated head") {
    // Sennrich fixture words plus a hapax tail; maxVocab=4 cuts the tail
    // (the fixture's 4 words are the most frequent) — merges must equal
    // training on exactly those 4 words, and the merges must still encode
    // the FULL corpus, tail words falling back through chars
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val tail = "zebra quark jolt vex mumble"
    val d = Seq((1L, text), (2L, tail)).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(d, col("text"), 4, maxVocab = 4L)
    val headOnly = Bpe.trainLocal(
      Seq(("newest", 6L), ("low", 5L), ("widest", 3L), ("lower", 2L)), 4)
    assert(merges == headOnly, s"merges=$merges headOnly=$headOnly")
    assert(merges == Seq(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o")))
    // full-corpus encoding under the truncation-trained merges: every doc
    // encodes, and tail words round-trip through character fallback
    val enc = d.select(col("doc_id"), Bpe.encode(col("text"), merges).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(enc(1L).nonEmpty && enc(2L).nonEmpty)
    assert(enc(2L).mkString.replace("</w>", " ").trim == tail)
    // determinism of the cut: same maxVocab, same merges
    assert(Bpe.trainMerges(d, col("text"), 4, maxVocab = 4L) == merges)
  }

  test("ngram array: multiplicity-preserving expression == HOF wordNgrams") {
    val d = Seq((1L, "a b a b a"), (2L, ""), (3L, "solo")).toDF("doc_id", "text")
    val rows = d.select(
      Dedup.ngramArray(col("text"), 2).as("e"),
      Repetition.wordNgrams(TextAnalysis.tokens(col("text")), 2).as("h")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("repetition: one-pass expression == HOF folds, bit-for-bit, whole corpus + edges") {
    // the fast RepetitionStats expression must be indistinguishable from the
    // four HOF columns — including empty/whitespace-only/short/unicode/tie
    // documents — or the oracle hash would drift
    val edge = Seq(
      (9001L, ""), (9002L, "   "), (9003L, "\t \n "), (9004L, "one"),
      (9005L, "z y x w"), (9006L, "a b a b a b c"),
      (9007L, "ÉCOLE école ÉCOLE école münchen"),
      (9008L, "x x x x x x x x"), (9009L, " pad  both\tsides ")
    ).toDF("doc_id", "text")
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = real.unionByName(edge)
    val both = corpus.select(col("doc_id"), Repetition.stats(col("text")).as("st"))
      .select(col("doc_id"),
        col("st.ttr").as("e_ttr"), col("st.top2").as("e_top2"),
        col("st.top3").as("e_top3"), col("st.dup5").as("e_dup5"))
      .join(corpus.select(col("doc_id"),
        Repetition.typeTokenRatio(col("text")).as("h_ttr"),
        Repetition.topNgramCharFraction(col("text"), 2).as("h_top2"),
        Repetition.topNgramCharFraction(col("text"), 3).as("h_top3"),
        Repetition.dupNgramCharFraction(col("text"), 5).as("h_dup5")),
        Seq("doc_id"))
    val bad = both.filter(
      col("e_ttr") =!= col("h_ttr") || col("e_top2") =!= col("h_top2") ||
        col("e_top3") =!= col("h_top3") || col("e_dup5") =!= col("h_dup5"))
      .collect()
    assert(bad.isEmpty, s"expression/HOF mismatch: ${bad.take(3).mkString("; ")}")
  }

  test("fine-rate sample == in-JVM md5 replay; sub-1/65536 rates resolve") {
    import graft.pipeline.Sampling
    val ids = (0L until 4000L)
    val df = ids.toDF("id")
    val frac = 0.0005 // off the 16-bit grid (0.0005 * 65536 = 32.768)
    val got = Sampling.sampleByHashFine(df, "id", frac, "f9")
      .as[Long].collect().toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    def rank(id: Long): Long = {
      val hex = md.digest(s"$id:f9".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(13), 16)
    }
    val cut = math.round(frac * 4503599627370496.0)
    val want = ids.filter(rank(_) < cut).toSet
    assert(got == want && got.nonEmpty)
    // a rate BELOW the 16-bit grid's resolution still selects a sane
    // fraction instead of rounding to zero: 1/200000 of 4000 ids has a
    // nonzero cut on the 52-bit grid (the old grid rounds it to 0 rows)
    val tiny = Sampling.sampleByHashFine(df, "id", 1.0 / 200000, "f9")
    assert(math.round((1.0 / 200000) * 65536) == 0) // the 16-bit cut
    assert(tiny.count() <= 2) // ~0.02 expected, deterministic small set
  }

  test("score gates: exact quota == in-JVM replay; threshold ⊇ quota with ties") {
    import graft.pipeline.Sampling
    // scores engineered with ties near the 25% boundary: stratum A has
    // five rows at score 90 (ids 1-4 plus id 10 via 100-i) — the quota
    // keeps exactly ⌈16·250/1000⌉ = 4 (scores 95..92), the threshold gate
    // cuts at the rank-12 ascending value 91 and keeps 5
    val rows = (1L to 16L).map(i =>
        (i, "A", if (i <= 4) 90L else 100L - i)) ++
      (17L to 22L).map(i => (i, "B", i))
    val df = rows.toDF("id", "grp", "sc")
    val quota = Sampling.scoreQuota(df, "id", col("sc"), Seq("grp"), 250)
      .select(col("grp"), col("id")).as[(String, Long)].collect().toSet
    // in-JVM replay: per group keep rows with (rn-1)*1000 < n*250 under
    // (score desc, id asc)
    val want = rows.groupBy(_._2).toSeq.flatMap { case (g, rs) =>
      val sorted = rs.sortBy(r => (-r._3, r._1))
      sorted.zipWithIndex.collect {
        case ((id, _, _), i) if i.toLong * 1000 < rs.size.toLong * 250 =>
          (g, id)
      }
    }.toSet
    assert(quota == want)
    assert(quota.count(_._1 == "A") == 4 && quota.count(_._1 == "B") == 2)

    val gate = Sampling.scoreThresholdGate(df, col("sc"), Seq("grp"), 250)
      .select(col("grp"), col("id")).as[(String, Long)].collect().toSet
    // the threshold is the rank-⌈750·n/1000⌉ ascending value; every row
    // tying it survives, so the gate is a superset of the quota set here
    assert(quota.subsetOf(gate), s"quota=$quota gate=$gate")
    // stratum A: threshold = rank ⌈750·16/1000⌉ = 12 ascending = 91 →
    // ids 5-9 (scores 95..91) survive; the five 90-ties sit below the cut
    assert(gate.count(_._1 == "A") == 5)
    assert(gate.count(_._1 == "B") == 2)
    // keepPm validation
    intercept[IllegalArgumentException] {
      Sampling.scoreQuota(df, "id", col("sc"), Seq("grp"), 0)
    }
    intercept[IllegalArgumentException] {
      Sampling.scoreThresholdGate(df, col("sc"), Seq("grp"), 1001)
    }
  }
}
