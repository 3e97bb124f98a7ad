package graft

import graft.pipeline._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Property tests for the training-data-pipeline operators: the two
  * connected-components execution paths agree on arbitrary graphs, hash
  * splitting matches an independent JVM md5 reimplementation, chunking
  * reassembles to the original token stream, packing is the serial
  * contiguous fill, and quantization respects its error bound.
  */
object PipelineLawsCheck extends Properties("PipelineLaws") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  val genEdges: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(2, 24)
    m <- Gen.choose(1, 40)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n.toLong)
      b <- Gen.choose(0L, n.toLong) if a != b
    } yield (a, b))
  } yield edges

  property("connected components: union-find path == iterative path") =
    forAll(genEdges) { edges =>
      edges.isEmpty || {
        val pairs = edges.toDF("id_a", "id_b")
        def run(limit: Long) =
          Dedup.connectedComponents(pairs, driverEdgeLimit = limit)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        run(Long.MaxValue) == run(0L)
      }
    }

  property("hash split matches an independent md5 reimplementation") =
    forAll(Gen.listOfN(30, Gen.choose(0L, 100000L))) { ids =>
      val fracs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      val got = ids.distinct.toDF("id")
        .select(col("id"), Sampling.splitColumn(col("id"), "s42", fracs).as("s"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val md = java.security.MessageDigest.getInstance("MD5")
      def bucket(id: Long): Long = {
        val hex = md.digest(s"$id:s42".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(4), 16)
      }
      ids.distinct.forall { id =>
        val b = bucket(id)
        val want = if (b < 52429L) "train" else if (b < 58983L) "val" else "test"
        got(id) == want
      }
    }

  val genDoc: Gen[(Int, Int, Int)] = for { // (nTokens, window, stride)
    n <- Gen.choose(1, 40)
    w <- Gen.choose(1, 12)
    s <- Gen.choose(1, w)
  } yield (n, w, s)

  property("chunking == in-memory sliding window; every token covered") =
    forAll(genDoc) { case (n, w, s) =>
      val toks = (1 to n).map(i => s"t$i")
      val out = Chunking.chunkDocs(Seq((1L, toks.mkString(" ")))
          .toDF("doc_id", "text"), "doc_id", col("text"), w, s)
        .orderBy("chunk_id").collect().map(_.getString(2)).toList
      val expect =
        if (n <= w) List(toks.mkString(" "))
        else (0 to ((n - w + s - 1) / s)).map(i =>
          toks.slice(i * s, i * s + w).mkString(" ")).toList
      out == expect && expect.mkString(" ").split(" ").toSet == toks.toSet
    }

  property("packing == serial contiguous fill at any bucket count") =
    forAll(for {
      lens <- Gen.listOfN(25, Gen.choose(0, 30))
      nb <- Gen.choose(1, 7)
      budget <- Gen.choose(5, 50)
    } yield (lens, nb, budget)) { case (lens, nb, budget) =>
      val rows = lens.zipWithIndex.map { case (l, i) => (i.toLong, l) }
      val got = Sampling.packSequences(rows.toDF("doc_id", "n"), "doc_id",
          col("n"), budget, nb)
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      var cum = 0L
      rows.forall { case (id, l) =>
        val ok = got(id) == ((cum / budget, cum % budget))
        cum += l
        ok
      }
    }

  property("int8 quantization: codes bounded, per-element error <= scale/2") =
    forAll(Gen.listOfN(8, Gen.choose(-1000, 1000).map(_ / 250.0f))) { vs =>
      val row = Seq((1L, vs.toArray)).toDF("id", "v")
        .withColumn("_s", Similarity.int8Scale(col("v")))
        .withColumn("_q", Similarity.int8Codes(col("v"), col("_s")))
        .withColumn("_r", Similarity.int8Dequantize(col("_q"), col("_s")))
        .collect()(0)
      val (s, q, r) = (row.getDouble(2), row.getSeq[Long](3), row.getSeq[Double](4))
      q.forall(c => c >= -127 && c <= 127) &&
        r.zip(vs).forall { case (rec, v) => math.abs(rec - v) <= s / 2 + 1e-12 }
    }

  property("substring dup: replicating the corpus makes every window a duplicate") =
    forAll(Gen.listOfN(4, Gen.listOfN(12, Gen.oneOf("alpha", "beta", "gamma",
        "delta", "eps")).map(_.mkString(" ")))) { texts =>
      val base = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val doubled = (base ++ base.map { case (i, t) => (i + 1000L, t) })
        .toDF("doc_id", "text")
      Dedup.substringDupStats(doubled, "doc_id", col("text"),
          k = 20, stride = 7, cacheWindows = false)
        .collect().forall(r => r.getLong(1) == r.getLong(2)) // n_win == n_dup
    }

  property("bpe: piece count monotonically non-increasing in merge count") =
    forAll(Gen.listOfN(10, Gen.oneOf("aba", "abab", "bab", "aabb", "ba"))) { ws =>
      val text = ws.mkString(" ")
      val d = Seq((1L, text)).toDF("doc_id", "text")
      val merges = Bpe.trainLocal(
        ws.groupBy(identity).map { case (w, g) => (w, g.size.toLong) }.toSeq,
        nMerges = 6)
      val counts = (0 to merges.length).map { m =>
        d.select(size(Bpe.encode(col("text"), merges.take(m))))
          .collect()(0).getInt(0)
      }
      counts.zip(counts.tail).forall { case (a, b) => b <= a }
    }

  // tiny token alphabet + messy whitespace forces gram collisions, count
  // ties and empty-token edge cases in the same document
  val genText: Gen[String] = for {
    n <- Gen.choose(0, 40)
    toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "ab", "ba", "é", "Ω", "x"))
    seps <- Gen.listOfN(n + 1, Gen.oneOf(" ", "  ", "\t", "\n", ""))
  } yield seps.zipAll(toks, "", "").map { case (s, t) => s + t }.mkString

  property("shingles: one-pass expression == HOF transform on random text") =
    forAll(Gen.listOfN(6, genText), Gen.choose(1, 4)) { (texts, n) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      df.select(Dedup.shingleArray(col("text"), n).as("e"),
          Dedup.shinglesHof(col("text"), n).as("h")).collect()
        .forall(r => r.getSeq[String](0) == r.getSeq[String](1))
    }

  property("simhash bits: one-pass expression == hex-nibble formula") =
    forAll(Gen.listOfN(8, Gen.oneOf(Gen.alphaNumStr.map(_.take(12)),
        Gen.oneOf("é", "Ω", "", " ", "münchen")))) { toks =>
      val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "tok")
      df.select(Dedup.simhashBitArray(col("tok")).as("e"),
          Dedup.simhashBitsHof(col("tok")).as("h")).collect()
        .forall(r => r.getSeq[Int](0) == r.getSeq[Int](1))
    }

  property("dsir units: one-pass expression == HOF aggregate on random text") =
    forAll(Gen.listOfN(6, genText), Gen.listOfN(6, Gen.oneOf(true, false)),
        Gen.oneOf(16, 64, 512)) { (texts, tgts, buckets) =>
      val df = texts.zip(tgts).zipWithIndex.map { case ((t, g), i) =>
        (i.toLong, t, g)
      }.toDF("doc_id", "text", "tgt")
      val rows = df.select(
          Importance.dsirUnitsColumn(df, col("text"), col("tgt"), buckets)
            .as("e"),
          Importance.dsirUnitsHofColumn(df, col("text"), col("tgt"), buckets)
            .as("h")).collect()
      rows.forall(r => r.getLong(0) == r.getLong(1))
    }

  property("lm trigram score: expression path == relational path on unicode") =
    forAll(Gen.listOfN(5, for {
      n <- Gen.choose(0, 24)
      cs <- Gen.listOfN(n, Gen.oneOf(
        "a", "B", " ", "é", "Ω", "ß", "中", "😀", "\t", "z"))
    } yield cs.mkString), Gen.listOfN(5, Gen.oneOf(true, false))) {
      (texts, tgts) =>
      val df = texts.zip(tgts).zipWithIndex.map { case ((t, g), i) =>
        (i.toLong, t, g)
      }.toDF("doc_id", "text", "tgt")
      def run(gate: Long) = LanguageModel.charTrigramScore(
        df, "doc_id", col("text"), col("tgt"), modelGate = gate)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
      run(1L << 20) == run(0L) // scan-speed expression == explode + join
    }

  // adversarial tag/entity soup: unterminated spans, tags nested inside
  // comments and vice versa, tokens broken across phase replacements
  // (`</p<br>`), rule-6 tags swallowing earlier `\n` replacements
  // (`<a </p> b>`), double-encoded entities, mixed case, carriage returns
  // (NOT chain whitespace) — every residue subtlety the chain's phase
  // ordering creates
  val genHtml: Gen[String] = for {
    n <- Gen.choose(0, 24)
    frags <- Gen.listOfN(n, Gen.oneOf(Gen.oneOf(
      "<script>", "</script>", "<script a>", "<SCRIPT>", "</SCRIPT>",
      "<scripty>", "<style>", "</style>", "<StYlE x>", "<!--", "-->",
      "<!---->", "</p>", "</P>", "</div>", "</h3>", "</table>", "</tr>",
      "</blockquote>", "<br>", "<br/>", "<Br >", "<b>", "</b>", "<",
      ">", "</p<br>", "<a </p> b>", "<!--<script>-->x</script>",
      "&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;", "&amp;lt;",
      "&", ";", "&amp", "&lt", "&#3", "&x;"),
      Gen.oneOf("text", "a b", "Tail words", " ", "  ", "\n", "\t",
        "\r", "é Ω", "10 < 20", "x>y", "\"q\"", "it's")))
  } yield frags.mkString

  property("html extract: one-pass expression == regexp_replace chain") =
    forAll(Gen.listOfN(6, genHtml)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      df.select(TextAnalysis.htmlExtract(col("text")).as("e"),
          TextAnalysis.htmlExtractChain(col("text")).as("c")).collect()
        .forall(r => r.getString(0) == r.getString(1))
    }

  property("repetition: one-pass expression == HOF folds on random text") =
    forAll(Gen.listOfN(6, genText)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val rows = df.select(Repetition.stats(col("text")).as("st"),
          Repetition.typeTokenRatio(col("text")),
          Repetition.topNgramCharFraction(col("text"), 2),
          Repetition.topNgramCharFraction(col("text"), 3),
          Repetition.dupNgramCharFraction(col("text"), 5)).collect()
      rows.forall { r =>
        val st = r.getStruct(0)
        st.getDouble(0) == r.getDouble(1) && st.getDouble(1) == r.getDouble(2) &&
          st.getDouble(2) == r.getDouble(3) && st.getDouble(3) == r.getDouble(4)
      }
    }

  // ---- round-16 retrieval / normalization laws ----

  private val uniPool: Seq[Char] = Seq(
    'a', 'b', 'z', 'Q', '0', '9', ' ', ' ', '\t', '\n',
    '\u0301', // combining acute
    '\u030a', // combining ring
    '\u00e9', // precomposed e-acute
    '\u212b', // Angstrom sign (NFC singleton)
    '\u1100', '\u1161', '\u11a8', // Hangul Jamo L V T
    '\u200b', '\u00ad', '\u200e', // Cf: ZWSP, soft hyphen, LTR mark
    '\u00a0', // NBSP (Zs)
    '\u0007', // BEL (Cc)
    '\u4e2d' // CJK
  )

  val genUniText: Gen[String] = for {
    n <- Gen.choose(0, 40)
    cs <- Gen.listOfN(n, Gen.oneOf(uniPool))
  } yield cs.mkString

  private def jvmChain(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      .replaceAll("[\\p{Cc}\\p{Cf}]", "").replaceAll("\\s+", " ").trim

  property("nfc expression == java.text.Normalizer on arbitrary unicode") =
    forAll(Gen.listOfN(6, genUniText)) { texts =>
      import spark.implicits._
      texts.isEmpty || {
        // repartition defeats local-relation folding: the EXPRESSION runs
        val rows = texts.zipWithIndex.map { case (t, i) => (i, t) }
          .toDF("id", "t").repartition(2)
          .select(col("id"), TextAnalysis.nfc(col("t")).as("n"),
            TextAnalysis.normalizeText(col("t")).as("c"))
          .as[(Int, String, String)].collect()
        rows.forall { case (i, n, c) =>
          n == java.text.Normalizer.normalize(
            texts(i), java.text.Normalizer.Form.NFC) &&
            c == jvmChain(texts(i))
        }
      }
    }

  val genCorpusDocs: Gen[List[String]] = {
    val vocab = Seq("alpha", "beta", "gamma", "delta", "query", "join",
      "scan", "merge")
    for {
      nd <- Gen.choose(1, 12)
      docs <- Gen.listOfN(nd, for {
        nw <- Gen.choose(0, 10)
        ws <- Gen.listOfN(nw, Gen.oneOf(vocab))
      } yield ws.mkString(" "))
    } yield docs
  }

  property("bm25 == in-JVM reference on random corpora") =
    forAll(genCorpusDocs, Gen.someOf(Seq("query", "join", "gamma"))) {
      (docs, qRaw) =>
        import spark.implicits._
        val terms = qRaw.toSeq
        terms.isEmpty || {
          val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
            .toDF("doc_id", "text")
          val got = Retrieval.bm25TopK(df, terms, k = 100)
            .as[(Long, Long)].collect().toMap
          got == bm25JvmRef(docs, terms)
        }
    }

  /** In-JVM BM25 twin: same formula, same unit rounding. */
  private def bm25JvmRef(docs: Seq[String], terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): Map[Long, Long] = {
    def toks(t: String): Seq[String] =
      if (t.trim.isEmpty) Nil else t.trim.toLowerCase.split("\\s+").toSeq
    val n = docs.size.toLong
    val totalTok = docs.map(d => toks(d).size.toLong).sum
    val avgdl = totalTok.toDouble / n
    val dfm = terms.map(q => q -> docs.count(d => toks(d).contains(q)).toLong).toMap
    docs.zipWithIndex.flatMap { case (text, i) =>
      val tk = toks(text)
      val units = terms.flatMap { q =>
        val tf = tk.count(_ == q).toLong
        if (tf == 0 || dfm(q) == 0) None
        else {
          val idf = math.log(1.0 + (n - dfm(q) + 0.5) / (dfm(q) + 0.5))
          val tfn = (tf * (k1 + 1.0)) /
            (tf + k1 * ((1.0 - b) + b * (tk.size.toLong / avgdl)))
          Some(math.round(idf * tfn * 1e6))
        }
      }
      if (units.isEmpty) None else Some(i.toLong -> units.sum)
    }.toMap
  }

  property("pagerank == hand-unrolled integer iterations on random graphs") =
    forAll(genEdges, Gen.choose(0, 3)) { (edgesL, iters) =>
      import spark.implicits._
      edgesL.isEmpty || {
        val edges = edgesL.map { case (a, b) => (s"n$a", s"n$b") }
        val got = LinkGraph.pageRank(edges.toDF("src", "dst"), iters)
          .as[(String, Long)].collect().toMap
        val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
        val nn = nodes.size.toLong
        val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
        var r = nodes.map(_ -> LinkGraph.Unit_ / nn).toMap
        for (_ <- 0 until iters) {
          val in = edges.groupBy(_._2).map { case (d, es) =>
            d -> es.map { case (s, _) => r(s) * 85 / (100 * deg(s)) }.sum
          }
          r = nodes.map(x =>
            x -> (LinkGraph.Unit_ * 15 / (100 * nn) + in.getOrElse(x, 0L))).toMap
        }
        got == r
      }
    }

  property("bottom-k samplers (heap) == in-JVM sort-take reference") =
    forAll(Gen.listOfN(40, Gen.choose(0L, 100000L)), Gen.choose(1, 12)) {
      (idsRaw, k) =>
        import spark.implicits._
        val ids = idsRaw.distinct
        ids.isEmpty || {
          val md = java.security.MessageDigest.getInstance("MD5")
          // 52-bit hashRank (13 md5 nibbles) — the fine-grained rank the
          // samplers use so exact-k selection stays uniform past 65k rows
          def bucket(id: Long, salt: String): Long = {
            val hex = md.digest(s"$id:$salt".getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            java.lang.Long.parseLong(hex.take(13), 16)
          }
          // weights: deterministic positive function of the id, with a
          // couple of zero-weight rows that must be EXCLUDED
          def w(id: Long): Long = if (id % 7 == 0) 0L else (id % 13) + 1
          val df = ids.map(i => (i, w(i))).toDF("id", "wt")

          val uGot = Sampling.uniformSampleK(df, "id", k, "su")
            .as[(Long, Long)].collect().toSeq
          val uWant = ids.map(i => (bucket(i, "su"), i)).sorted.take(k)
            .zipWithIndex.map { case ((_, i), p) => ((p + 1).toLong, i) }

          val wGot = Sampling.weightedSampleK(df, "id", col("wt"), k, "sw")
            .as[(Long, Long)].collect().toSeq
          val wWant = ids.filter(w(_) > 0)
            .map { i =>
              val u = (bucket(i, "sw") + 1L).toDouble / 4503599627370496.0
              // StrictMath.log IS the function Spark's log() evaluates
              (StrictMath.log(u) / w(i).toDouble, i)
            }
            .sortBy { case (key, i) => (-key, i) }.take(k)
            .zipWithIndex.map { case ((_, i), p) => ((p + 1).toLong, i) }

          uGot == uWant && wGot == wWant
        }
    }

  val genPoly: Gen[Seq[(Double, Double)]] = for {
    n <- Gen.choose(3, 6)
    cx <- Gen.choose(-8.0, 8.0)
    cy <- Gen.choose(-8.0, 8.0)
    r <- Gen.choose(0.5, 5.0)
  } yield {
    // star-shaped polygon around (cx, cy): vertices at increasing angles
    // (simple, non-self-intersecting), quantized to .25 steps so shared
    // coordinates stay representable and boundary cases stay OFF-vertex
    (0 until n).map { i =>
      val a = 2 * math.Pi * i / n
      (math.rint((cx + r * math.cos(a)) * 4) / 4,
        math.rint((cy + r * math.sin(a)) * 4) / 4)
    }
  }

  property("filter_vector == in-JVM three-case replay on random polygons") =
    forAll(Gen.listOfN(6, genPoly), genPoly) { (geoms, filterRing) =>
      import spark.implicits._
      (filterRing.distinct.size >= 3 &&
          geoms.forall(_.distinct.size >= 3)) ==> {
        // stored geometries are CLOSED rings (GeoJSON convention)
        val closed = geoms.map(g => g :+ g.head)
        val df = closed.zipWithIndex.map { case (g, i) => (i.toLong, g) }
          .toDF("geom_id", "_raw")
          .select(col("geom_id"), expr(
            "transform(_raw, p -> named_struct('x', p._1, 'y', p._2))")
            .as("geometry"))
        val got = graft.operators.VectorOps
          .filterVector(df, "geometry", filterRing)
          .select(col("geom_id")).as[Long].collect().toSet
        def pipWrap(px: Double, py: Double, ring: Seq[(Double, Double)]) = {
          val edges = ring.zip(ring.tail :+ ring.head)
          edges.count { case ((x1, y1), (x2, y2)) =>
            ((y1 > py) != (y2 > py)) &&
              px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
          } % 2 == 1
        }
        def pipClosed(px: Double, py: Double, g: Seq[(Double, Double)]) =
          g.size >= 3 && g.sliding(2).count { case Seq((x1, y1), (x2, y2)) =>
            ((y1 > py) != (y2 > py)) &&
              px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
          } % 2 == 1
        def orient(px: Double, py: Double, qx: Double, qy: Double,
            rx: Double, ry: Double): Double =
          (qx - px) * (ry - py) - (qy - py) * (rx - px)
        val fEdges = filterRing.zip(filterRing.tail :+ filterRing.head)
        def onSeg(px: Double, py: Double, qx: Double, qy: Double,
            rx: Double, ry: Double): Boolean =
          rx >= math.min(px, qx) && rx <= math.max(px, qx) &&
            ry >= math.min(py, qy) && ry <= math.max(py, qy)
        val want = closed.zipWithIndex.collect {
          case (g, i) if {
            val c1 = g.exists { case (x, y) => pipWrap(x, y, filterRing) }
            val c2 = filterRing.exists { case (fx, fy) => pipClosed(fx, fy, g) }
            val c3 = g.sliding(2).exists { case Seq((ax, ay), (bx, by)) =>
              fEdges.exists { case ((cx, cy), (dx, dy)) =>
                orient(cx, cy, dx, dy, ax, ay) *
                  orient(cx, cy, dx, dy, bx, by) < 0 &&
                orient(ax, ay, bx, by, cx, cy) *
                  orient(ax, ay, bx, by, dx, dy) < 0
              }
            }
            // closed-set boundary touches (filterVector cases 4 + 5)
            val c4 = g.exists { case (vx, vy) =>
              fEdges.exists { case ((cx, cy), (dx, dy)) =>
                orient(cx, cy, dx, dy, vx, vy) == 0 &&
                  onSeg(cx, cy, dx, dy, vx, vy)
              }
            }
            val c5 = g.sliding(2).exists { case Seq((ax, ay), (bx, by)) =>
              filterRing.exists { case (fx, fy) =>
                orient(ax, ay, bx, by, fx, fy) == 0 &&
                  onSeg(ax, ay, bx, by, fx, fy)
              }
            }
            c1 || c2 || c3 || c4 || c5
          } => i.toLong
        }.toSet
        got == want
      }
    }
}
