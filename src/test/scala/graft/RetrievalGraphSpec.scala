package graft

import graft.pipeline.{LinkGraph, Retrieval}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** BM25 retrieval (pipeline.Retrieval) and link-graph PageRank
  * (pipeline.LinkGraph): exact integer-unit arithmetic against
  * hand-unrolled references, tie-break determinism, degenerate inputs,
  * and the plan contracts that make both viable at 100 TB — BM25's top-k
  * must be a TakeOrdered (never a global sort) with broadcast stats, and
  * PageRank's per-iteration work must be equi-joins (never a cartesian
  * against the edge table).
  */
class RetrievalGraphSpec extends AnyFunSuite {

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

  // ---- BM25 ----

  private val corpus = Seq(
    (0L, "spark query engine for big data query plans"),
    (1L, "query query query optimizer"),
    (2L, "distributed data shuffle and join"),
    (3L, "   "), // blank: dl 0, no postings
    (4L, "the join order and the join strategy"),
    (5L, "query engine")
  )

  /** Reference BM25 in plain Scala — same formula, same unit rounding. */
  private def bm25Ref(docs: Seq[(Long, String)], terms: Seq[String],
                      k1: Double = 1.2, b: Double = 0.75): Map[Long, Long] = {
    def toks(t: String): Seq[String] =
      t.trim.toLowerCase.split("\\s+").toSeq.filter(_ => t.trim.nonEmpty)
    val n = docs.size.toLong
    val totalTok = docs.map(d => toks(d._2).size.toLong).sum
    val avgdl = totalTok.toDouble / n
    val df = terms.map { q =>
      q -> docs.count(d => toks(d._2).contains(q)).toLong
    }.toMap
    docs.flatMap { case (id, text) =>
      val tk = toks(text)
      val dl = tk.size.toLong
      val units = terms.flatMap { q =>
        val tf = tk.count(_ == q).toLong
        if (tf == 0 || df(q) == 0) None
        else {
          val idf = math.log(1.0 + (n - df(q) + 0.5) / (df(q) + 0.5))
          val tfn = (tf * (k1 + 1.0)) /
            (tf + k1 * ((1.0 - b) + b * (dl / avgdl)))
          Some(math.round(idf * tfn * 1e6))
        }
      }
      if (units.isEmpty) None else Some(id -> units.sum)
    }.toMap
  }

  test("bm25 matches the hand formula in exact micro-units") {
    val docs = corpus.toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, Seq("query", "join"), k = 10)
      .as[(Long, Long)].collect().toMap
    val want = bm25Ref(corpus, Seq("query", "join"))
    assert(got == want)
    assert(!got.contains(3L)) // blank doc never scores
  }

  test("bm25 ranks high-tf rare terms above common terms, ties by id") {
    val docs = corpus.toDF("doc_id", "text")
    val rows = Retrieval.bm25TopK(docs, Seq("query", "join"), k = 10)
      .as[(Long, Long)].collect()
    // ordering law: non-increasing score, id ascending within equal scores
    rows.sliding(2).foreach {
      case Array((ida, sa), (idb, sb)) =>
        assert(sa > sb || (sa == sb && ida < idb))
      case _ =>
    }
    // doc 1 (tf=3 of 'query' in a 4-token doc) must outrank doc 0 (tf=2)
    val byId = rows.map(r => r._1 -> r._2).toMap
    assert(byId(1L) > byId(0L))
  }

  test("bm25 k truncates AFTER the deterministic total order") {
    val docs = corpus.toDF("doc_id", "text")
    val all = Retrieval.bm25TopK(docs, Seq("query", "join"), k = 10)
      .as[(Long, Long)].collect()
    val two = Retrieval.bm25TopK(docs, Seq("query", "join"), k = 2)
      .as[(Long, Long)].collect()
    assert(two.toSeq == all.take(2).toSeq)
  }

  test("bm25 rejects empty and duplicate queries") {
    val docs = corpus.toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(docs, Nil, k = 5)
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(docs, Seq("query", "Query"), k = 5)
    }
  }

  test("bm25 plan: TakeOrdered top-k, broadcast stats, no cartesian") {
    val docs = corpus.toDF("doc_id", "text")
    // cachePostings = false: the default scope-checkpoints the k-row
    // result, whose executed plan is just the checkpoint scan — plan
    // audits inspect the lazy shape
    val plan = Retrieval.bm25TopK(docs, Seq("query", "join"), k = 3,
        cachePostings = false)
      .queryExecution.executedPlan
    val s = plan.toString
    assert(s.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered, not a global sort:\n$s")
    assert(!s.contains("CartesianProduct"), s"cartesian leaked:\n$s")
    // the one-row stats frame and the q-row df frame ride broadcasts
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      s"stats must broadcast:\n$s")
  }

  // ---- PageRank ----

  /** Hand-unrolled integer PageRank, same arithmetic as the engine. */
  private def prRef(edges: Seq[(String, String)], iters: Int): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size.toLong
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r = nodes.map(_ -> LinkGraph.Unit_ / n).toMap
    for (_ <- 0 until iters) {
      val in = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => r(s) * 85 / (100 * deg(s)) }.sum
      }
      r = nodes.map(x =>
        x -> (LinkGraph.Unit_ * 15 / (100 * n) + in.getOrElse(x, 0L))).toMap
    }
    r
  }

  private val graph = Seq(
    "a" -> "b", "a" -> "c", "b" -> "a", "c" -> "a", "c" -> "b",
    "d" -> "a", // d is a source (rank floor), e below is dangling
    "a" -> "e",
    "b" -> "a" // parallel edge: counts twice (multigraph convention)
  )

  test("pagerank matches the hand-unrolled integer iterations") {
    for (iters <- Seq(0, 1, 3)) {
      val got = LinkGraph.pageRank(graph.toDF("src", "dst"), iters)
        .as[(String, Long)].collect().toMap
      assert(got == prRef(graph, iters), s"iters=$iters")
    }
  }

  test("pagerank: scoped AQE bypass restores the session conf and " +
      "changes nothing observable") {
    val aqeKey = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(aqeKey)
    val scoped = LinkGraph.pageRank(graph.toDF("src", "dst"), 5)
      .as[(String, Long)].collect().toMap
    // the materialized run scopes AQE off internally; the caller's
    // session state must come back exactly as it was
    assert(spark.conf.getOption(aqeKey) == before, "AQE conf leaked")
    assert(scoped == prRef(graph, 5))
  }

  test("pagerank: dangling mass leaks, sources sit at the teleport floor") {
    val r = LinkGraph.pageRank(graph.toDF("src", "dst"), 3)
      .as[(String, Long)].collect().toMap
    assert(r.keySet == Set("a", "b", "c", "d", "e"))
    // d receives nothing: exactly the teleport term
    assert(r("d") == LinkGraph.Unit_ * 15 / (100 * 5))
    // hub a outranks everyone
    assert(r("a") == r.values.max)
    // total mass ≤ 1.0 (dangling leak + truncation only ever lose mass)
    assert(r.values.sum <= LinkGraph.Unit_)
  }

  test("pagerank plan: equi-joins only, no cartesian against edges") {
    // materialize = false: the audit needs the full lazy plan, not the
    // checkpointed scan the default returns
    val plan = LinkGraph.pageRank(graph.toDF("src", "dst"), 2,
        materialize = false)
      .queryExecution.executedPlan
    val s = plan.toString
    assert(!s.contains("CartesianProduct"), s"cartesian leaked:\n$s")
    // the only nested-loop joins are the broadcast one-row count frames
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(s).size
    val crossish = "CartesianProduct".r.findAllIn(s).size
    assert(crossish == 0 && bnl >= 1, s"unexpected join shapes:\n$s")
  }

  test("pagerank validates its input contract") {
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(Seq(("a", "b")).toDF("from", "to"), 1)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(graph.toDF("src", "dst"), -1)
    }
  }

  test("pagerank: deep iteration with checkpointing == hand-unrolled ref") {
    // k=12 with a lineage truncation every 5 iterations — the checkpoint
    // placeholders must be value-transparent, and plan depth stays
    // O(checkpointEvery) instead of O(iters)
    val got = LinkGraph.pageRank(graph.toDF("src", "dst"), 12,
        checkpointEvery = 5)
      .as[(String, Long)].collect().toMap
    assert(got == prRef(graph, 12))
  }

  test("pagerank tolerance termination: early stop == fixed-k, fewer iters") {
    // tol = 0 is the exactness regime: a zero L1 delta across a whole
    // checkpointEvery block of INTEGER iterations means the exact fixed
    // point was hit, so the early-stopped table must be bit-identical to
    // the full fixed-k run — and the run must actually stop early. A DAG
    // reaches its exact fixed point in depth+1 iterations (a CYCLIC graph
    // only decays geometrically — ~170 integer-unit iterations to lock,
    // which is exactly the case the cutoff exists to spare).
    val dag = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "c"),
      ("d", "b")).toDF("src", "dst")
    val (full, ranFull) = LinkGraph.pageRankRun(dag, 60, checkpointEvery = 5)
    val (early, ranEarly) = LinkGraph.pageRankRun(dag, 60,
      checkpointEvery = 5, tolUnits = Some(0L))
    assert(ranFull == 60)
    assert(ranEarly < 60, s"never converged within 60 iterations")
    assert(early.as[(String, Long)].collect().toMap ==
      full.as[(String, Long)].collect().toMap)
    val e = graph.toDF("src", "dst")
    // convergence testing needs actions: the lazy audit path refuses
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(e, 10, materialize = false, tolUnits = Some(0L))
    }
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(e, 10, tolUnits = Some(-1L))
    }
  }

  test("pagerank convergence: the driver's link_pagerank_converged graph " +
      "actually stops early") {
    // the REAL query shape (PipelineQueries.pagerankEdges over the real
    // documents table): most dsts are dangling and rank flow settles in
    // a handful of iterations, with the exact fixed point landing by
    // i=4 (r4 == r5, measured at sf0.001 and sf0.1 — PageRankProbe).
    // The query's checkpointEvery=4 puts the first boundary right at
    // that depth, so ONE convergence check confirms at i=5 → tally 5.
    // The driver row's hash match against the 20-iteration unrolled
    // oracle proves the early stop changed NOTHING; this tally proves
    // it actually STOPPED (without it, a convergence path that never
    // fires would pass the hash gate silently).
    val docs = graft.sources.Tables.read(spark, "/root/testdata/sf0.001",
      "documents")
    val (_, ran) = LinkGraph.pageRankRun(
      graft.queries.PipelineQueries.pagerankEdges(docs),
      iters = 20, checkpointEvery = 4, tolUnits = Some(0L))
    assert(ran == 5, s"expected convergence at iteration 5, ran $ran")
  }

  test("pagerank projects away payload columns that shadow helper names") {
    val withPayload = graph.toDF("src", "dst")
      .withColumn("_deg", lit(999L)).withColumn("node", lit("x"))
    val got = LinkGraph.pageRank(withPayload, 2)
      .as[(String, Long)].collect().toMap
    assert(got == prRef(graph, 2))
  }

  test("bm25 rejects an id column that shadows an internal helper name") {
    val docs = corpus.toDF("dl", "text")
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(docs, Seq("query"), k = 5, idCol = "dl")
    }
  }

  // ---- graph-registry arms (the evidence rows RegistryCompletenessSpec
  //      requires: graph node == direct-call twin) ----

  test("bm25 graph node == Retrieval.bm25TopK twin") {
    import graft.core.DataCube
    import graft.plans.ProcessGraph
    val cube = DataCube.fromTable(corpus.toDF("doc_id", "text"),
      Seq("doc_id"), "text")
    val g =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "b": {"process_id": "bm25",
        |        "arguments": {"data": {"from_node": "l"},
        |                      "query": ["query", "join"], "k": 4},
        |        "result": true}
        |}}""".stripMargin
    val got = ProcessGraph.execute(spark, g, _ => cube).df
      .as[(Long, Long)].collect().toSeq
    val want = Retrieval.bm25TopK(corpus.toDF("doc_id", "text"),
      Seq("query", "join"), k = 4).as[(Long, Long)].collect().toSeq
    assert(got == want && got.size == 4)
  }

  test("bm25 graph node rejects a missing or malformed query") {
    import graft.core.DataCube
    import graft.plans.ProcessGraph
    val cube = DataCube.fromTable(corpus.toDF("doc_id", "text"),
      Seq("doc_id"), "text")
    val g =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "b": {"process_id": "bm25",
        |        "arguments": {"data": {"from_node": "l"}},
        |        "result": true}
        |}}""".stripMargin
    val e = intercept[Exception] {
      ProcessGraph.execute(spark, g, _ => cube).df.collect()
    }
    assert(e.getMessage.contains("bm25.query"))
  }

  test("page_rank graph node == LinkGraph.pageRank twin") {
    import graft.core.DataCube
    import graft.plans.ProcessGraph
    val cube = DataCube.fromTable(graph.toDF("src", "dst"),
      Seq("src"), "dst")
    val g =
      """{"process_graph": {
        |  "l": {"process_id": "load_collection", "arguments": {"id": "c"}},
        |  "p": {"process_id": "page_rank",
        |        "arguments": {"data": {"from_node": "l"}, "iterations": 2},
        |        "result": true}
        |}}""".stripMargin
    val got = ProcessGraph.execute(spark, g, _ => cube).df
      .as[(String, Long)].collect().toMap
    assert(got == prRef(graph, 2))
  }

  test("bm25 batch == independent single-query runs; refusals") {
    val docs = corpus.toDF("doc_id", "text")
    val queries = Seq((1L, "query"), (1L, "join"), (2L, "engine"))
      .toDF("query_id", "term")
    val batch = Retrieval.bm25BatchTopK(docs, queries, k = 10)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(_._2).map(r => (r._3, r._4)).toSeq
      }
    val singles = Map(
      1L -> Retrieval.bm25TopK(docs, Seq("query", "join"), k = 10),
      2L -> Retrieval.bm25TopK(docs, Seq("engine"), k = 10)
    ).map { case (q, df) => q -> df.as[(Long, Long)].collect().toSeq }
    assert(batch == singles)
    intercept[IllegalArgumentException] {
      Retrieval.bm25BatchTopK(docs, queries.limit(0), k = 5)
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25BatchTopK(docs, queries, k = 5, idCol = "tf")
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25BatchTopK(docs, queries, k = 5, maxTerms = 2)
    }
    // non-integral id: the heap packs doc ids into a long slot — must
    // refuse loudly up front, not surface an ANSI cast error mid-plan
    val strDocs = corpus.toDF("doc_id", "text")
      .select(concat(lit("d"), col("doc_id")).as("doc_id"), col("text"))
    val eId = intercept[IllegalArgumentException] {
      Retrieval.bm25BatchTopK(strDocs, queries, k = 5)
    }
    assert(eId.getMessage.contains("integral"))
  }

  test("bm25 batch: the broadcast-semi-join path == the literal path") {
    val docs = corpus.toDF("doc_id", "text")
    val queries = Seq((1L, "query"), (1L, "join"), (2L, "engine"))
      .toDF("query_id", "term")
    // force the semi-join branch by shrinking the literal gate via a
    // probe set larger than it? the gate is internal — instead compare
    // against a probe set padded with absent terms so terms.size > 4096
    val pad = (0 until 4200).map(i => (9L, s"zzpad$i"))
    val big = (Seq((1L, "query"), (1L, "join"), (2L, "engine")) ++ pad)
      .toDF("query_id", "term")
    val small = Retrieval.bm25BatchTopK(docs, queries, k = 10)
      .as[(Long, Long, Long, Long)].collect().toSet
    val padded = Retrieval.bm25BatchTopK(docs, big, k = 10)
      .as[(Long, Long, Long, Long)].collect().toSet
    // absent pad terms contribute nothing: query 9 has no hits, queries
    // 1 and 2 score identically through EITHER pruning path
    assert(padded == small)
  }
}
