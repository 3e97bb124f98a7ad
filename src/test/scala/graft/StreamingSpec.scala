package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stateful-streaming semantics: the session operator must reach the same
  * answer as the batch sessionize logic while carrying only per-user state
  * across micro-batches.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  test("sessionizeStream matches batch sessionization across micro-batches") {
    val gap = 1800L * 1000000L // 30 min in micros
    val m = 60L * 1000000L     // one minute
    // user 1: events at 0,10,20 min (one session), then 120..125 min (second)
    // user 2: single event, then one more within the gap in a LATER batch
    //         (state must extend the open session, not start a new one)
    // base offset keeps every event above Spark's initial watermark (0):
    // an epoch-0 event would be filtered as late before reaching the operator
    val b = 60L
    val chunk1 = Seq((1L, b * m), (1L, (b + 10) * m), (2L, (b + 5) * m))
    val chunk2 = Seq((1L, (b + 20) * m), (2L, (b + 25) * m))
    val chunk3 = Seq((1L, (b + 120) * m), (1L, (b + 125) * m))

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long)]
    val q = StreamingOps.sessionizeStream(stream.toDS(), gap)
      .writeStream.outputMode("update").format("memory")
      .queryName("sess_test").start()
    try {
      Seq(chunk1, chunk2, chunk3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
    } finally q.stop()

    // snapshots are monotone → the max per user is the final state
    val got = spark.table("sess_test")
      .groupBy(col("user_id"))
      .agg(max(col("n_sessions")).as("n"), max(col("longest")).as("l"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // batch ground truth: user 1 → sessions {3 events, 2 events};
    // user 2 → one session of 2 events
    assert(got == Map(1L -> ((2L, 3L)), 2L -> ((1L, 2L))))
  }

  test("dedupStream keeps first per key across batches, expires old keys") {
    val m = 60L * 1000000L
    val b = 60L
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Long)]
    val deduped = StreamingOps.dedupStream(
      stream.toDS().toDF("content_key", "tsu")
        .withColumn("ts", timestamp_micros(col("tsu"))),
      Seq("content_key"), "ts", watermarkDelay = "30 minutes")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    try {
      // batch 1: A twice (in-batch dup) + B; batch 2: A again within the
      // window (cross-batch dup); batch 3 advances the watermark far past
      // A's state; batch 4: A returns after expiry -> re-emitted
      Seq(
        Seq(("A", b * m), ("A", (b + 1) * m), ("B", (b + 5) * m)),
        Seq(("A", (b + 10) * m)),
        Seq(("C", (b + 600) * m)),
        Seq(("A", (b + 610) * m))
      ).foreach { c => stream.addData(c); q.processAllAvailable() }
      val got = spark.table("dedup_stream")
        .groupBy(col("content_key")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got("B") == 1L && got("C") == 1L)
      assert(got("A") == 2L, // once in the window, once after expiry
        s"expected A emitted twice, got $got")
      val sop = q.recentProgress.filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators(0))
      assert(sop.map(_.numRowsRemoved).sum >= 1,
        "expired dedup keys must leave the state store")
    } finally q.stop()
  }

  test("sessionizeStream bounds state: late rows drop, idle users expire") {
    val gap = 1800L * 1000000L // 30 min
    val m = 60L * 1000000L
    // u1: {0,10,15(out-of-order),20}m then {120,125}m; u2: {5,25}m then
    // idle; u3 appears late in the stream. A u2 row at 60m arrives AFTER the
    // watermark has passed it → dropped, not a new session.
    val b = 60L // above the initial watermark (see previous test)
    val chunks = Seq(
      Seq((1L, b * m), (1L, (b + 10) * m), (2L, (b + 5) * m)),
      Seq((1L, (b + 20) * m), (1L, (b + 15) * m), (2L, (b + 25) * m)), // +15m out of order
      Seq((1L, (b + 120) * m), (1L, (b + 125) * m)), // watermark → b+115m
      Seq((2L, (b + 60) * m), (3L, (b + 200) * m)),  // b+60m late; u2 expires
      Seq((3L, (b + 400) * m)))                      // u1 expires; u3 lives on

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long)]
    val q = StreamingOps.sessionizeStream(stream.toDS(), gap)
      .writeStream.outputMode("update").format("memory")
      .queryName("sess_bounded").start()
    try {
      chunks.foreach { c => stream.addData(c); q.processAllAvailable() }

      val got = spark.table("sess_bounded")
        .groupBy(col("user_id"))
        .agg(max(col("n_sessions")).as("n"), max(col("longest")).as("l"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // u1: {4-event, 2-event}; u2: one 2-event session (60m row dropped);
      // u3: two 1-event sessions
      assert(got == Map(1L -> ((2L, 4L)), 2L -> ((1L, 2L)), 3L -> ((2L, 1L))))

      val sop = q.recentProgress.filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators(0))
      assert(sop.map(_.numRowsDroppedByWatermark).sum >= 1,
        "the late u2 row must be dropped by the watermark")
      assert(sop.map(_.numRowsRemoved).sum >= 2,
        "u1 and u2 state records must expire via EventTimeTimeout")
      assert(sop.last.numRowsTotal <= 1,
        s"only the active user may hold state, got ${sop.last.numRowsTotal}")
    } finally q.stop()
  }

  test("pipeline Column ops compose unchanged on streams (redact+split+quality)") {
    // redactPii / splitColumn / qualityScore are stateless Column programs,
    // so the SAME expressions serve batch and ingest-time streaming — this
    // pins that contract (no stateful op, no watermark needed, append mode)
    import graft.pipeline.{Sampling, TextAnalysis}
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val cleaned = stream.toDS().toDF("doc_id", "text")
      .select(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("text"),
        Sampling.splitColumn(col("doc_id"), "s42",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    val q = cleaned.writeStream.outputMode("append").format("memory")
      .queryName("pipe_stream").start()
    try {
      stream.addData(Seq((1L, "mail a@b.co now"), (2L, "clean text")))
      q.processAllAvailable()
      stream.addData(Seq((3L, "ssn 123-45-6789 leaked")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("pipe_stream").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got(1L)._1 == "mail <EMAIL> now")
    assert(got(2L)._1 == "clean text")
    assert(got(3L)._1 == "ssn <SSN> leaked")
    // split agrees with the batch assignment of the same ids
    val batch = Seq(1L, 2L, 3L).toDF("doc_id")
      .select(col("doc_id"), Sampling.splitColumn(col("doc_id"), "s42",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.forall { case (id, (_, s)) => batch(id) == s })
  }

  test("one-pass custom expressions run unchanged on streams (repetition+shingles)") {
    // the imperative Catalyst expressions are stateless per-row programs
    // like any built-in — an ingest-time quality filter + shingle extraction
    // must work inside a micro-batch plan with no batch-only assumptions
    import graft.pipeline.{Dedup, Repetition}
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val scored = stream.toDS().toDF("doc_id", "text")
      .withColumn("st", Repetition.stats(col("text")))
      .select(col("doc_id"),
        round(col("st.ttr"), 6).as("ttr"),
        size(Dedup.shingleArray(col("text"), 2)).as("n_sh"))
    val q = scored.writeStream.outputMode("append").format("memory")
      .queryName("expr_stream").start()
    try {
      stream.addData(Seq((1L, "a b a b a b"), (2L, "x y z w")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("expr_stream").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    assert(got(1L) == ((round6(2.0 / 6), 2)))  // {a,b} of 6 toks; {a b, b a}
    assert(got(2L) == ((1.0, 3)))
  }

  test("crawl-ingest expressions run unchanged on streams (html+canonical url)") {
    // the round-6 crawl family is stateless per-row like the rest: a
    // streaming ingest can extract boilerplate-free text and canonical
    // URLs inside the micro-batch plan
    import graft.pipeline.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, String)]
    val out = stream.toDS().toDF("doc_id", "html", "url")
      .select(col("doc_id"),
        TextAnalysis.htmlExtract(col("html")).as("clean"),
        TextAnalysis.canonicalizeUrl(col("url")).as("canon"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("crawl_stream").start()
    try {
      stream.addData(Seq(
        (1L, "<p>Hello</p><script>x</script><div>world</div>",
          "HTTPS://Site.Example.com:443/a?utm_source=x&b=1#f"),
        (2L, "plain &amp; text", "not a url")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("crawl_stream").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got(1L) == (("Hello\nworld", "https://site.example.com/a?b=1")))
    assert(got(2L) == (("plain & text", "")))
  }

  test("file-driven oracle runners match their batch twins at sf0.001") {
    // sessionize_stream / dedup_stream are otherwise exercised only by the
    // driver gate; pin them in the suite so local dev catches breakage.
    val dir = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.events(spark, dir)

    // the batch twin is THE registered driver query — one definition, so a
    // future change to its session semantics re-pins this parity test too
    val sessBatch = graft.queries.PipelineQueries.queries("sessionize")(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val sessStream = StreamingOps
      .singleFile(StreamingOps.Sessionize)(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(sessStream == sessBatch)

    val keysBatch = ev.select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val keysStream = StreamingOps
      .singleFile(StreamingOps.Dedup)(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(keysStream.length == keysStream.toSet.size, "duplicate keys emitted")
    assert(keysStream.toSet == keysBatch)
  }

  test("MULTI-BATCH file-driven runners match batch twins at sf0.001") {
    // the r11 evidence upgrade: state crosses the 3 time-ordered shards'
    // micro-batch boundaries (asserted inside the runner) and parity must
    // still hold
    val dir = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.events(spark, dir)

    val sessBatch = graft.queries.PipelineQueries.queries("sessionize")(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val sessStream = StreamingOps
      .multiBatch(StreamingOps.Sessionize)(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(sessStream == sessBatch)

    val keysBatch = ev.select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val keysStream = StreamingOps
      .multiBatch(StreamingOps.Dedup)(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(keysStream.length == keysStream.toSet.size, "duplicate keys emitted")
    assert(keysStream.toSet == keysBatch)
  }

  test("top-k stream runners (single + multi-batch) match the batch row") {
    // the heap state is exact at ANY batching (total order, pure merge),
    // so both delivery shapes must equal the registered batch aggregator
    // row bit-for-bit
    val dir = "/root/testdata/sf0.001"
    val batch = graft.queries.PipelineQueries.queries("topk_per_type")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(batch.nonEmpty)
    val single = StreamingOps
      .singleFile(StreamingOps.TopK)(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(single == batch)
    val multi = StreamingOps
      .multiBatch(StreamingOps.TopK)(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(multi == batch)
  }

  test("CDC upsert stream runners (single + multi-batch) match the batch row") {
    // latest-per-key state is exact at ANY batching ((ts, event_id) is a
    // total order, max over it a pure merge) — both delivery shapes must
    // equal the registered batch compaction bit-for-bit; in the multi-batch
    // run a key's winning row routinely lands several batches after its
    // first, so the upsert state genuinely crosses batch boundaries
    val dir = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
    val batch = graft.queries.PipelineQueries.queries("cdc_latest")(spark, dir)
      .collect().map(key).toSet
    assert(batch.nonEmpty)
    val single = StreamingOps
      .singleFile(StreamingOps.CdcLatest)(spark, dir)
      .collect().map(key).toSet
    assert(single == batch)
    val multi = StreamingOps
      .multiBatch(StreamingOps.CdcLatest)(spark, dir)
      .collect().map(key).toSet
    assert(multi == batch)
  }

  test("stream-stream attribution join emits exactly the batch pair set") {
    // inner event-time-bounded join: with the watermark delay covering the
    // table span nothing is evicted before its partner arrives, so the
    // emitted pairs equal the batch inequality join — including in the
    // multi-batch run, where view and click routinely arrive in DIFFERENT
    // micro-batches and every pair must cross the join's buffered state
    val dir = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.events(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val batch = v.join(c,
        col("user_id") === col("c_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") < col("view_ts") + expr("INTERVAL 60 MINUTES"))
      .select(col("view_id"), col("click_id"), col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    val single = StreamingOps
      .singleFile(StreamingOps.Attribution)(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(single == batch)
    val multi = StreamingOps
      .multiBatch(StreamingOps.Attribution)(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(multi == batch)
  }

  test("stream-static enrichment matches the batch dimension join") {
    // the broadcast dims are re-planned per micro-batch; the stateful
    // aggregate on top is a pure merge, so single- and multi-batch runs
    // must both equal the batch join exactly
    val dir = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.events(spark, dir)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = spark.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey"), col("n_name"))
    val batch = ev.join(cust, col("user_id") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(batch.nonEmpty)
    val single = StreamingOps
      .singleFile(StreamingOps.Enrich)(spark, dir)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(single == batch)
    val multi = StreamingOps
      .multiBatch(StreamingOps.Enrich)(spark, dir)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(multi == batch)
  }

  test("leftOuter attribution join emits unmatched views after watermark") {
    // synthetic two-batch feed: user 1's view gets a click inside the
    // window; user 2's view never matches. The unmatched view may only be
    // emitted once the click-side watermark passes its window — advanced
    // here by a late third-batch click far in the future.
    import org.apache.spark.sql.streaming.OutputMode
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)](spark)
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)](spark)
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val joined = StreamingOps.attributionJoinPlan(
      views.toDF().toDF("event_id", "user_id", "ts"),
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      windowMinutes = 60, watermarkDelay = "10 minutes",
      joinType = "leftOuter")
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("spec_ssjoin_outer").start()
    try {
      views.addData((100L, 1L, ts(0)), (200L, 2L, ts(0)))
      clicks.addData((101L, 1L, ts(30)))
      q.processAllAvailable()
      // watermark passes view_ts + 60min on both sides → user 2's view flushes
      views.addData((300L, 9L, ts(500)))
      clicks.addData((301L, 9L, ts(500)))
      q.processAllAvailable()
      views.addData((998L, 8L, ts(900)))
      clicks.addData((999L, 8L, ts(900)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("spec_ssjoin_outer")
      .select(col("view_id"), col("click_id"), col("user_id"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2)))
      .toSet
    assert(got.contains((100L, 101L, 1L)), s"matched pair missing: $got")
    assert(got.contains((200L, -1L, 2L)),
      s"unmatched view not emitted after watermark passed its window: $got")
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
