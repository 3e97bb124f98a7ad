package graft.streaming

import graft.core.SparkTuning
import graft.functions.{QuantileSketchAgg, SpaceSavingAgg, ThetaSketchAgg, TopKAgg}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface. The reference is batch-only (SURVEY §2.13),
  * but the long-form cube model extends to streams unchanged: a streaming
  * DataFrame of (t, dims, value) rows flows through the same Column-tree
  * operators; temporal aggregation becomes watermarked tumbling windows.
  * This module carries the streaming shape of aggregate_temporal_period —
  * the operator a live ingest pipeline needs.
  *
  * The registry's stream rows are a [[Family]] × a runner. A family is one
  * streaming plan over a [[Source]] of event rows, its sink output mode,
  * the projection applied to the sink table, and whether its single-file
  * run must be one micro-batch. [[singleFile]] drives a family over the
  * events parquet as one file stream; [[multiBatch]] drives it over
  * time-ordered shards consumed one per trigger. Each run starts its query
  * on a private clone of the caller's session
  * ([[graft.core.SparkTuning.scopedSession]]), so the harness settings and
  * the memory sink's query name and temp view never reach the caller.
  */
object StreamingOps {

  /** Footer-derived schemas, memoized per path: the source parquet cannot
    * change under a running JVM (the RasterFixture discipline), and every
    * runner invocation — 4 bench reps × ~20 rows — otherwise re-reads the
    * footer just to learn an unchanged schema.
    */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]

  private def cachedSchema(spark: SparkSession, path: String) =
    schemaCache.getOrElseUpdate(path, spark.read.parquet(path).schema)

  /** Shared parquet-file-stream source setup: the batch footer provides
    * the schema, the file source gets the table's DIRECTORY with a glob
    * selecting the single table file, and the `ts` column is normalized
    * through the same loader policy as the batch side ([[graft.sources.Tables.normalizeTs]]).
    * One definition — the r8–r9 NTZ regression came from this exact
    * setup logic drifting between call sites.
    */
  private def eventsFileStream(spark: SparkSession, eventsPath: String)
      : DataFrame = {
    val schema = cachedSchema(spark, eventsPath)
    val dir = new java.io.File(eventsPath).getParent
    val fileName = new java.io.File(eventsPath).getName
    graft.sources.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", fileName)
        .parquet(dir))
  }

  /** The multi-batch runner's shard count, which is also its floor of
    * non-empty micro-batches.
    */
  private val Shards = 3

  /** A shard split built at most once: `TrieMap.getOrElseUpdate` may
    * evaluate its default in two threads at once, so the default is only
    * this holder, and the split runs in its `lazy val`, which one thread
    * builds while any other waits for it.
    */
  private final class ShardSplit(build: => String) {
    lazy val dir: String = build
  }

  private val shardDirs =
    scala.collection.concurrent.TrieMap.empty[String, ShardSplit]

  /** Split the events parquet into [[Shards]] TIME-ORDERED single-file
    * shards for multi-batch delivery: `repartitionByRange` on `ts` makes
    * part-file NAME order the time order, and each file's mtime is bumped
    * monotonically so `FileStreamSource` (which orders by modification
    * time) discovers them oldest-range first under `maxFilesPerTrigger=1`.
    * Returns the shard directory. Harness plumbing, driver-side by design:
    * a production multi-batch source is a live feed, not a re-sharded file.
    *
    * Memoized once per JVM per events path — the source parquet cannot
    * change under a running JVM (the RasterFixture discipline), so warm
    * bench repetitions and every multi-batch family share ONE shard build
    * instead of paying ~1.5 s of re-sharding per invocation. Concurrent
    * first uses share it too: a second build would overwrite the
    * directory while the first one's stream reads it.
    */
  private def writeTimeOrderedShards(spark: SparkSession,
      eventsPath: String): String =
    shardDirs.getOrElseUpdate(eventsPath, new ShardSplit({
      // JVM-unique directory: two concurrent bench/test JVMs on one box
      // must not delete each other's shard files mid-stream (the PID
      // tag), and write.mode("overwrite") already clears any crashed
      // prior run's leftovers — including nested _temporary dirs a manual
      // per-file delete loop would trip over
      val tag = java.lang.Integer.toHexString(eventsPath.hashCode)
      val pid = java.lang.ProcessHandle.current().pid()
      val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_stream_shards_${tag}_${Shards}_$pid").toFile
      graft.sources.Tables
        .normalizeTs(spark.read.parquet(eventsPath))
        .repartitionByRange(Shards, col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(dir.getPath)
      val parts = dir.listFiles().filter(_.getName.startsWith("part-"))
        .sortBy(_.getName)
      require(parts.length > 1,
        s"multi-batch shard split produced ${parts.length} file(s)")
      val t0 = System.currentTimeMillis() - parts.length * 60000L
      parts.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(t0 + i * 60000L)
      }
      dir.getPath
    })).dir

  /** The ONE multi-batch source definition: time-ordered shards consumed
    * one file per trigger, so the nanos flag and ts normalization stay in
    * lock-step with the single-file source — hand-copied preambles are
    * exactly the setup-drift class behind the r8–r9 NTZ regression.
    * `normalizeTs` is an identity today (the shard write runs
    * post-normalization) but keeps the contract explicit should the shard
    * layout ever change.
    */
  private def shardedEventsStream(spark: SparkSession, eventsPath: String)
      : DataFrame = {
    val shardDir = writeTimeOrderedShards(spark, eventsPath)
    val schema = cachedSchema(spark, shardDir)
    graft.sources.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(shardDir))
  }

  /** What a family's plan reads. [[events]] opens a fresh stream of
    * `sfDir/events.parquet` on the run's session `spark`; `sharded` says
    * whether that stream is the time-ordered shards; `sfDir` also holds
    * the static tables a family may join.
    */
  final class Source private[StreamingOps] (val spark: SparkSession,
      val sfDir: String, val sharded: Boolean) {
    def events(): DataFrame = {
      val path = s"$sfDir/events.parquet"
      if (sharded) shardedEventsStream(spark, path)
      else eventsFileStream(spark, path)
    }
  }

  /** One stream family: its `plan` over a [[Source]], the sink output
    * `mode`, the `out` projection over the sink table, and `singleBatch`:
    * whether its single-file run is only oracle-exact as ONE non-empty
    * micro-batch (asserted by the runner).
    */
  final class Family private[StreamingOps] (val mode: String,
      val plan: Source => DataFrame,
      val out: DataFrame => DataFrame = identity,
      val singleBatch: Boolean = false)

  /** The single-file runner: `family` over one file stream of
    * `sfDir/events.parquet`.
    */
  def singleFile(family: Family): (SparkSession, String) => DataFrame =
    (spark, sfDir) => run(family, spark, sfDir, sharded = false)

  /** The multi-batch runner: `family` over the time-ordered shards, one
    * per trigger, asserting at least [[Shards]] non-empty micro-batches,
    * so the run cannot quietly collapse back to one trigger.
    */
  def multiBatch(family: Family): (SparkSession, String) => DataFrame =
    (spark, sfDir) => run(family, spark, sfDir, sharded = true)

  /** Start `family`'s query on a private clone of `spark` carrying the
    * harness settings, drive it to completion into a memory sink, and
    * return `family.out` over the sink, rebound to `spark` by logical plan.
    *
    * Two shuffle partitions: `spark.sql.shuffle.partitions` at query START
    * fixes the state store count, and each micro-batch commits EVERY store
    * — at 32 session partitions a multi-trigger run pays 32·batches store
    * commits (and a stream-stream join four stores per partition) for a
    * key space that fits comfortably in a handful of stores (r17: 8 → 4;
    * r18: 4 → 2 — subset A/B with matched contention canary showed −11%,
    * all 21 rows hash-green, and the multibatch floors assert the
    * state-crossing evidence regardless of store count). r18 also A/B'd
    * `RocksDBStateStoreProvider` for these runners: +35% (22.2 s vs
    * 16.4 s on the 6-row multibatch subset, same canary) — JNI + per-
    * commit file churn dominates when each store holds kilobytes, so the
    * default HDFS-backed provider stays. RocksDB is the right choice only
    * when per-store state outgrows executor memory (multi-GB key spaces),
    * which these harness runs never approach.
    *
    * No trailing NO-DATA micro-batch (r20 interleaved A/B: family −7%,
    * stream_join_attrib 2.82 → 1.94 s — the join re-commits FOUR state
    * stores per partition in that batch for zero rows). The extra batch
    * exists to advance the watermark so watermark-TRIGGERED emission/expiry
    * can run after the last data batch; every family here emits per-batch
    * instead (complete/update snapshots, inner append joins,
    * dropDuplicates' eager append) and sizes its watermark delay past the
    * data span, so nothing depends on it — the oracle gate is the proof.
    *
    * Harness-side only: a production stream sizes both knobs to its key
    * cardinality and picks its own trigger loop.
    */
  private def run(family: Family, spark: SparkSession, sfDir: String,
      sharded: Boolean): DataFrame = {
    val clone = SparkTuning.scopedSession(spark,
      "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    SparkTuning.tune(clone)
    val sink = runToMemory(family.plan(new Source(clone, sfDir, sharded)),
      family.mode,
      requireSingleBatch = family.singleBatch && !sharded,
      requireMinBatches = if (sharded) Shards else 0)
    family.out(PlanBridge.frame(spark, sink.queryExecution.analyzed))
  }

  /** Drive a streaming frame to completion into a memory sink and return
    * the sink table, on the frame's session. When `requireSingleBatch` is
    * set, assert that at most one non-empty micro-batch ran: the stateful
    * oracle rows ([[Sessionize]], [[Dedup]]) are only oracle-equivalent
    * under single-batch delivery (state expiry between batches re-emits
    * keys / resets session counts), so a testdata change that splits the
    * source into multiple files must fail LOUDLY here, not as a silent
    * hash mismatch. The sink's query name is fixed: it is unique because
    * each run's session is a fresh clone.
    */
  private def runToMemory(df: DataFrame, mode: String,
      requireSingleBatch: Boolean, requireMinBatches: Int): DataFrame = {
    val queryName = "graft_stream_sink"
    // Checkpoint on tmpfs when the box has one: every micro-batch fsyncs
    // the offset log, the commit log, and one state-store delta PER
    // state partition into this directory — on the default disk-backed
    // temp dir those fsyncs ARE the harness floor for small batches.
    // Harness-side only (the memory sink is already a test surface); a
    // production stream puts its checkpoint on durable storage, where
    // the commit latency is the price of exactly-once.
    val shm = new java.io.File("/dev/shm")
    val ckptBase =
      if (shm.isDirectory && shm.canWrite) "/dev/shm" else sys.props("java.io.tmpdir")
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(ckptBase), "graft_ckpt_").toFile
    // Trigger.AvailableNow for these run-to-completion harness streams
    // (r19 A/B, matched canary 0.196/0.189: family −3.8%, null-stream
    // floor 0.44 → 0.37 s — the self-terminating trigger skips the
    // processAllAvailable() wake-poll + stop() handshake; SCALE.md
    // "streaming harness floor"). File sources implement admission
    // control, so maxFilesPerTrigger (the multi-batch shard pacing) is
    // still honored per micro-batch — all 21 rows hash-green under it
    // with the requireMinBatches floors intact. Production streams are
    // unaffected: this helper IS the harness sink; a live stream picks
    // its own trigger.
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", ckpt.getPath)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      val fed = q.recentProgress.count(_.numInputRows > 0)
      if (requireSingleBatch)
        require(fed <= 1,
          s"$fed non-empty micro-batches — the single-batch " +
            "assumption behind oracle parity no longer holds (multi-file " +
            "source?); re-derive the fold before trusting this row")
      if (requireMinBatches > 0)
        require(fed >= requireMinBatches,
          s"only $fed non-empty micro-batches (need ≥ " +
            s"$requireMinBatches) — the multi-batch evidence this row " +
            "claims did not actually happen (source collapsed into fewer " +
            "triggers?)")
    } finally {
      // tmpfs is RAM — a leaked checkpoint would hold memory, not disk,
      // so the delete must run even when stop() itself throws
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      try q.stop() finally rm(ckpt)
    }
    df.sparkSession.table(queryName)
  }

  /** Tumbling-window aggregation over the event stream (complete mode):
    * (6-hour window, band) counts and cent sums, reported with the window
    * start as a 6-hour bucket number. Complete mode needs no single-batch
    * guard: the sink always holds the full aggregate. In production the
    * same plan runs against a live source with `.start()` left running;
    * the watermark bounds the state store.
    */
  val WindowAgg: Family = {
    val hours = 6
    new Family(mode = "complete",
      plan = _.events()
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), s"$hours hours"),
          col("event_type").as("band"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("bigint")).as("sum_cents")),
      out = _.select(
        (unix_micros(col("window.start")) / lit(hours * 3600L * 1000000L))
          .cast("bigint").as("bucket"),
        col("band"), col("n"), col("sum_cents")))
  }

  /** [[sessionizeStream]] (30-minute gap) driven to completion, for
    * batch/stream parity with the batch `sessionize` query's oracle.
    * Within one state generation the Update snapshots are monotone per
    * user, so max-aggregating the emitted updates yields the terminal
    * (n_sessions, longest).
    *
    * Single-file: single-batch REQUIRED. Across an EventTimeTimeout state
    * removal the snapshots are not monotone (a fresh generation restarts
    * n_sessions at 1), so with the 10-minute watermark delay the max-fold
    * is only exact when all data lands in one micro-batch.
    *
    * Multi-batch: the evidence the single-file run cannot provide — per-user
    * state genuinely crosses micro-batch boundaries. The watermark delay
    * (40 days) exceeds the events table's full 30-day span, so no
    * `EventTimeTimeout` fires and every user stays in ONE state generation
    * for the whole run: the fold is exact. Shards are time-range
    * partitioned, so each user's events arrive in event-time order across
    * batches (within-batch order is sorted by the operator itself).
    */
  val Sessionize: Family = new Family(mode = "update", singleBatch = true,
    plan = { src =>
      import src.spark.implicits._
      sessionizeStream(
        src.events()
          .select(col("user_id").as[Long], unix_micros(col("ts")).as[Long]),
        1800L * 1000000L,
        watermarkDelay = if (src.sharded) "40 days" else "10 minutes").toDF()
    },
    out = _.groupBy(col("user_id"))
      .agg(max(col("n_sessions")).as("n_sessions"),
        max(col("longest")).as("longest")))

  /** [[dedupStream]] on (user_id, event_type), for the `dedup_stream` rows.
    * Which physical row survives per key is arrival-order-dependent
    * (partition race), so the verified output is the KEY SET —
    * deterministic, and still a real crossing of
    * `dropDuplicatesWithinWatermark`'s state path: emitting two rows for
    * one key, or zero, breaks the hash.
    *
    * Single-file: single-batch REQUIRED — with the 1-day delay a key whose
    * state expired is re-emitted by a later batch, so the key set is only
    * exactly-distinct when all data lands in one micro-batch. Multi-batch:
    * the 40-day delay is beyond the data span, so no key's state expires
    * mid-run and the appended key set is exactly distinct across batches.
    */
  val Dedup: Family = new Family(mode = "append", singleBatch = true,
    plan = src => dedupStream(src.events(), Seq("user_id", "event_type"),
      "ts", watermarkDelay = if (src.sharded) "40 days" else "1 day"),
    out = _.select(col("user_id"), col("event_type")))

  /** SpaceSaving heavy hitters over the event stream (complete mode): the
    * sketch buffer ([[graft.functions.SpaceSavingAgg]], capacity 65536,
    * top 20) lives in the streaming state store and merges incrementally
    * per micro-batch — top-k frequency tracking with O(capacity) state on
    * an UNBOUNDED stream, where an exact streaming `groupBy(key).count`
    * would grow state with the key space forever (and need a watermark
    * eviction policy that changes the answer). The sketch is a pure merge:
    * in the no-eviction regime (capacity ≫ distinct keys, the oracle-gate
    * contract) the terminal snapshot equals the batch groupBy regardless of
    * batch boundaries, single- or multi-batch.
    */
  val HeavyHitters: Family = new Family(mode = "complete",
    plan = _.events().filter(col("user_id").isNotNull)
      .agg(SpaceSavingAgg.column(col("user_id").cast("string"), 65536, 20)
        .as("hh")),
    out = _.select(explode(col("hh")).as("e"))
      .select(col("e.key").as("user_key"), col("e.count").as("n_events"),
        col("e.err").as("err")))

  /** Weighted-quantile sketch over the event stream (complete mode): the
    * sketch buffer ([[graft.functions.QuantileSketchAgg]], capacity 16384)
    * lives in the streaming state store and merges incrementally per
    * micro-batch — distribution tracking with O(capacity) state on an
    * UNBOUNDED stream, where an exact streaming quantile would have to
    * retain every value. Values are quantized to deci-units so the
    * distinct count is bounded by the value DOMAIN, not the stream length:
    * in that no-compression regime (the oracle-gate contract) the terminal
    * snapshot equals the exact batch quantiles regardless of batch
    * boundaries, because the sketch state is the canonical weighted
    * histogram.
    */
  val Quantiles: Family = new Family(mode = "complete",
    plan = _.events().filter(col("value").isNotNull)
      .agg(QuantileSketchAgg.column(
        round(col("value") * 10).cast("long"), lit(1L), 16384).as("qp")),
    out = _.select(explode(col("qp")).as("e"))
      .select(col("e.pm").as("pm"), col("e.v").as("v"), col("e.n").as("n")))

  /** KMV/theta distinct-count sketch over the event stream (complete
    * mode): the k-minimum-hash buffer ([[graft.functions.ThetaSketchAgg]],
    * k = 65536) lives in the streaming state store — O(k) state on an
    * UNBOUNDED stream, where an exact streaming `approx_count_distinct`
    * state (or a dropDuplicates key store) grows with the key space. In
    * the no-truncation regime (distinct ≤ k, the oracle-gate contract) the
    * terminal snapshot is the exact distinct count regardless of batch
    * boundaries — the sketch is a pure merge.
    */
  val DistinctUsers: Family = {
    val k = 65536
    new Family(mode = "complete",
      plan = _.events().filter(col("user_id").isNotNull)
        .agg(ThetaSketchAgg.column(
          xxhash64(col("user_id").cast("string")), k).as("sk")),
      out = _.select(ThetaSketchAgg.estimateUdf(k)(col("sk")).as("n_users")))
  }

  /** Bounded-heap top-3 rows per event type on the stream (complete
    * mode): the [[graft.functions.TopKAgg]] buffer IS the streaming state
    * — O(k) per key on an UNBOUNDED stream, where an exact streaming top-k
    * would have to retain every row. Unlike the sketch families this
    * needs NO regime caveat: unique ids make (value desc, id asc) a total
    * order, top-k selection over a total order is a pure merge, so the
    * terminal snapshot equals the batch window answer under ANY batch
    * boundaries.
    */
  val TopK: Family = new Family(mode = "complete",
    plan = _.events()
      .filter(col("value").isNotNull && col("event_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(TopKAgg.column(col("value"), col("event_id"), 3).as("top")),
    out = _.select(col("event_type"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("event_id"), col("e.v").as("value")))

  /** CDC upsert view maintained INCREMENTALLY on the stream: the latest
    * change per (user_id, event_type), kept current across micro-batches
    * by a `max_by` aggregate in the state store — O(keys) state on an
    * unbounded change log, one candidate row per key per batch crossing
    * the exchange (the batch [[graft.core.Scd.latestByKey]] argument,
    * applied to streaming state). `(ts, event_id)` is a total order per
    * key, so the terminal complete-mode snapshot is EXACT at any
    * batching — max over a total order is a pure merge; no regime caveat.
    * In the multi-batch run a key's winning row routinely arrives several
    * batches after its first row, so the upsert state genuinely crosses
    * batch boundaries. Shares the batch `cdc_latest` driver oracle.
    */
  val CdcLatest: Family = new Family(mode = "complete",
    plan = _.events().filter(col("event_id").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max_by(
        struct(col("event_id").as("last_event_id"),
          round(col("value") * 100).cast("bigint").as("last_cents")),
        struct(col("ts"), col("event_id"))).as("_r")),
    out = _.select(col("user_id"), col("event_type"),
      col("_r.last_event_id").as("last_event_id"),
      col("_r.last_cents").as("last_cents")))

  /** [[attributionJoinPlan]] (60-minute window) with both sides file
    * streams over the same table, for the `stream_join_attrib` rows: the
    * emitted pair set must equal the batch inequality join. The 40-day
    * delay exceeds the table's 30-day span, so no state is evicted mid-run
    * and the inner join is exact by construction. In the multi-batch run a
    * view and its clicks routinely arrive in DIFFERENT micro-batches, so
    * every emitted pair crosses the join's buffered state — the evidence
    * the single-file run cannot provide.
    */
  val Attribution: Family = new Family(mode = "append",
    plan = src => attributionJoinPlan(
      src.events().filter(col("event_type") === "view"),
      src.events().filter(col("event_type") === "click"),
      60, "40 days"))

  /** STREAM-STATIC enrichment — the streaming twin of every ingest
    * pipeline's "join the feed against the warehouse dimensions" stage:
    * the event stream joins the static customer → nation chain
    * (explicitly `broadcast` — dimension tables are broadcast-sized by
    * definition, and the static side is re-planned per micro-batch, NOT
    * buffered in any state store) with a stateful aggregate on top
    * (revenue cents + row count per nation × event type). Only the
    * aggregate holds state; the join itself is stateless, so this
    * composes with an unbounded feed at any length. count/sum are pure
    * merges, so single- and multi-batch runs share the batch oracle.
    */
  val Enrich: Family = new Family(mode = "complete",
    plan = { src =>
      val cust = broadcast(src.spark.read.parquet(s"${src.sfDir}/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey")))
      val nat = broadcast(src.spark.read.parquet(s"${src.sfDir}/nation.parquet")
        .select(col("n_nationkey"), col("n_name")))
      src.events()
        .join(cust, col("user_id") === col("c_custkey"))
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
    })

  /** Streaming climatological anomaly: per-event deviation from STATIC
    * normals (climatology is historical by nature — the baseline is
    * computed batch over the archive; the live stream only consumes it).
    * The metadata-sized normals broadcast-join every micro-batch —
    * STATELESS, nothing enters a state store — so each event emits its
    * anomaly exactly once at ANY batching (append mode), and the result
    * equals the batch `climatology_anomaly` row for row.
    */
  val Anomaly: Family = new Family(mode = "append",
    plan = { src =>
      // the static baseline: per-(month, band) mean of integer cents over
      // the archive — exact on any engine (one exact sum / one count).
      // Materialized ONCE (Caching.eager — a ~60-row checkpoint): the
      // static side of a stream join is re-planned EVERY micro-batch, so
      // the lazy form re-aggregated the whole archive per trigger — 4×
      // per multibatch invocation for an unchanged baseline (guide §5:
      // cache what is reused and expensive to recompute).
      val normals = broadcast(graft.core.Caching.eager(
        graft.sources.Tables.events(src.spark, src.sfDir)
          .select(month(col("ts")).cast("long").as("_m"),
            col("event_type").as("_b"),
            round(col("value") * 100).cast("long").as("_c"))
          .groupBy(col("_m"), col("_b")).agg(avg(col("_c")).as("_nv"))))
      src.events()
        .withColumn("_m", month(col("ts")).cast("long"))
        .withColumn("_b", col("event_type"))
        .join(normals, Seq("_m", "_b"))
        .select(unix_micros(col("ts")).as("t_us"),
          col("event_type").as("band"),
          round(round(col("value") * 100).cast("long") - col("_nv"), 6)
            .as("anom_cents"))
    })

  /** Event-time-bounded STREAM-STREAM JOIN plan: views joined to the
    * clicks that follow them within `windowMinutes` for the same user —
    * the attribution shape every ingest pipeline needs (impression ×
    * conversion, request × response, write × ack). Both sides carry a
    * watermark and the join condition bounds click_ts to a FINITE window
    * after view_ts, so Spark can evict a buffered row once the other
    * side's watermark passes its window — state is bounded by
    * (delay + window) of stream time, not by stream length. An inner
    * join's emitted pair set is EXACT under any micro-batching as long
    * as no state is evicted before its partner arrives, i.e. whenever
    * the watermark delay covers the source's disorder; `joinType`
    * "leftOuter" additionally emits unmatched views, but only once the
    * watermark passes their window (specs exercise that regime —
    * tail-of-stream views are still buffered when a finite run ends).
    */
  def attributionJoinPlan(views: DataFrame, clicks: DataFrame,
      windowMinutes: Int, watermarkDelay: String,
      joinType: String = "inner"): DataFrame = {
    val v = views
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermarkDelay)
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    v.join(c,
      col("user_id") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") < col("view_ts") +
          expr(s"INTERVAL $windowMinutes MINUTES"),
      joinType)
      .select(col("view_id"), col("click_id"), col("user_id"))
  }

  /** Streaming exact dedup — the ingest-side counterpart of
    * `pipeline.Dedup.exact` for a live training-data feed: keep the first
    * record per content key, with state BOUNDED by the watermark
    * (`dropDuplicatesWithinWatermark`: a key's state is held only until
    * the watermark passes its event time + delay, so an unbounded stream
    * carries a bounded dedup window instead of an ever-growing key set —
    * the same watermark-bounds-state discipline as [[sessionizeStream]]).
    * A duplicate arriving after its key's state expired is re-emitted;
    * size `watermarkDelay` to the feed's true duplicate horizon.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String], tsCol: String,
      watermarkDelay: String): DataFrame = {
    require(keyCols.nonEmpty, "dedupStream: need at least one key column")
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
  }

  /** Per-user session accumulator for [[sessionizeStream]]: the open
    * session's last event time + length, and the closed sessions' lengths.
    */
  final case class SessState(lastTs: Long, curLen: Long, closed: List[Long])
  final case class SessOut(user_id: Long, n_sessions: Long, longest: Long)

  /** Stateful streaming sessionization — the live counterpart of the batch
    * `sessionize` query, built on `flatMapGroupsWithState`: per-user state
    * carries the open session across micro-batches, a gap larger than
    * `gapMicros` closes it, and every trigger emits the user's updated
    * (n_sessions, longest) snapshot (monotone, so Update sinks converge on
    * the final values).
    *
    * Input rows are (user_id, event-time micros). State is BOUNDED: the
    * input is watermarked (`watermarkDelay` of allowed lateness — rows older
    * than the watermark are dropped by the stateful operator and surface in
    * `numRowsDroppedByWatermark`), and every user registers an
    * `EventTimeTimeout` at lastEvent + gap. When the watermark passes that
    * point no on-time event can extend the open session, so the timeout
    * callback closes it, emits the user's terminal snapshot, and REMOVES the
    * state — an inactive user costs nothing on an unbounded stream.
    * Out-of-order events within the allowed lateness sort inside each batch
    * and never move the open session's clock backwards.
    */
  def sessionizeStream(events: Dataset[(Long, Long)], gapMicros: Long,
      watermarkDelay: String = "10 minutes"): Dataset[SessOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMicros / 1000L
    events.toDF("user_id", "tsu")
      .withColumn("ts", timestamp_micros(col("tsu")))
      .withWatermark("ts", watermarkDelay)
      // keep the watermarked ts attribute in the operator input — projecting
      // it away hides the watermark from the event-time-timeout checker
      .select(col("user_id").as[Long], col("tsu").as[Long],
        col("ts").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[(Long, Long, java.sql.Timestamp)],
            state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // Watermark passed lastTs + gap: the open session can no longer
            // be extended by on-time data. Close it, emit the terminal
            // snapshot, and drop the state record.
            val st = state.get
            val all = if (st.curLen > 0) st.curLen :: st.closed else st.closed
            state.remove()
            if (all.isEmpty) Iterator.empty
            else Iterator.single(SessOut(user, all.size.toLong, all.max))
          } else {
            val sorted = it.map(_._2).toArray.sorted
            var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, Nil))
            sorted.foreach { t =>
              st =
                if (st.curLen == 0) SessState(t, 1, st.closed)
                else if (t - st.lastTs > gapMicros)
                  SessState(t, 1, st.curLen :: st.closed)
                else SessState(math.max(st.lastTs, t), st.curLen + 1, st.closed)
            }
            state.update(st)
            // Session expires when the watermark passes the gap; the timeout
            // must sit strictly above the current watermark or Spark rejects
            // it (can happen when admitted-late data trails the watermark).
            state.setTimeoutTimestamp(
              math.max(st.lastTs / 1000L + gapMs, state.getCurrentWatermarkMs() + 1L))
            val all = if (st.curLen > 0) st.curLen :: st.closed else st.closed
            if (all.isEmpty) Iterator.empty
            else Iterator.single(SessOut(user, all.size.toLong, all.max))
          }
      }
  }
}
