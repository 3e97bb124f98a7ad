package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.Tables
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Open loop: seeded `events`-schema shard files arrive in a watched
  * directory and two queries on one session consume them —
  * `StreamingOps.dedupStream` (append) and `StreamingOps.sessionizeStream`
  * (update), each through a foreachBatch sink with its checkpoint on disk.
  *
  * Phase 1 (drain) starts the queries over a pre-loaded backlog and
  * measures capacity. Phase 2 (lag) has one generator thread move shards
  * into the directory on a fixed schedule (`offeredShardsPerS`) that does
  * not slow when the engine does; each shard's lag runs from its due time
  * to the sink commit of the micro-batch that consumed it, the mapping
  * read from each query's source log.
  */
final class EventStream(inputs: String, scratch: String,
    offeredShardsPerS: Double, seconds: Double, backlogShards: Int,
    rowsPerShard: Long) extends Main.Workload {
  import EventStream._

  val name = "event_stream"
  private val shards: Seq[Path] = {
    val all = Files.list(Paths.get(inputs, "stream")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    all.sortBy(_.getFileName.toString)
  }
  private val backlog = shards.take(backlogShards)
  private val live = shards.drop(backlogShards)
  private var spark: SparkSession = _
  private var schema: org.apache.spark.sql.types.StructType = _

  def register(s: SparkSession): Unit = {
    spark = s
    schema = Trace.span("sources.schema")(s.read.parquet(shards.head.toString).schema)
  }

  /** One consumer: its query, its checkpoint, and per-batch sink commits. */
  final class Consumer(val name: String, val ckpt: Path) {
    var query: StreamingQuery = _
    val commits = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    /** Input rows of every completed micro-batch, in batch order. */
    def progress: Seq[(Long, Long)] =
      query.recentProgress.toSeq.map(p => p.batchId -> p.numInputRows).sortBy(_._1)
    def consumed: Long = progress.map(_._2).sum
  }

  // final results, folded in this JVM by the sinks
  private val keys = mutable.HashMap[(Long, String), Int]()
  private val sessions = mutable.HashMap[Long, (Long, Long)]()

  private def source(dir: Path): DataFrame =
    Tables.normalizeTs(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger.toString)
      .parquet(dir.toString))

  private def start(dir: Path, tag: String): (Consumer, Consumer) = {
    val sp = spark
    import sp.implicits._
    val ck = Paths.get(scratch, "checkpoints", tag)
    val d = new Consumer("dedup", ck.resolve("dedup"))
    val s = new Consumer("sessions", ck.resolve("sessions"))
    val dedup = StreamingOps.dedupStream(source(dir), Seq("user_id", "event_type"),
      "ts", WatermarkDelay).select(col("user_id"), col("event_type"))
    d.query = dedup.writeStream.outputMode("append").queryName(s"${tag}_dedup")
      .option("checkpointLocation", d.ckpt.toString)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        Trace.span("streaming.batch") {
          val got = df.collect()
          keys.synchronized(got.foreach { r =>
            val k = (r.getLong(0), r.getString(1))
            keys(k) = keys.getOrElse(k, 0) + 1
          })
          d.commits.put(id, Trace.now())
        }
        ()
      }.start()
    val typed = source(dir).select(col("user_id").as[Long], unix_micros(col("ts")).as[Long])
    s.query = StreamingOps.sessionizeStream(typed, GapSeconds * 1000000L, WatermarkDelay)
      .toDF().writeStream.outputMode("update").queryName(s"${tag}_sessions")
      .option("checkpointLocation", s.ckpt.toString)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        Trace.span("streaming.batch") {
          val got = df.collect()
          sessions.synchronized(got.foreach { r =>
            val u = r.getLong(0)
            val (n, l) = sessions.getOrElse(u, (0L, 0L))
            sessions(u) = (math.max(n, r.getLong(1)), math.max(l, r.getLong(2)))
          })
          s.commits.put(id, Trace.now())
        }
        ()
      }.start()
    (d, s)
  }

  /** Copy a shard into the watched directory atomically (hidden temp name,
    * then rename), with a modification time that orders it after every
    * earlier shard. */
  private def deliver(src: Path, dir: Path, ordinal: Int): Unit = {
    val tmp = dir.resolve("." + src.getFileName.toString + ".tmp")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(tmp,
      java.nio.file.attribute.FileTime.fromMillis(MtimeBase + ordinal * 1000L))
    Files.move(tmp, dir.resolve(src.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
  }

  private def fresh(p: Path): Path = {
    EoGraphs.rmTree(p.toFile)
    Files.createDirectories(p)
  }

  private def awaitRows(cs: Seq[Consumer], rows: Long, timeoutS: Double): Boolean = {
    val until = Trace.now() + timeoutS
    while (cs.exists(_.consumed < rows) && Trace.now() < until) {
      cs.foreach(c => c.query.exception.foreach(e => throw e))
      Thread.sleep(5)
    }
    cs.forall(_.consumed >= rows)
  }

  private val watched = Paths.get(scratch, "watched")
  private var consumers: (Consumer, Consumer) = _
  private var startedAt = 0.0
  private var firstBatchS = 0.0
  private var drain = Map.empty[String, Any]
  private val due = mutable.ArrayBuffer[Double]()
  private val moved = mutable.ArrayBuffer[Double]()
  private var drained = false
  private var caughtUp = false

  private def backlogRows = backlog.size.toLong * rowsPerShard

  /** The cold pass: start both queries over the pre-loaded backlog and
    * wait until both have committed all of it. */
  def firstPass(): Unit = {
    fresh(watched)
    fresh(Paths.get(scratch, "checkpoints"))
    backlog.zipWithIndex.foreach { case (p, i) => deliver(p, watched, i) }
    startedAt = Trace.now()
    consumers = start(watched, "main")
    val cs = Seq(consumers._1, consumers._2)
    drained = awaitRows(cs, backlogRows, 120)
    firstBatchS = cs.map(c => c.commits.get(c.progress.head._1)).max - startedAt
  }

  def warm(deadline: Double): Unit = {
    val cs = Seq(consumers._1, consumers._2)
    // per query: rows after its first (cold) batch, over the time from
    // that batch's commit to the commit of the batch that finished the
    // backlog
    drain = cs.map { c =>
      val p = c.progress
      val cum = p.scanLeft(0L)(_ + _._2).tail
      val last = p(cum.indexWhere(_ >= backlogRows))._1
      c.name -> Map("rows_after_first" -> (backlogRows - p.head._2),
        "first_commit" -> c.commits.get(p.head._1), "end" -> c.commits.get(last),
        "batches" -> (last - p.head._1 + 1))
    }.toMap
    // phase 2: the generator thread, on a fixed schedule
    val n = math.min(live.size,
      math.max(MinLiveShards, math.ceil(seconds * offeredShardsPerS).toInt))
    val t0 = Trace.now() + 0.05
    val gen = new Thread(() => {
      for (i <- 0 until n) {
        val d = t0 + i / offeredShardsPerS
        val wait = d - Trace.now()
        if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
        deliver(live(i), watched, backlogShards + i)
        due += d
        moved += Trace.now()
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    caughtUp = awaitRows(cs, backlogRows + n.toLong * rowsPerShard, 120)
    cs.foreach(_.query.stop())
  }

  /** shard file name -> batch id, from a query's source log (plain and
    * compacted entries both carry the batch id). */
  private def sourceLog(c: Consumer): Map[String, Long] = {
    val dir = c.ckpt.resolve("sources").resolve("0").toFile
    val entry = "(shard-[0-9]+\\.parquet).*\"batchId\":([0-9]+)".r.unanchored
    Option(dir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith(".")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().collect { case entry(shard, batch) => shard -> batch.toLong }.toList
      finally src.close()
    }.toMap
  }

  private var perShard = Seq.empty[Map[String, Any]]

  def check(): Seq[(String, Boolean, String)] = {
    val (d, s) = consumers
    val logs = Seq(d, s).map(c => c -> sourceLog(c))
    perShard = live.take(due.size).zipWithIndex.map { case (p, i) =>
      val f = p.getFileName.toString
      val commits = logs.map { case (c, log) =>
        log.get(f).flatMap(b => Option(c.commits.get(b))).map(_.doubleValue)
      }
      Map("shard" -> f, "due" -> due(i), "moved" -> moved(i),
        "commit" -> (if (commits.forall(_.isDefined)) Some(commits.flatten.max) else None))
    }
    val out = Paths.get(scratch, "stream_out")
    fresh(out)
    Files.writeString(out.resolve("keys.csv"), keys.keys.toSeq.sorted
      .map { case (u, e) => s"$u,$e" }.mkString("user_id,event_type\n", "\n", "\n"))
    Files.writeString(out.resolve("sessions.csv"), sessions.toSeq.sorted
      .map { case (u, (n, l)) => s"$u,$n,$l" }.mkString("user_id,n_sessions,longest\n", "\n", "\n"))
    val dupKeys = keys.count(_._2 > 1)
    Seq(
      ("drained", drained, s"backlog of ${backlog.size} shards committed by both queries"),
      ("caught_up", caughtUp, s"${due.size} live shards committed by both queries"),
      ("mapped", perShard.forall(_("commit") != None),
        s"${perShard.count(_("commit") != None)}/${perShard.size} shards found in both source logs"),
      ("dedup_once", dupKeys == 0, s"$dupKeys keys emitted more than once"))
  }

  /** Two fresh queries over the first `OverheadShards` shards, until
    * both have committed them all. */
  def overheadPass(tag: String): Double = {
    keys.synchronized(keys.clear()); sessions.synchronized(sessions.clear())
    val dir = fresh(Paths.get(scratch, s"watched_$tag"))
    shards.take(OverheadShards).zipWithIndex.foreach { case (p, i) => deliver(p, dir, i) }
    val t = Trace.now()
    val (a, b) = start(dir, tag)
    awaitRows(Seq(a, b), OverheadShards.toLong * rowsPerShard, 120)
    val took = Trace.now() - t
    a.query.stop(); b.query.stop()
    took
  }

  def result(): Map[String, Any] = Map(
    "first_batch_s" -> firstBatchS, "drain" -> drain, "session_gap_s" -> GapSeconds,
    "rows_per_shard" -> rowsPerShard, "backlog_shards" -> backlog.size,
    "offered_shards_per_s" -> offeredShardsPerS,
    "shards" -> perShard,
    "batches" -> Seq(consumers._1, consumers._2).map(c => c.name ->
      c.progress.map { case (b, r) =>
        Map("batch" -> b, "commit" -> Option(c.commits.get(b)), "rows" -> r) }).toMap)
}

object EventStream {
  val MinLiveShards = 200
  val MaxFilesPerTrigger = 40
  val GapSeconds = 600L
  /** Longer than the data span, so no state expires mid-run and the final
    * keys and sessions are exact. */
  val WatermarkDelay = "3650 days"
  val OverheadShards = 120
  val MtimeBase = 1700000000000L
}
