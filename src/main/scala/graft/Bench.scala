package graft

import java.io.{OutputStream, PrintStream}

import org.apache.spark.sql.SparkSession

object Bench {

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }
  private def sec(t: Double): String = f"$t%.3f"
  private def sec2(t: Double): String = f"$t%.2f"

  /** Compose the ONE stdout record. The driver keeps only the last 2000
    * chars of stdout and json-parses the line it finds there, so the whole
    * line is budgeted to stay under 1900 chars NO MATTER how many queries
    * the registry grows to: prefix + at most 8 capped error entries +
    * slowest-first query mins packed into the remaining budget ("queries"
    * last so even a clipped tail ends with the mins). Pure so
    * [[BenchLineSpec]] can pin the invariant as the registry grows.
    */
  private[graft] def stdoutLine(total: Double, rounds: Int, warmups: Int,
      sfDir: String, errors: collection.Map[String, String],
      detailRef: String, results: Seq[(String, Double)]): String = {
    val errShort = errors.take(8).map { case (k, v) =>
      "\"" + k + "\":\"" + esc(v.take(40)) + "\""
    }.mkString("{", ",", "}")
    // "_"-prefixed rows (the contention canary) are box probes: they ride
    // the queries map for the record but don't count as registry work
    val nq = results.count(!_._1.startsWith("_"))
    val prefix =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","runs":$rounds,"warmups":$warmups,"sf":"$sfDir","nq":$nq,"nerr":${errors.size},"detail":"${esc(detailRef)}","errors":$errShort,"queries":"""
    val budget = 1899 - prefix.length - 2 // closing "}}"; total < 1900
    val bySlow = results.sortBy(-_._2)
    val topEntries = scala.collection.mutable.ArrayBuffer[String]()
    var used = 0
    for ((k, mn) <- bySlow) {
      val e = "\"" + k + "\":" + sec2(mn)
      if (used + e.length + 1 <= budget) { topEntries += e; used += e.length + 1 }
    }
    prefix + topEntries.mkString("{", ",", "}") + "}"
  }

  def main(args: Array[String]): Unit = {
    // Anything any library prints on stdout during the run (Spark, log4j
    // misconfig, shutdown chatter) would corrupt the single JSON line the
    // driver parses — mute stdout for the whole run and restore it only for
    // the final line, printed AFTER spark.stop() so no teardown logging can
    // interleave.
    val realOut = System.out
    System.setOut(new PrintStream(OutputStream.nullOutputStream(), true))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // ≥3 interleaved rounds: round-robin over the whole query list each round,
    // so machine-wide drift (GC, page cache, CPU contention) lands on every
    // query equally instead of biasing whichever query ran during the spike.
    // min is the stable plan-cost estimate; (max-min) is the recorded spread.
    val rounds = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3).max(1)
    // One unrecorded warm-up pass over the whole list before the recorded
    // rounds: first-run times are dominated by JIT + plan compilation, which
    // otherwise lands entirely in the recorded spread of whichever round ran
    // first and makes steady-state variance unreadable.
    val warmups = sys.env.get("SPARK_GRAFT_BENCH_WARMUP").map(_.toInt).getOrElse(1).max(0)
    val spark = graft.core.SparkTuning.localSession()
    val only = args.headOption.map(_.split(',').toSet)
    // Contention canary: one FIXED, trivial, IO-free query measured with
    // the same rounds/min discipline as the registry. Its plan never
    // changes across rounds, so its min moves ONLY with box conditions
    // (CPU contention, GC pressure, scheduler noise) — cross-round bench
    // comparisons normalize by it instead of adjudicating drift by
    // anecdote. Underscore prefix: sorts first, excluded from `total`.
    val canary: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.range(0L, 1L << 24, 1L, 8)
        .selectExpr("sum(id % 7) as s", "count(1) as n")
    // The measured action is a noop-format write, not count(): under count()
    // Catalyst prunes every unreferenced aggregate/projection expression, so
    // compute-heavy plans would be under-measured; noop materialises every
    // output column and discards rows at the sink.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // warm the session once (codegen, parquet footers) so the first measured
    // query doesn't absorb JVM start-up
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // A failing query must surface as an error, not report the fast time of
    // a broken run (the correctness gate would catch it too, but the bench
    // record has to be honest on its own).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // the canary rides EVERY run, including `only`-filtered subset A/Bs —
    // those are the exact use case it normalizes, and it's IO-free cheap
    val qseq = ("_canary" -> canary) +: SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val samples = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    // A query that kills the whole SparkContext (executor OOM in local
    // mode, fatal task error) would otherwise grind every remaining
    // (query, round) pair through a spurious "stopped SparkContext"
    // error — burying the one real cause and poisoning the record (an
    // sf1 capture did exactly that). Abort the loop on a dead context:
    // ONE aggregate marker, the culprit's own error stays first.
    var ctxDead = false
    // First-invocation wall time per query (the round-0 pass, normally the
    // warmup): for memo-backed rows (PQ codebooks, the dedup cluster frame,
    // the crawl gated frame, the standing near-dup index) this is the only
    // number that includes the once-per-JVM build, so BENCH_DETAIL records
    // it as `cold` next to the warm min — nobody can misread a warm probe
    // as the full first-run cost (r19 verdict item 4). Methodology
    // unchanged: `queries`/`total` are still the min of the recorded
    // rounds; `cold` is additive bookkeeping.
    val cold = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (round <- 0 until (warmups + rounds); (name, fn) <- qseq
        if !ctxDead && !errors.contains(name)) {
      val t0 = System.nanoTime()
      try {
        run(fn)
        if (round == 0)
          cold(name) = (System.nanoTime() - t0) / 1e9
        if (round >= warmups)
          samples(name) = samples.getOrElse(name, Nil) :+ ((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}"
          samples.remove(name)
          if (spark.sparkContext.isStopped) {
            ctxDead = true
            errors("_aborted") =
              s"SparkContext stopped after '$name' (round $round): remaining queries skipped"
          }
      }
    }
    val results = samples.toSeq.map { case (k, ts) => (k, ts.min, ts.max - ts.min) }
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    // the canary is a box probe, not registry work — keep `total`
    // comparable to prior rounds by summing only real queries
    val total = results.filterNot(_._1.startsWith("_")).map(_._2).sum
    // The driver keeps only the LAST 2000 chars of stdout and json-parses the
    // line it finds there. The full 100+-query min object alone is >2100 chars
    // (names are ~1.4k), so it cannot fit — split the record:
    //  * BENCH_DETAIL.json (repo root, committed by the driver's end-of-round
    //    commit): complete per-query mins + spreads + errors.
    //  * stdout: ONE short line, guaranteed under the capture window, carrying
    //    total/runs/errors plus as many of the SLOWEST query mins as fit in a
    //    ~1600-char budget ("queries" last so even a truncated tail ends with
    //    the mins). Slowest-first is the right truncation: sub-0.1 s queries
    //    carry no perf signal at sf0.1.
    val fullQs = results.map { case (k, mn, _) => "\"" + k + "\":" + sec(mn) }
      .mkString("{", ",", "}")
    val fullSp = results.map { case (k, _, d) => "\"" + k + "\":" + sec2(d) }
      .mkString("{", ",", "}")
    val fullCold = cold.map { case (k, c) => "\"" + k + "\":" + sec2(c) }
      .mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","runs":$rounds,"warmups":$warmups,"sf":"$sfDir","errors":$errJson,"cold":$fullCold,"spread":$fullSp,"queries":$fullQs}"""
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    // On a write failure the stdout record must NOT advertise the path — a
    // consumer would read a stale or absent file with no signal. detailRef
    // goes empty instead.
    val detailRef =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
          (detail + "\n").getBytes("UTF-8"))
        detailPath
      } catch { case _: Throwable => "" }
    val line = stdoutLine(total, rounds, warmups, sfDir, errors, detailRef,
      results.map { case (k, mn, _) => (k, mn) })
    spark.stop()
    // ONE parseable line, alone on stdout, "queries" (the mins) last
    System.setOut(realOut)
    System.out.println(line)
    System.out.flush()
    // nerr>0 must be unmissable in a human scroll of the log, not just a
    // field in the JSON — a registry silently shrinking from 113 to 108
    // measured queries is how a 5-query regression survived two rounds.
    // stderr only: stdout stays one parseable line.
    if (errors.nonEmpty) {
      // registry counts only — the canary would skew the human check
      // this line exists for (registry-size drift must be unmissable)
      val regDeclared = qseq.count(!_._1.startsWith("_"))
      val regMeasured = results.count(!_._1.startsWith("_"))
      System.err.println(
        s"[bench] ******** ${errors.size}/$regDeclared QUERIES ERRORED " +
          s"(measured only $regMeasured): ${errors.keys.mkString(", ")} ********")
    }
  }
}
