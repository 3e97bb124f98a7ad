package graft.sources

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders + cube constructors over the driver testdata
  * (/root/repo/TESTDATA.md). The long-form cube columns follow the
  * reference's canonical (x, y, t, bands) naming
  * (reference: tests/mockdata.py:50-56) so dim-type inference by name works.
  */
object Tables {

  def read(spark: SparkSession, dir: String, name: String,
      rebalance: Boolean = false, rowsPerTask: Long = 500L): DataFrame = {
    // also sets the nanos flag before any read; sessions built outside
    // SparkTuning.localSession get their tuning here
    graft.core.SparkTuning.tune(spark)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (rebalance)
      rebalanced(spark, df, s"$dir/$name.parquet", rowsPerTask)
    else df
  }

  /** Row-group-starved scans get one round-robin rebalance after the read
    * (optimization guide §2.5, "one huge unsplittable file ... repartition
    * immediately after the read"). Parquet byte-range splitting assigns
    * whole ROW GROUPS to partitions, so a table written as a single row
    * group — every gate-SF testdata file — scans as ONE task no matter
    * what `maxPartitionBytes` says, and every expression fused into that
    * scan (tokenize, shingle, regex, kernel math) runs on one core
    * (measured: all of unflatten_dims' 2.2 s and the expensive jobs of 9/10
    * profiled registry heads were single-task at cpus=8).
    *
    * WHO opts in (measured per query in the full-registry interleaved A/B,
    * OPTIMIZATION_r19.md): the TEXT and VECTOR tables ([[documents]],
    * [[embeddings]]) default ON — their consumers' scan stages are
    * dominated by per-row expression work (tokenize/shingle/regex/dot
    * products) and won almost uniformly (−0.3 to −1.7 s per query at
    * sf0.1/cpus=8). The numeric FACT tables (lineitem/events/orders/dims)
    * default OFF: their consumers are aggregation-first plans whose
    * map-side partial aggregates already shrink the data before the only
    * exchange, so a raw-row rebalance below them shuffles bytes the old
    * plan never moved (guide §2.3 "aggregate before you shuffle" —
    * measured +0.3 to +1.1 s on the reduce, mask, merge and ml rows).
    * Individual
    * fact-table consumers whose map-side work IS the heavy stage
    * (string-split, bounded heaps, bucket explodes, subprocess UDFs) opt
    * in per query.
    *
    * The check is metadata-only and memoized per path: footers are read
    * once per JVM, and a path with at least `defaultParallelism` FILES
    * skips footer reading entirely, so at lake scale (thousands of files)
    * this is a no-op by file count alone — the rebalance can only fire on
    * inputs too small to occupy the session's cores, never on real tables.
    * Tiny dimension tables (< 2000 rows) are left alone: an exchange there
    * costs more than the parallelism returns.
    */
  // keyed by (path, cap): the None sentinel ("file count >= cap, skip
  // footers") depends on the caller's parallelism, so a later session
  // with a different core count must not inherit a stale decision
  // (r19 advisory)
  private val scanMeta =
    scala.collection.mutable.HashMap[(String, Int), Option[(Long, Int)]]()

  private def rebalanced(spark: SparkSession, df: DataFrame,
      path: String, rowsPerTask: Long): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (par <= 1) return df
    val meta = scanMeta.synchronized {
      scanMeta.getOrElseUpdate((path, par), parquetMeta(spark, path, cap = par))
    }
    meta match {
      case Some((rows, groups)) if groups < par && rows >= 2000L =>
        // Size-capped width: repartitioning a small table all the way to
        // defaultParallelism chops it into confetti — at 32 cores the 5k-row
        // documents table became 156-row tasks whose per-task+exchange
        // overhead outweighed the parallelism (the r19 pipeline_e2e
        // regression, 32c only). Cap the width so each task keeps at least
        // `rowsPerTask` rows. The default is PER-ACCESSOR, from the r20
        // interleaved A/B at both core counts: text rows win at 500
        // (total 9.88 vs 12.98 uncapped at 32c), embedding rows — heavier
        // per row (corpus-side dot products) — win at 250 at both 8c and
        // 32c.
        val width = math.min(par.toLong,
          (rows + rowsPerTask - 1) / rowsPerTask).toInt
        if (width > groups) df.repartition(width) else df
      case _ => df
    }
  }

  /** (total rows, total row groups) across the parquet files at `path`,
    * or None when the file count alone already reaches `cap` splits (no
    * footer is read in that case — bounded driver work at any scale).
    */
  private def parquetMeta(spark: SparkSession, path: String,
      cap: Int): Option[(Long, Int)] =
    try {
      import scala.jdk.CollectionConverters._
      val hconf = spark.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(hconf)
      val st = fs.getFileStatus(p)
      val files =
        if (st.isDirectory)
          fs.listStatus(p).filter(f => f.isFile &&
            f.getPath.getName.endsWith(".parquet")).toSeq
        else Seq(st)
      if (files.length >= cap) None
      else {
        var rows = 0L
        var groups = 0
        files.foreach { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(f, hconf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val blocks = r.getFooter.getBlocks.asScala
            rows += blocks.map(_.getRowCount).sum
            groups += blocks.size
          } finally r.close()
        }
        Some((rows, groups))
      }
    } catch { case _: Throwable => None } // unreadable footer: leave the scan alone

  // l_shipdate / o_orderdate ship as naive parquet timestamps too —
  // normalize like events.ts so epoch arithmetic (`cast("double")`, which
  // Spark forbids on TIMESTAMP_NTZ) is legal on every temporal column a
  // loader hands out, whatever encoding the next testdata generation picks.
  def lineitem(spark: SparkSession, dir: String,
      rebalance: Boolean = false): DataFrame =
    normalizeTs(read(spark, dir, "lineitem", rebalance), "l_shipdate")
  def orders(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(read(spark, dir, "orders"), "o_orderdate")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")

  /** events.parquet has shipped with three different `ts` physical
    * encodings across testdata generations: INT64 TIMESTAMP(NANOS) (read as
    * long via spark.sql.legacy.parquet.nanosAsLong, floor-divided to micros
    * with integer `div` — a double division would lose precision above
    * 2^53 ns), TIMESTAMP_NTZ (isAdjustedToUTC=false micros, the current
    * DuckDB-written form), and session-zoned TIMESTAMP. Normalize all three
    * to TimestampType HERE so downstream epoch arithmetic
    * (`ts.cast("double")`) never sees an NTZ column — Spark forbids that
    * cast and every consumer would have to special-case it otherwise. The
    * session timezone is pinned to UTC, so NTZ→LTZ relabeling is a no-op on
    * the stored instant.
    */
  def events(spark: SparkSession, dir: String,
      rebalance: Boolean = false): DataFrame =
    normalizeTs(read(spark, dir, "events", rebalance))

  /** Normalize a `ts` column of any of the three observed encodings
    * (long nanos / TIMESTAMP_NTZ / TIMESTAMP) to TimestampType micros.
    * A missing column is named loudly — that is the NEXT drift class
    * (renamed/dropped temporal columns), and the generic schema-lookup
    * error would not say which loader's contract broke.
    */
  def normalizeTs(raw: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    require(raw.schema.fieldNames.contains(tsCol),
      s"testdata drift: expected temporal column '$tsCol' in " +
        s"[${raw.schema.fieldNames.mkString(", ")}]")
    val out = raw.schema(tsCol).dataType match {
      case LongType =>
        raw.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case TimestampNTZType =>
        raw.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => raw
    }
    // a FOURTH encoding (DATE, string, …) must fail here with a drift
    // message, not pass through and strand downstream epoch casts the way
    // the r8 NTZ drift did — the catch-all above is only for frames that
    // are already TimestampType
    require(out.schema(tsCol).dataType == TimestampType,
      s"testdata drift: '$tsCol' has unhandled encoding " +
        s"${raw.schema(tsCol).dataType.catalogString}; teach normalizeTs " +
        "the new physical type before trusting any temporal query")
    out
  }
  def documents(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "documents", rebalance = true)
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "embeddings", rebalance = true, rowsPerTask = 250L)
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")

  /** events as a (t, band) cube: t = event timestamp, band = event_type,
    * value = the metric. Extra id dims opt-in.
    */
  def eventsCube(spark: SparkSession, dir: String,
      extraDims: Seq[String] = Nil, rebalance: Boolean = false): DataCube = {
    val df = events(spark, dir, rebalance)
      .withColumnRenamed("ts", "t")
      .withColumnRenamed("event_type", "band")
    DataCube.fromTable(df, Seq("t", "band") ++ extraDims, "value")
  }

  /** lineitem as a cube: t = shipdate, band = returnflag by default; callers
    * can pick other dim/value columns.
    */
  def lineitemCube(spark: SparkSession, dir: String,
      dims: Seq[(String, String)] = Seq("l_shipdate" -> "t", "l_returnflag" -> "band"),
      valueCol: String = "l_quantity", rebalance: Boolean = false): DataCube = {
    val df = dims.foldLeft(lineitem(spark, dir, rebalance)) {
      case (d, (from, to)) => d.withColumnRenamed(from, to)
    }.withColumnRenamed(valueCol, "value")
    DataCube.fromTable(df, dims.map(_._2), "value")
  }
}
