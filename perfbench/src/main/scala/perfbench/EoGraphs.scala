package perfbench

import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import graft.core.DataCube
import graft.pipeline.Dedup
import graft.plans.ProcessGraph
import graft.sources.{StacLoader, Tables, TiffReader, ZarrReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Closed loop, one client: a seeded stream of openEO process graphs
  * through `ProcessGraph.execute`. Job `i` uses template `i % templates`
  * with literals drawn from `Random(seed, i)`, so graphs share templates
  * but not plans. The collections are the `events` and `lineitem` cubes,
  * one seeded (x, y, t, bands) raster behind a STAC catalog, and a
  * document corpus with near-duplicates for the training-data pipeline
  * templates: exact dedup, and shard probes against one
  * standing MinHash index through a user-registered process.
  */
final class EoGraphs(seed: Long, inputs: String, scratch: String)
    extends Main.Workload {
  import EoGraphs._

  val name = "eo_graphs"
  private val tables = s"$inputs/tables"
  private val catalog = java.nio.file.Paths.get(s"$inputs/raster/catalog.json")
    .toAbsolutePath.toString
  private var spark: SparkSession = _
  private var collections: Map[String, DataCube] = Map.empty
  private var docs: DataFrame = _

  def register(s: SparkSession): Unit = {
    spark = s
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(scratch, "results"))
    docs = Trace.span("sources.documents")(Tables.documents(s, tables))
    collections = Map(
      "events" -> Trace.span("sources.events")(Tables.eventsCube(s, tables)),
      "lineitem" -> Trace.span("sources.lineitem")(Tables.lineitemCube(s, tables)),
      "raster" -> Trace.span("sources.stac")(
        StacLoader.loadCube(s, StacLoader.loadCatalogItems(catalog))),
      "documents" -> DataCube.fromTable(docs.select("doc_id", "text"), Seq("doc_id"), "text"),
      "probe_docs" -> Trace.span("sources.probe_docs")(DataCube.fromTable(
        s.read.parquet(s"$inputs/probe_docs.parquet").select("doc_id", "text"),
        Seq("doc_id"), "text")))
    index = None
    ProcessGraph.registerProcess("near_dup_probe", (args, _) => args("data") match {
      case ProcessGraph.CubeV(c) =>
        val shard = args("shard").asInstanceOf[ProcessGraph.NumV].v.toInt
        val hits = Trace.span("pipeline.index_probe")(Dedup.incrementalNearNew(
          c.df.filter(pmod(col("doc_id"), lit(ProbeShards)) === shard),
          standingIndex(), col("text"), threshold = Threshold,
          expectedShardBands = ShardBands))
        ProcessGraph.CubeV(DataCube.fromTable(hits, Seq("id_new", "id_corpus"), "jaccard"))
      case other => throw new IllegalArgumentException(s"near_dup_probe: data is $other")
    })
  }

  /** The corpus MinHash index, built on first use and then kept (persisted)
    * for every later probe: the shared work the probe template measures. */
  private var index: Option[Dedup.MinhashIndex] = None
  private var indexBuildS = 0.0
  private def standingIndex(): Dedup.MinhashIndex = index.getOrElse {
    val t = Trace.now()
    val idx = Trace.span("pipeline.index_build") {
      val i = Dedup.minhashIndex(docs, "doc_id", col("text"))
      val kept = i.copy(bands = i.bands.persist(StorageLevel.MEMORY_AND_DISK),
        shingles = i.shingles.persist(StorageLevel.MEMORY_AND_DISK),
        counts = i.counts.persist(StorageLevel.MEMORY_AND_DISK))
      Seq(kept.bands, kept.shingles, kept.counts).foreach(Main.sink)
      kept
    }
    indexBuildS = Trace.now() - t
    index = Some(idx)
    idx
  }

  /** Job `i`: template `i % templates`. Literal values (positions,
    * thresholds, weights, reducers of equal cost) come from the seed; the
    * choices that change a job's amount of work (output format, method,
    * period, band count) cycle with the pass number `v`, so every seed
    * runs the same mix of work. */
  def job(i: Int): Job = {
    val r = new Random(seed * 1000003L + i)
    val v = i / Templates.size
    val t = Templates(i % Templates.size)
    val (graphs, rb) = t match {
      case "reduce_t" => (Seq(reduceT(r)), None)
      case "ndvi" => (Seq(ndvi(r)), None)
      case "band_reduce" => (Seq(bandReduce(r)), None)
      case "agg_period" => (Seq(aggPeriod(r, v)), None)
      case "resample" => (Seq(resample(r, v)), None)
      case "kernel" => (Seq(kernel(r)), None)
      case "merge" => (Seq(merge(r, v)), None)
      case "mask" => (Seq(mask(r)), None)
      case "cumulative" => (Seq(cumulative(r)), None)
      case "stac_load" => (Seq(stacLoad(r, v, catalog)), None)
      case "exact_dedup" => (Seq(exactDedup(v)), None)
      case "near_probe" => (Seq(nearProbe(r)), None)
      case "scale_t" => (Seq(scaleT(r)), None)
      case "save_load" =>
        val fmt = cycle(v, "parquet", "zarr", "gtiff")
        val path = java.nio.file.Paths.get(scratch, "results", s"job$i.$fmt")
          .toAbsolutePath.toString
        val save = saveGraph(r, fmt, path)
        if (fmt == "parquet") (Seq(save, loadResult(path)), None)
        else (Seq(save), Some(fmt -> path))
    }
    Job(i, t, graphs, rb)
  }

  private def execute(g: String): DataCube = {
    graphsRun += 1
    nodes += "\"process_id\"".r.findAllMatchIn(g).size
    // a graph ending in save_result writes eagerly inside execute
    val layer = if (g.contains("\"save_result\"")) "sources.write" else "plans.execute"
    Trace.span(layer)(ProcessGraph.execute(spark, g, collections))
  }

  /** Execute a job's graphs and return the frame its last step produces. */
  private def frameOf(j: Job): DataFrame = {
    val cubes = j.graphs.map(execute)
    j.readBack match {
      case Some(("zarr", p)) =>
        Trace.span("sources.zarr")(ZarrReader.loadCube(spark, p, Seq("y", "x")).df)
      case Some((_, p)) => Trace.span("sources.tiff")(TiffReader.loadArray(spark, p))
      case None => cubes.last.df
    }
  }

  private def cleanup(j: Job): Unit =
    if (j.template == "save_load") {
      val dir = java.nio.file.Paths.get(scratch, "results").toFile
      Option(dir.listFiles()).foreach(_.foreach(rmTree))
    }

  // bench-side counters (graphs executed, graph nodes) and job samples
  private var graphsRun = 0L
  private var nodes = 0L
  private val samples = mutable.ArrayBuffer[(String, Double, Double)]()
  private val cold = mutable.ArrayBuffer[(Double, Double)]()
  private var next = 0
  private var warmGraphs = 0L
  private var warmNodes = 0L

  /** Run one job, its result going to the noop sink, or, with `check`,
    * collected and checksummed (results are small: at most a few thousand
    * cells). */
  private def runJob(j: Job, check: Boolean = false): (Double, Double) = {
    val t = Trace.now()
    Trace.span("job") {
      if (!check) Main.sink(frameOf(j))
      else {
        val (n, c) = Trace.span("action")(Checksum(frameOf(j)))
        checks += ((s"job${j.index}.${j.template}", n > 0, s"rows=$n checksum=$c"))
        checksums(s"job${j.index}.${j.template}") = c
      }
    }
    val took = Trace.now() - t
    Trace.log(f"job ${j.index}%d ${j.template}%s $took%.3f s")
    cleanup(j)
    (t, took)
  }

  /** The first pass checks what it computes: one job per template, its
    * result checksummed instead of discarded. */
  def firstPass(): Unit = {
    while (next < Templates.size) { cold += runJob(job(next), check = true); next += 1 }
  }

  def warm(deadline: Double): Unit = {
    val (g0, n0) = (graphsRun, nodes)
    // whole passes only, so every run weighs the templates alike
    while (Trace.now() < deadline || samples.size < MinWarmJobs ||
        next % Templates.size != 0) {
      val j = job(next)
      val (t, took) = runJob(j)
      samples += ((j.template, t, took))
      next += 1
    }
    warmGraphs = graphsRun - g0
    warmNodes = nodes - n0
  }

  private val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  /** Per first-pass job: its result checksum. run.py compares them with
    * the checksums frozen for the default seed. */
  val checksums = mutable.LinkedHashMap[String, String]()
  private var counts = Map.empty[String, Long]

  /** Every first-pass result must be non-empty. Traced runs also count
    * the corpus's LSH candidate pairs against its verified near-dup
    * pairs (`pipeline.pair_yield`). */
  def check(): Seq[(String, Boolean, String)] = {
    if (Trace.on) {
      val sh = Dedup.shingles(docs, "doc_id", col("text"), 3)
      val cand = Dedup.lshCandidatePairs(Dedup.lshBandKeysWide(
        Dedup.minhashSignaturesWide(sh, "doc_id", 32), "doc_id", 32, 4), "doc_id").count()
      val verified = Dedup.minhashNearDups(docs, "doc_id", col("text"),
        threshold = Threshold).count()
      counts = Map("candidate_pairs" -> cand, "verified_pairs" -> verified)
    }
    checks.toSeq
  }

  /** The second pass's jobs again, so every overhead pass runs the same
    * graphs. */
  def overheadPass(tag: String): Double =
    (0 until Templates.size).map(k => runJob(job(Templates.size + k))._2).sum

  def result(): Map[String, Any] = Map(
    "job_s" -> samples.map(_._3).toSeq,
    "job_start" -> samples.map(_._2).toSeq,
    "job_template" -> samples.map(_._1).toSeq,
    "cold_job_s" -> cold.map(_._2).toSeq,
    "cold_job_start" -> cold.map(_._1).toSeq,
    "warm_graphs" -> warmGraphs, "warm_nodes" -> warmNodes,
    "index_build_s" -> indexBuildS, "counts" -> counts,
    "checksums" -> checksums)
}

object EoGraphs {
  /** One job: its graphs, plus how its sink is read back (save jobs). */
  final case class Job(index: Int, template: String, graphs: Seq[String],
      readBack: Option[(String, String)])

  val Templates = Seq("reduce_t", "ndvi", "band_reduce", "agg_period", "resample", "kernel",
    "merge", "mask", "cumulative", "stac_load", "save_load", "exact_dedup", "near_probe",
    "scale_t")
  /** Three warm passes: 42 samples, so p75 has 10 beyond it. The five
    * templates of middle cost (about half a second) hold the median's
    * rank between them, away from the border with the cheap ones. Cycled
    * choices come up in the same proportions in every run. */
  val MinWarmJobs = 3 * 14
  val Threshold = 0.6
  val ProbeShards = 8
  val ShardBands = 1L << 12

  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  def pick[T](r: Random, xs: T*): T = xs(r.nextInt(xs.size))
  def cycle[T](v: Int, xs: T*): T = xs(v % xs.size)

  private def reducer(name: String): String =
    s"""{"process_graph": {"r": {"process_id": "$name",
       |  "arguments": {"data": {"from_parameter": "data"}}, "result": true}}}""".stripMargin

  private def load(id: String, node: String = "l"): String =
    s""""$node": {"process_id": "load_collection", "arguments": {"id": "$id"}}"""

  private def graph(nodes: String*): String =
    nodes.mkString("{\"process_graph\": {\n", ",\n", "}}")

  /** A [start, start + days) window starting on a random day of the
    * events' 90-day span. */
  private def eventsWindow(r: Random, days: Int): (String, String) = {
    val start = EventsStart.plusDays(r.nextInt(90 - days).toLong)
    (start.toString, start.plusDays(days.toLong).toString)
  }
  private val EventsStart = LocalDate.parse("2024-01-01")
  /** The raster's dates (gen.py), 14 to 17 days apart. */
  private val RasterDates = Seq("2024-01-01", "2024-01-15", "2024-02-01", "2024-02-15")
    .map(LocalDate.parse)
  /** A window holding exactly the raster dates k until k + n - 1. */
  private def rasterWindow(r: Random, k: Int, n: Int): (String, String) =
    (RasterDates(k).minusDays(r.nextInt(5).toLong).toString,
      RasterDates(k + n - 1).plusDays(1L + r.nextInt(5)).toString)

  def reduceT(r: Random): String = {
    val (s, e) = eventsWindow(r, 30)
    val cb = pick(r,
      s"""{"process_id": "multiply", "arguments": {"x": {"from_parameter": "x"}, "y": ${1 + r.nextInt(9)}}, "result": true}""",
      s"""{"process_id": "linear_scale_range", "arguments": {"x": {"from_parameter": "x"}, "inputMin": 0, "inputMax": ${100 + r.nextInt(400)}}, "result": true}""",
      """{"process_id": "absolute", "arguments": {"x": {"from_parameter": "x"}}, "result": true}""")
    graph(load("events"),
      s""""f": {"process_id": "filter_temporal", "arguments": {"data": {"from_node": "l"}, "extent": ["$s", "$e"]}}""",
      s""""a": {"process_id": "apply", "arguments": {"data": {"from_node": "f"}, "process": {"process_graph": {"c": $cb}}}}""",
      s""""r": {"process_id": "reduce_dimension", "arguments": {"data": {"from_node": "a"}, "dimension": "t", "reducer": ${reducer(pick(r, "mean", "max", "min", "sum"))}}, "result": true}""")
  }

  def ndvi(r: Random): String = {
    val w = 10.0 + r.nextInt(10) * 0.1
    val s = 45.0 + r.nextInt(10) * 0.1
    graph(load("raster"),
      s""""b": {"process_id": "filter_bbox", "arguments": {"data": {"from_node": "l"}, "extent": [$w, ${w + 2.5}, $s, ${s + 2.0}]}}""",
      """"n": {"process_id": "ndvi", "arguments": {"data": {"from_node": "b"}, "nir": "nir", "red": "red"}}""",
      s""""r": {"process_id": "reduce_dimension", "arguments": {"data": {"from_node": "n"}, "dimension": "t", "reducer": ${reducer(pick(r, "mean", "max", "min"))}}, "result": true}""")
  }

  def bandReduce(r: Random): String = {
    val w = 10.0 + r.nextInt(10) * 0.1
    val s = 45.0 + r.nextInt(10) * 0.1
    graph(load("raster"),
      s""""b": {"process_id": "filter_bbox", "arguments": {"data": {"from_node": "l"}, "extent": [$w, ${w + 2.5}, $s, ${s + 2.0}]}}""",
      s""""a": {"process_id": "apply", "arguments": {"data": {"from_node": "b"}, "process": {"process_graph": {"c": {"process_id": "linear_scale_range", "arguments": {"x": {"from_parameter": "x"}, "inputMin": 0, "inputMax": ${1 + r.nextInt(4)}}, "result": true}}}}}""",
      s""""r": {"process_id": "reduce_dimension", "arguments": {"data": {"from_node": "a"}, "dimension": "bands", "reducer": ${reducer(pick(r, "mean", "max", "sum"))}}, "result": true}""")
  }

  def aggPeriod(r: Random, v: Int): String = {
    val (s, e) = eventsWindow(r, 40)
    graph(load("events"),
      s""""f": {"process_id": "filter_temporal", "arguments": {"data": {"from_node": "l"}, "extent": ["$s", "$e"]}}""",
      s""""a": {"process_id": "aggregate_temporal_period", "arguments": {"data": {"from_node": "f"}, "period": "${cycle(v, "day", "week", "month")}", "reducer": ${reducer(pick(r, "mean", "sum", "max", "min"))}}, "result": true}""")
  }

  def resample(r: Random, v: Int): String =
    graph(load("raster"),
      s""""b": {"process_id": "filter_bands", "arguments": {"data": {"from_node": "l"}, "bands": ["${pick(r, "red", "nir")}"]}}""",
      s""""s": {"process_id": "resample_spatial", "arguments": {"data": {"from_node": "b"}, "resolution": ${pick(r, 0.2, 0.25, 0.4)}, "method": "${cycle(v, "near", "average", "max")}"}, "result": true}""")

  def kernel(r: Random): String = {
    val (s, e) = rasterWindow(r, r.nextInt(RasterDates.size), 1)
    val k = pick(r, "[[1, 1, 1], [1, 1, 1], [1, 1, 1]]", "[[0, 1, 0], [1, 4, 1], [0, 1, 0]]",
      "[[1, 2, 1], [2, 4, 2], [1, 2, 1]]")
    graph(load("raster"),
      s""""f": {"process_id": "filter_temporal", "arguments": {"data": {"from_node": "l"}, "extent": ["$s", "$e"]}}""",
      s""""k": {"process_id": "apply_kernel", "arguments": {"data": {"from_node": "f"}, "kernel": $k, "factor": ${pick(r, 0.0625, 0.125, 0.25)}}, "result": true}""")
  }

  def merge(r: Random, v: Int): String = {
    val period = cycle(v, "month", "year")
    val red = pick(r, "sum", "max", "mean")
    graph(load("lineitem"),
      s""""a": {"process_id": "filter_bands", "arguments": {"data": {"from_node": "l"}, "bands": ["A", "N"]}}""",
      s""""b": {"process_id": "filter_bands", "arguments": {"data": {"from_node": "l"}, "bands": ["R"]}}""",
      s""""pa": {"process_id": "aggregate_temporal_period", "arguments": {"data": {"from_node": "a"}, "period": "$period", "reducer": ${reducer(red)}}}""",
      s""""pb": {"process_id": "aggregate_temporal_period", "arguments": {"data": {"from_node": "b"}, "period": "$period", "reducer": ${reducer(red)}}}""",
      """"m": {"process_id": "merge_cubes", "arguments": {"cube1": {"from_node": "pa"}, "cube2": {"from_node": "pb"}}, "result": true}""")
  }

  def mask(r: Random): String =
    graph(load("raster"),
      """"n": {"process_id": "ndvi", "arguments": {"data": {"from_node": "l"}, "nir": "nir", "red": "red"}}""",
      s""""c": {"process_id": "apply", "arguments": {"data": {"from_node": "n"}, "process": {"process_graph": {"c": {"process_id": "lt", "arguments": {"x": {"from_parameter": "x"}, "y": ${0.1 + r.nextInt(10) * 0.01}}, "result": true}}}}}""",
      """"m": {"process_id": "mask", "arguments": {"data": {"from_node": "n"}, "mask": {"from_node": "c"}}}""",
      s""""r": {"process_id": "reduce_dimension", "arguments": {"data": {"from_node": "m"}, "dimension": "t", "reducer": ${reducer(pick(r, "mean", "max"))}}, "result": true}""")

  def cumulative(r: Random): String = {
    val (s, e) = eventsWindow(r, 20)
    graph(load("events"),
      s""""f": {"process_id": "filter_temporal", "arguments": {"data": {"from_node": "l"}, "extent": ["$s", "$e"]}}""",
      s""""c": {"process_id": "apply_dimension", "arguments": {"data": {"from_node": "f"}, "dimension": "t", "process": ${reducer(pick(r, "cumsum", "cummax", "cummin"))}}, "result": true}""")
  }

  def stacLoad(r: Random, v: Int, catalog: String): String = {
    val w = 10.0 + r.nextInt(15) * 0.1
    val s = 45.0 + r.nextInt(10) * 0.1
    val (t0, t1) = rasterWindow(r, r.nextInt(RasterDates.size - 1), 2)
    val bands = cycle(v, """["red", "nir"]""", """["red"]""", """["nir"]""")
    graph(
      s""""l": {"process_id": "load_stac", "arguments": {"url": "file://$catalog", "spatial_extent": {"west": $w, "east": ${w + 2.0}, "south": $s, "north": ${s + 1.6}}, "temporal_extent": ["${t0}T00:00:00Z", "${t1}T00:00:00Z"], "bands": $bands}}""",
      s""""r": {"process_id": "reduce_dimension", "arguments": {"data": {"from_node": "l"}, "dimension": "t", "reducer": ${reducer(pick(r, "mean", "max", "min", "sum"))}}, "result": true}""")
  }

  def exactDedup(v: Int): String =
    graph(load(cycle(v, "documents", "probe_docs")),
      """"d": {"process_id": "exact_dedup", "arguments": {"data": {"from_node": "l"}}, "result": true}""")

  def nearProbe(r: Random): String =
    graph(load("probe_docs"),
      s""""p": {"process_id": "near_dup_probe", "arguments": {"data": {"from_node": "l"}, "shard": ${r.nextInt(ProbeShards)}}, "result": true}""")

  /** Two raster dates, rescaled, then reduced over time. */
  def scaleT(r: Random): String = {
    val (s, e) = rasterWindow(r, r.nextInt(RasterDates.size - 1), 2)
    graph(load("raster"),
      s""""f": {"process_id": "filter_temporal", "arguments": {"data": {"from_node": "l"}, "extent": ["$s", "$e"]}}""",
      s""""a": {"process_id": "apply", "arguments": {"data": {"from_node": "f"}, "process": {"process_graph": {"c": {"process_id": "linear_scale_range", "arguments": {"x": {"from_parameter": "x"}, "inputMin": 0, "inputMax": ${1 + r.nextInt(4)}, "outputMin": 0, "outputMax": ${pick(r, 1, 100, 255)}}, "result": true}}}}}""",
      s""""r": {"process_id": "reduce_dimension", "arguments": {"data": {"from_node": "a"}, "dimension": "t", "reducer": ${reducer(pick(r, "mean", "max", "min", "sum"))}}, "result": true}""")
  }

  def saveGraph(r: Random, fmt: String, path: String): String =
    graph(load("raster"),
      """"n": {"process_id": "ndvi", "arguments": {"data": {"from_node": "l"}, "nir": "nir", "red": "red"}}""",
      s""""r": {"process_id": "reduce_dimension", "arguments": {"data": {"from_node": "n"}, "dimension": "t", "reducer": ${reducer(pick(r, "mean", "max", "min"))}}}""",
      s""""s": {"process_id": "save_result", "arguments": {"data": {"from_node": "r"}, "format": "$fmt", "options": {"path": "$path"}}, "result": true}""")

  def loadResult(path: String): String =
    graph(s""""l": {"process_id": "load_result", "arguments": {"id": "$path"}, "result": true}""")
}
