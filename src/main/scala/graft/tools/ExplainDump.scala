package graft.tools

import graft.SparkEntry
import graft.pipeline.{Dedup, Retrieval}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dumps physical plans for representative queries — the plan-review
  * artifact (run: `sbt "runMain graft.tools.ExplainDump [names...]"`).
  *
  * Names resolve against the query registry plus the `*_lazy` entries of
  * [[lazyForms]].
  */
object ExplainDump {

  /** Plan forms of the registry rows whose production form returns an
    * eagerly checkpointed frame (`Caching.scoped`/`eager` truncates the
    * lineage to `Scan ExistingRDD`, so the registry entry's plan is a
    * stub): the SAME operator chain with its cache flag off — the
    * identical plan minus the materialization points, the established
    * audit discipline (see PlanAuditSpec's "cache-disabled form" comments).
    */
  val lazyForms: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fuzzy_join_lazy" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      Dedup.jaccardJoin(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id",
        col("text"), shingleLen = 3, threshold = 0.5, cachePrefix = false)
    },
    "substring_dup_lazy" -> { (spark, dir) =>
      Dedup.substringDupStats(Tables.documents(spark, dir), "doc_id",
        col("text"), k = 40, stride = 10, cacheWindows = false)
    },
    "bm25_topk_lazy" -> { (spark, dir) =>
      Retrieval.bm25TopK(Tables.documents(spark, dir),
        Seq("vector", "merge", "scan", "window"), k = 20,
        cachePostings = false)
    },
    "link_pagerank_lazy" -> { (spark, dir) =>
      graft.pipeline.LinkGraph.pageRank(
        graft.queries.PipelineQueries.pagerankEdges(
          Tables.read(spark, dir, "documents")), iters = 3,
        materialize = false)
    },
    "dedup_incremental_near_lazy" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir)
      Dedup.incrementalNearNew(
        docs.filter(col("doc_id") % 10 === 0),
        Dedup.minhashIndex(Tables.read(spark, dir, "documents")
          .filter(col("doc_id") % 10 =!= 0), "doc_id", col("text")),
        col("text"), threshold = 0.5, materialize = false)
    })

  /** `EXPLAIN_CONF="k=v;k=v"` as trimmed (key, value) pairs; blank entries
    * are skipped, and an entry with no `=` or an empty key throws.
    */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val key = if (i < 0) "" else kv.take(i).trim
      require(key.nonEmpty,
        s"EXPLAIN_CONF entry '$kv' is not key=value with a non-empty key")
      key -> kv.drop(i + 1).trim
    }

  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "filter_temporal", "reduce_stats", "merge_cubes", "mask",
      "aggregate_temporal", "resample_cube_temporal", "apply_kernel",
      "dedup_minhash_lsh", "ann_brute_topk", "topk_revenue")
    // SPARK_GRAFT_CPUS sizes the session like Bench does (plan shapes —
    // rebalance widths, AQE targets — depend on parallelism, so plan
    // artifacts should be dumped at the core count the claim is about);
    // EXPLAIN_CONF="k=v;k=v" sets session confs before planning (the
    // before/after arms, e.g. spark.sql.adaptive.enabled=false with
    // link_pagerank_lazy reproduces the AQE-scoped executed form).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("EXPLAIN_CONF").foreach(parseConf(_).foreach {
      case (k, v) => spark.conf.set(k, v)
    })
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val plans = SparkEntry.queries ++ lazyForms
    names.foreach { n =>
      println(s"\n===== $n =====")
      plans(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
