package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.PlanBridge

/** Dumps the physical plans representative queries ran — the plan-review
  * artifact (run: `sbt "runMain graft.tools.ExplainDump [names...]"`).
  *
  * Each named registry query runs into the noop sink, and every plan its
  * jobs executed is printed: an operator that checkpoints its result
  * shows the plan of its materializing job, with persisted intermediates
  * as `InMemoryRelation` subtrees, and the PageRank loop shows the plans
  * of its AQE-off session clone.
  */
object ExplainDump {

  /** The final physical plan of every job query `name` ran into the noop
    * sink, one `== plan i ==` block each.
    */
  def dump(spark: SparkSession, dir: String, name: String): String = {
    val (_, plans) = PlanBridge.executedPlans(spark) {
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    plans.zipWithIndex.map { case (p, i) => s"== plan ${i + 1} ==\n${p.treeString}" }
      .mkString("\n")
  }

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
    // before/after arms, e.g. spark.sql.adaptive.enabled=false).
    val spark = graft.core.SparkTuning.localSession()
    sys.env.get("EXPLAIN_CONF").foreach(parseConf(_).foreach {
      case (k, v) => spark.conf.set(k, v)
    })
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names.foreach(n => println(s"\n===== $n =====\n${dump(spark, dir, n)}"))
    spark.stop()
  }
}
