package graft.tools

/** Direct codegen-compile census for one registry query (optimization
  * guide §1: measure the suspected cost, not a proxy). Thread dumps under
  * the bench showed executor threads serialized behind
  * `CodeGenerator.compile`'s per-source KeyLock; this tool counts ACTUAL
  * Janino compilations per repetition via Spark's own CodegenMetrics, so
  * the compile-churn hypothesis (stock 100-entry class cache +
  * stage-id-suffixed class names defeating reuse) is testable without
  * trusting wall time on a contended box: if the cache works, rep 2+ must
  * compile ~zero new sources.
  *
  * `runMain graft.tools.CodegenProbe <q1,q2,...> [sfDir]`, CGP_REPS=n.
  */
object CodegenProbe {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(',').toSeq)
      .getOrElse(sys.error("usage: CodegenProbe <q1,q2,...> [sfDir]"))
    val sfDir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val reps = sys.env.get("CGP_REPS").map(_.toInt).getOrElse(3)
    val spark = graft.core.SparkTuning.localSession()
    // CGP_USEID=true runs the control arm (stage-id'd class names);
    // SparkTuning.tune keeps a value the caller set
    sys.env.get("CGP_USEID").foreach(v =>
      spark.conf.set("spark.sql.codegen.useIdInClassName", v))
    val cm = org.apache.spark.metrics.source.CodegenMetrics
    def compiles: Long = cm.METRIC_COMPILATION_TIME.getCount
    def genSrc: Long = cm.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
    println(s"staticCacheMaxEntries=" +
      spark.conf.getOption("spark.sql.codegen.cache.maxEntries").getOrElse("?"))
    for ((name, fn) <- names.map(n => n -> graft.SparkEntry.queries(n));
         r <- 1 to reps) {
      val c0 = compiles; val g0 = genSrc
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"CGPROBE $name rep=$r wall=$dt%.2f s " +
        f"compiles=${compiles - c0} classes=${genSrc - g0}")
    }
    spark.stop()
  }
}
