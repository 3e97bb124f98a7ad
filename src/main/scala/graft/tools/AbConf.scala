package graft.tools

import org.apache.spark.sql.SparkSession

/** Generic interleaved A/B over ONE runtime session conf (r19: serial
  * arms are unreadable on a contended box; arms must alternate execution
  * slot by slot under matched contention/JIT/page cache, with the arm
  * ORDER rotated per (round, query) so no arm owns the recency-advantaged
  * position). `SparkTuning.tune` never overrides a conf set here, so any
  * native Spark conf — including the ones it defaults — can be an arm.
  *
  * `runMain graft.tools.AbConf <confKey> <v1,v2,...> <q1,q2,...> [sfDir]`
  * AB_ROUNDS=n (default 3).
  */
object AbConf {
  def main(args: Array[String]): Unit = {
    val key = args.headOption.getOrElse(
      sys.error("usage: AbConf <confKey> <v1,v2,...> <q1,q2,...> [sfDir]"))
    val vals = args.lift(1).map(_.split(',').toSeq)
      .getOrElse(sys.error("need value list"))
    val names = args.lift(2).map(_.split(',').toSeq)
      .getOrElse(sys.error("need query list"))
    val sfDir = args.lift(3).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rounds = sys.env.get("AB_ROUNDS").map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fns = names.map(n => n -> graft.SparkEntry.queries(n))
    for (v <- vals; (_, fn) <- fns) { // warmup: every (query, arm) once
      spark.conf.set(key, v)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"WARM FAIL: ${e.getMessage.take(80)}") }
    }
    val t = collection.mutable.Map[(String, String), List[Double]]()
    for (r <- 0 until rounds; ((name, fn), qi) <- fns.zipWithIndex) {
      val rot = (r + qi) % vals.size
      for (v <- vals.drop(rot) ++ vals.take(rot)) {
        spark.conf.set(key, v)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        t((name, v)) = t.getOrElse((name, v), Nil) :+ dt
      }
    }
    println(f"${"query"}%-34s " + vals.map(v => f"$v%10s").mkString(" "))
    for (name <- names) {
      val mins = vals.map(v => t((name, v)).min)
      println(f"$name%-34s " + mins.map(m => f"$m%10.2f").mkString(" "))
    }
    println(f"${"TOTAL(min)"}%-34s " + vals.map(v =>
      f"${names.map(n => t((n, v)).min).sum}%10.2f").mkString(" "))
    spark.stop()
  }
}
