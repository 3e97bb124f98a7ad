package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize a larger scale factor from an existing testdata dir by N×
  * replication under shifted keys — the sf1 bench axis (the driver ships
  * sf0.001/0.01/0.1 only). Unlike `Stress`'s adversarially dup-heavy
  * corpus, the replicas are DE-DUPLICATED by construction so the workload
  * keeps its natural shape at 10×: document texts get a replica tag
  * interleaved into every 4th word (cross-replica shingle Jaccard drops
  * below near-dup thresholds — a mere suffix token would leave replicas
  * MinHash-clustering into 10-cliques and measure the dup-heavy special
  * case instead), embeddings get deterministic per-(id, component) jitter
  * (near-dup cliques not inflated), fact/dimension integer keys shift by
  * replica·10⁹ (FK joins stay valid because both sides shift together),
  * and nation/region (true dimensions) copy once. Each table lands as a
  * SINGLE parquet file named `<table>.parquet`, matching the driver's
  * testdata layout (the streaming file-source queries glob exactly that
  * name); parquet row groups keep the scan parallel.
  *
  *   sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/graft_sf1 10"
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, repStr) = args.take(3)
    val rep = repStr.toInt
    val spark = graft.core.SparkTuning.localSession()
    new java.io.File(outDir).mkdirs()

    val K = 1000000000L // key shift per replica

    def replicate(name: String)(f: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$inDir/$name.parquet")
      val out = spark.range(rep).toDF("_r").crossJoin(base)
      writeOne(name, f(out, col("_r")).drop("_r"))
    }
    def copy(name: String): Unit =
      writeOne(name, spark.read.parquet(s"$inDir/$name.parquet"))
    def writeOne(name: String, df: DataFrame): Unit = {
      val tmp = s"$outDir/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$outDir/$name.parquet")
      if (dest.exists()) dest.delete()
      java.nio.file.Files.move(part.toPath, dest.toPath)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
      println(s"[scaleup] $name: ${spark.read.parquet(dest.getPath).count()} rows")
    }

    copy("region"); copy("nation")
    replicate("customer") { (d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + r * K) }
    replicate("supplier") { (d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + r * K) }
    replicate("part") { (d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + r * K) }
    replicate("orders") { (d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + r * K)
        .withColumn("o_custkey", col("o_custkey") + r * K) }
    replicate("lineitem") { (d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + r * K)
        .withColumn("l_partkey", col("l_partkey") + r * K)
        .withColumn("l_suppkey", col("l_suppkey") + r * K) }
    replicate("events") { (d, r) =>
      d.withColumn("event_id", col("event_id") + r * K)
        .withColumn("user_id", col("user_id") + r * K) }
    replicate("documents") { (d, r) =>
      // A trailing marker token is NOT enough: replicas would still share
      // ~all shingles and MinHash-cluster into 10-cliques, inflating the
      // near-dup pair volume ~100× and measuring the dup-heavy special
      // case (Stress covers that) instead of the scale-factor axis.
      // Interleave a replica tag into every 4th word instead: every
      // 3-shingle window that crosses a tagged word differs between
      // replicas, dropping cross-replica Jaccard below the 0.5 dedup
      // threshold. The tag is a COMMON ENGLISH BIGRAM (not "_<digit>"):
      // out-of-distribution tag characters shifted char-trigram xent past
      // the LM gates and emptied the crawl pipeline at sf1 — token
      // counts, char distributions and trigram statistics must survive
      // the replication.
      val tag = element_at(typedLit(Seq("er", "on", "at", "en", "in",
        "ed", "es", "te", "an", "st")), (r % 10).cast("int") + 1)
      d.withColumn("doc_id", col("doc_id") + r * K)
        .withColumn("text", array_join(
          zip_with(split(col("text"), " "),
            sequence(lit(0), greatest(size(split(col("text"), " ")) - 1, lit(0))),
            (w, i) => when(pmod(i, lit(4)) === 0,
              concat(w, tag)).otherwise(w)),
          " ")) }
    replicate("embeddings") { (d, r) =>
      // deterministic per-(replica, id, component) jitter breaks exact-
      // and near-dup cliques between replicas while keeping the value
      // distribution; transform index i is 0-based
      d.withColumn("vec_id", col("vec_id") + r * K)
        .withColumn("embedding", transform(col("embedding"), (x, i) =>
          (x + ((pmod(col("vec_id") * 31 + i * 7 + r * 13, lit(1000))
            .cast("double") / 1000.0 - 0.5) * 0.1).cast("float"))
            .cast("float"))) }
    spark.stop()
  }
}
