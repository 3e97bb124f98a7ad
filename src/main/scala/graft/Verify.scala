package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, names) => (s, o, Some(names.split(',').toSet))
    }
    val spark = graft.core.SparkTuning.localSession()
    new java.io.File(outDir).mkdirs()
    // Every declared query MUST leave a trace in outDir: on failure, write
    // an output dir containing only _FAILED.txt (no parquet), so the
    // driver's comparator records an err row for the name instead of the
    // registry silently shrinking (that's how a 5-query regression survived
    // rounds 8-9 with an all-green 108-row artifact).
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = msg
        // best-effort marker: the cleanup/write must NEVER abort the loop
        // (a full disk mid-write is exactly when loud reporting matters)
        try {
          val d = new java.io.File(s"$outDir/$name")
          d.mkdirs()
          def purge(f: java.io.File): Unit = {
            val fs = f.listFiles()
            if (fs != null) fs.foreach { c =>
              if (c.isDirectory) purge(c)
              c.delete()
            }
          }
          purge(d)
          Files.writeString(Paths.get(s"$outDir/$name/_FAILED.txt"), msg)
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name marker write failed: $e2")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ******** ${failed.size}/${selected.size} " +
          s"QUERIES FAILED: ${failed.keys.mkString(", ")} ********")
      sys.exit(1)
    }
  }
}
