package perfbench

import org.apache.spark.sql.DataFrame

/** Order-insensitive checksum of a frame: rows rendered with doubles at 6
  * significant digits (summation order may move the last bits), sorted,
  * hashed. Returns (rows, sha256 hex). */
object Checksum {
  def apply(df: DataFrame): (Long, String) = {
    def cell(x: Any): String = x match {
      case d: Double => if (d.isNaN) "NaN" else f"$d%.6g"
      case f: Float => cell(f.toDouble)
      case null => "null"
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case o => o.toString
    }
    val rows = df.collect().map(_.toSeq.map(cell).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }
}
