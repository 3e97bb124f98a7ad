package graft

import scala.jdk.CollectionConverters._

/** The `.scala` files under source roots as (path, text) pairs — what the
  * source-scan specs grep.
  */
object ScalaSources {
  def scalaSources(roots: String*): Seq[(String, String)] =
    roots.flatMap { root =>
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.map(p => p.toString ->
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
}
