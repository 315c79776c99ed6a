package graft

import scala.jdk.CollectionConverters._

/** The lint specs' source scan: every `.scala` file under `root`, by its
  * path relative to `root`, with its text. */
object SourceScan {
  def apply(root: String = "src/main/scala/graft"): Map[String, String] = {
    val dir = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => dir.relativize(p).toString -> java.nio.file.Files.readString(p)).toMap
    finally walk.close()
  }

  /** Per file under src/main/scala/graft, the literal occurrences of
    * `needle` (not a regex: dots and parens match themselves), where any. */
  def count(needle: String): Map[String, Int] = {
    val pattern = java.util.regex.Pattern.quote(needle).r
    apply().map { case (f, txt) => f -> pattern.findAllIn(txt).size }.filter(_._2 > 0)
  }

  /** The files under `root` whose text `hit`s, sorted. */
  def filesWhere(root: String)(hit: String => Boolean): List[String] =
    apply(root).collect { case (f, txt) if hit(txt) => f }.toList.sorted
}
