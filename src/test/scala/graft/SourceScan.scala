package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source scanning for the inventory specs: Scala source text with its
  * comments removed, and the source files under a directory. */
object SourceScan {

  /** `line` with its `//` comment removed (a `//` inside a string literal
    * is kept). */
  def stripLineComment(line: String): String = {
    var inString = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"' && (i == 0 || line.charAt(i - 1) != '\\')) inString = !inString
      else if (!inString && c == '/' && i + 1 < line.length && line.charAt(i + 1) == '/')
        return line.substring(0, i)
      i += 1
    }
    line
  }

  /** `text` with block comments (scaladoc included) and line comments
    * removed. */
  def stripComments(text: String): String =
    "(?s)/\\*.*?\\*/".r.replaceAllIn(text, "")
      .linesIterator.map(stripLineComment).mkString("\n")

  /** Source text of `p` with its comments removed. */
  def code(p: Path): String = stripComments(Files.readString(p))

  /** The `.scala` files under `dir` (relative to the repository root). */
  def sources(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }
}
