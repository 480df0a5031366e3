package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Comment stripping for the specs that scan `src/main` as text. */
object SourceCode {

  /** The line with any `//` comment cut off; blank for a line inside a
    * block or doc comment.
    */
  def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) ""
    else t.indexOf("//") match {
      case -1 => t
      case i => t.take(i)
    }
  }

  /** (file, line number, trimmed line) for every code line of a
    * `.scala` file under `root`, other than the file named `exempt`,
    * where `pattern` occurs outside a comment.
    */
  def offenders(root: Path, pattern: Regex, exempt: String): Seq[(Path, Int, String)] = {
    val files = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == exempt)
      .toSeq.sortBy(_.toString)
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.toSeq.zipWithIndex
      if pattern.findFirstIn(code(line)).isDefined
    } yield (f, i + 1, line.trim)
  }
}
