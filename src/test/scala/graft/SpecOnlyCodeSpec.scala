package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** CI gate against spec-only code: every `src/main` file names a
  * top-level type that some other `src/main` file names on a code line,
  * unless the file is an entry point in [[roots]]. A file that only
  * specs call reaches no registry query, Pipeline stage or CLI main, so
  * it either gets wired in or goes with its spec. Pure file check, no
  * Spark session.
  */
class SpecOnlyCodeSpec extends AnyFunSuite {

  // The CLI mains, plus PlanLint, which PlanAuditSpec runs on every
  // registered query.
  private val roots = Set("Pipeline.scala", "Verify.scala", "Plans.scala",
    "tools/RecallEval.scala", "tools/ScaleUp.scala", "plans/PlanLint.scala")

  private val decl =
    """^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(?:object|class|trait)\s+(\w+)""".r

  /** Files under `root`, as paths relative to it, whose top-level types
    * no other file names outside comments.
    */
  private def unreached(root: Path): Seq[String] = {
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => root.relativize(f).toString).sorted
    val lines = files.map(f =>
      f -> Files.readAllLines(root.resolve(f)).asScala.toSeq).toMap
    val code = lines.map { case (f, ls) => f -> ls.map(SourceCode.code).mkString("\n") }
    val types = lines.map { case (f, ls) =>
      f -> ls.flatMap(l => decl.findFirstMatchIn(l).map(_.group(1))) }
    def named(t: String, in: String) = s"\\b$t\\b".r.findFirstIn(code(in)).isDefined
    files.filterNot(f => roots.exists(r => f.endsWith("/" + r)))
      .filterNot(f => types(f).exists(t => files.exists(g => g != f && named(t, g))))
  }

  test("every src/main file outside the entry points is named by another") {
    val spare = unreached(Paths.get("src/main"))
    assert(spare.isEmpty, "named only by specs, comments or themselves " +
      "(wire into a query or Pipeline, or delete with the spec):\n" +
      spare.mkString("\n"))
  }

  test("the check skips comments and the entry points") {
    val dir = Files.createTempDirectory("spec_only")
    def write(name: String, lines: String*): Unit = {
      Files.createDirectories(dir.resolve(name).getParent)
      Files.write(dir.resolve(name), lines.asJava)
    }
    write("graft/Verify.scala",
      "object Verify {", "  def main(a: Array[String]): Unit = Used.go()", "}")
    write("graft/Used.scala", "object Used { def go(): Unit = () }")
    write("graft/Cited.scala",
      "/** Cited only here and by [[Doc]]. */", "case class Cited(x: Int)")
    write("graft/Doc.scala",
      "object Doc {", "  // Cited(1) in a line comment",
      "  /* Cited(2) */", "  * [[Cited]] in a doc comment", "}")
    write("graft/Self.scala",
      "final class Self", "object Self { val s = new Self }")
    assert(unreached(dir) == Seq("graft/Cited.scala", "graft/Doc.scala",
      "graft/Self.scala"))
  }
}
