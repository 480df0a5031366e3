package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** CI gate for the option surface: every environment variable that
  * `src/main` reads is named in [[allowed]], so a new knob has to edit
  * this list in plain sight. Pure file check, no Spark session.
  */
class EnvKnobSpec extends AnyFunSuite {

  // SPARK_GRAFT_CPUS: the local[N] of the Verify and RecallEval mains
  private val allowed = Set("SPARK_GRAFT_CPUS")

  private val access = """sys\s*\.\s*env|System\s*\.\s*getenv""".r
  private val named =
    """(?:sys\s*\.\s*env\s*(?:\.\s*(?:get|getOrElse|contains)\s*)?|System\s*\.\s*getenv\s*)\(\s*"(\w+)"""".r

  /** (file, variable) for every read; variable is "?" where the name
    * is not a literal.
    */
  private def reads(root: Path): Seq[(String, String)] =
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString).flatMap { f =>
        val src = Files.readAllLines(f).asScala.map(SourceCode.code).mkString("\n")
        val names = named.findAllMatchIn(src).map(m => m.start -> m.group(1)).toMap
        access.findAllMatchIn(src).map(m =>
          f.getFileName.toString -> names.getOrElse(m.start, "?")).toSeq
      }

  test("src/main reads only the allowlisted environment variables") {
    val found = reads(Paths.get("src/main"))
    val unknown = found.filterNot { case (_, v) => allowed.contains(v) }
    assert(unknown.isEmpty, "environment reads outside the allowlist: " +
      unknown.map { case (f, v) => s"$f: $v" }.mkString(", "))
    assert(found.map(_._2).toSet == allowed,
      s"allowlisted but never read: ${allowed -- found.map(_._2)}")
  }

  test("the check sees every form of read and skips comments") {
    val dir = Files.createTempDirectory("env_knob")
    Files.write(dir.resolve("Op.scala"), Seq(
      """val a = sys.env.get("A_KNOB").map(_.toInt)""",
      """val b = sys.env.getOrElse("B_KNOB", "1")""",
      """val c = sys.env("C_KNOB") + System.getenv("D_KNOB")""",
      """val e = sys.env.filter(_._1.startsWith("E_"))""",
      """// sys.env.get("F_KNOB") in a line comment""",
      """  * sys.env.get("G_KNOB") in a doc comment""").asJava)
    assert(reads(dir).map(_._2) ==
      Seq("A_KNOB", "B_KNOB", "C_KNOB", "D_KNOB", "?"))
  }
}
