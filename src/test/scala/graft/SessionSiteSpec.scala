package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** CI gate for the one session path: outside `GraftSession.scala`, no
  * code line in `src/main` builds a `SparkSession`, so every main gets
  * the codegen cache size, the parquet and AQE settings and graft's
  * extensions from `GraftSession`. Pure file check, no Spark session.
  */
class SessionSiteSpec extends AnyFunSuite {

  private val forbidden = """SparkSession\s*\.\s*builder""".r

  private def offenders(root: Path): Seq[(Path, Int, String)] =
    SourceCode.offenders(root, forbidden, "GraftSession.scala")

  test("only GraftSession.scala builds a SparkSession in src/main") {
    val hits = offenders(Paths.get("src/main"))
    assert(hits.isEmpty, "build sessions through GraftSession.local or builder:\n" +
      hits.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n"))
  }

  test("the check sees builder calls and skips comments") {
    val dir = Files.createTempDirectory("session_site")
    Files.write(dir.resolve("Main.scala"), Seq(
      "val a = SparkSession.builder().getOrCreate()",
      "val b = org.apache.spark.sql.SparkSession.builder()",
      "val c = SparkSession .builder // local",
      "// SparkSession.builder() in a line comment",
      "  * SparkSession.builder() in a doc comment",
      "val d = GraftSession.builder(\"local[2]\", 4) // not SparkSession.builder").asJava)
    Files.write(dir.resolve("GraftSession.scala"),
      Seq("SparkSession.builder()").asJava)
    assert(offenders(dir).map(_._2) == Seq(1, 2, 3))
  }
}
