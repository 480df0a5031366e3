package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** CI gate for the one materialization primitive: outside
  * `PlanCache.scala`, no code line in `src/main` persists, caches or
  * checkpoints a frame — operators go through `PlanCache.materialize`
  * / `cached`, whose blocks `release`/`invalidate`/`clear` free. Pure
  * file check, no Spark session.
  */
class PersistSiteSpec extends AnyFunSuite {

  private val forbidden =
    """\.persist\(|\.cache\(\)|localCheckpoint\(|\.checkpoint\(""".r

  private def offenders(root: Path): Seq[(Path, Int, String)] =
    SourceCode.offenders(root, forbidden, "PlanCache.scala")

  test("only PlanCache.scala persists or checkpoints in src/main") {
    val hits = offenders(Paths.get("src/main"))
    assert(hits.isEmpty, "route these through PlanCache.materialize:\n" +
      hits.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n"))
  }

  test("the check sees calls and skips comments") {
    val dir = Files.createTempDirectory("persist_site")
    Files.write(dir.resolve("Op.scala"), Seq(
      "val a = df.persist()",
      "  .localCheckpoint()",
      "val c = df.cache() // memo",
      "// df.persist() in a line comment",
      "  * df.checkpoint() in a doc comment",
      "val d = df.count() // not df.persist()").asJava)
    Files.write(dir.resolve("PlanCache.scala"),
      Seq("val b = df.localCheckpoint()").asJava)
    assert(offenders(dir).map(_._2) == Seq(1, 2, 3))
  }
}
