package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** `Plans.benchSeconds` reads perfbench's sweep record: the per-query
  * median over the timed passes, and a loud failure for any record
  * that is not a clean, complete sweep. Pure file checks, no Spark
  * session.
  */
class BenchRecordSpec extends AnyFunSuite {

  private def record(failed: String = "0", oracleBad: String = "{}",
      passes: String = """
        {"index": 0, "kind": "cold", "traced": false, "wall_s": 9.0,
         "ops": [["q_a", 5.0], ["q_b", 4.0]]},
        {"index": 1, "kind": "timed", "traced": false, "wall_s": 3.0,
         "ops": [["q_a", 1.0], ["q_b", 2.0]]},
        {"index": 2, "kind": "timed", "traced": false, "wall_s": 3.0,
         "ops": [["q_a", 3.0], ["q_b", 2.5]]},
        {"index": 3, "kind": "timed", "traced": false, "wall_s": 3.0,
         "ops": [["q_a", 2.0], ["q_b", 0.5]]}"""): String =
    s"""{"workload": "registry_sf0.01", "dag": false, "seed": 1, "trace": 0,
       |"attempted": 8, "failed": $failed, "oracle_bad": $oracleBad,
       |"passes": [$passes]}""".stripMargin

  private def read(text: String): Map[String, Double] = {
    val f = Files.createTempFile("bench_record", ".json")
    try { Files.writeString(f, text); Plans.benchSeconds(f.toString) }
    finally Files.delete(f)
  }

  test("a clean record gives each query's median over the timed passes") {
    assert(read(record()) == Map("q_a" -> 2.0, "q_b" -> 2.0))
    val two = record(passes = """
      {"index": 0, "kind": "timed", "traced": false, "wall_s": 1.0, "ops": [["q_a", 1.0]]},
      {"index": 1, "kind": "timed", "traced": false, "wall_s": 1.0, "ops": [["q_a", 2.0]]}""")
    assert(read(two) == Map("q_a" -> 1.5))
  }

  test("a record with a failed operation throws") {
    val e = intercept[IllegalArgumentException](read(record(failed = "1")))
    assert(e.getMessage.contains("failed"))
  }

  test("a record with an oracle mismatch throws") {
    val e = intercept[IllegalArgumentException](
      read(record(oracleBad = """{"q_a": "row count 3 vs 4"}""")))
    assert(e.getMessage.contains("q_a"))
  }

  test("an unparsable or incomplete record throws") {
    intercept[Exception](read("""{"failed": 0, "oracle_bad": {}, "passes": ["""))
    intercept[Exception](read(""))
    intercept[IllegalArgumentException](read("""{"metric": "total", "value": 1.0}"""))
    intercept[IllegalArgumentException](read(record(passes = """
      {"index": 0, "kind": "cold", "traced": false, "wall_s": 1.0, "ops": [["q_a", 1.0]]}""")))
  }

  test("an absent record gives the empty map") {
    assert(Plans.benchSeconds("no/such/BENCH_FULL.json").isEmpty)
  }
}
