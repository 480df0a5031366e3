package graft

import org.apache.spark.sql.SparkSession

/** Uses the shared session: GraftSession.local installs the graft
  * functions + optimizer rule via GraftExtensions.registerInto
  * (spark.sql.extensions can't apply to an already-built session in
  * this shared test JVM).
  */
class ExtensionsSpec extends org.scalatest.funsuite.AnyFunSuite {

  private lazy val spark: SparkSession = SparkSpec.session

  test("graft_dot is callable from SQL") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head.getDouble(0)
    assert(r == 11.0)
  }

  test("graft_bitset_inter is callable from SQL") {
    val r = spark.sql(
      "SELECT graft_bitset_inter(array(3L, 8L), array(6L, 8L)) AS n").head.getInt(0)
    assert(r == 2) // 3&6 = 2 (one bit), 8&8 = 8 (one bit)
  }

  test("graft_dense_scatter is callable from SQL") {
    val r = spark.sql(
      "SELECT graft_dense_scatter(array(2, 4), array(5.0d, 7.0d), 4) AS v")
      .head.getSeq[Double](0)
    assert(r == Seq(0.0, 5.0, 0.0, 7.0))
  }

  test("graft_simhash64 is callable from SQL and matches the reference") {
    val r = spark.sql(
      "SELECT graft_simhash64(array('near', 'dup', 'doc')) AS h").head.getLong(0)
    assert(r == graft.functions.SimHash64.ofTokens(Iterator("near", "dup", "doc")))
  }

  test("graft_dense_scatter rejects out-of-range lengths at resolution time") {
    // a negative length would NPE/NegativeArraySize per ROW at eval;
    // a huge one allocates gigabytes per row — both must fail once,
    // at planning, with the offending value in the message
    val neg = intercept[Exception](
      spark.sql("SELECT graft_dense_scatter(array(1), array(1.0d), -1) AS v").collect())
    assert(neg.getMessage.contains("-1"))
    val huge = intercept[Exception](
      spark.sql("SELECT graft_dense_scatter(array(1), array(1.0d), 2147483647) AS v").collect())
    assert(huge.getMessage.contains("2147483647"))
  }

  test("optimizer rewrites graft_dot(x, x) to the self-dot form") {
    // id is non-foldable, so constant folding can't pre-empt the rule
    val df = spark.sql(
      "SELECT graft_dot(v, v) AS n2 FROM (SELECT array(CAST(id + 2 AS DOUBLE), 3.0d) AS v FROM range(1)) t")
    assert(df.head.getDouble(0) == 13.0)
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_self_dot"))
  }
}
