package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** CI gate for PLANS.md coverage: a registered query without a plan
  * head fails the audit, and the per-family heaviest (measured by
  * perfbench's full-registry sweep record, committed as
  * BENCH_FULL.json) must carry FULL formatted plans — the reviewable
  * evidence behind the scale claims. Pure file checks, no Spark
  * session.
  */
class PlanHeadsSpec extends AnyFunSuite {

  private lazy val plansText: String = Files.readString(Paths.get("PLANS.md"))

  private lazy val sections: Map[String, String] = {
    val parts = plansText.split("\n## ").toSeq.drop(1)
    parts.map { s =>
      val name = s.takeWhile(_ != '\n').trim
      name -> s
    }.toMap
  }

  test("every registered query has a plan head in PLANS.md") {
    val registered = SparkEntry.queries.keySet
    val missing = registered -- sections.keySet
    assert(missing.isEmpty,
      s"${missing.size} registered queries lack a PLANS.md head: " +
        missing.toSeq.sorted.mkString(", "))
  }

  test("headline + per-family heaviest carry full formatted plans") {
    val registered = SparkEntry.queries.keySet
    val owed = Plans.requiredFull(
      Plans.benchSeconds().view.filterKeys(registered).toMap)
      .filter(registered)
    // FormattedMode emits the numbered per-node detail ("(1) Scan…")
    // that the compact tree lacks — that's the review surface
    val thin = owed.filter(n => !sections.get(n).exists(_.contains("\n(1) ")))
    assert(thin.isEmpty,
      s"${thin.size} owed-full queries have only compact plans: " +
        thin.toSeq.sorted.mkString(", "))
  }

  test("family grouping is stable for the known registry shapes") {
    assert(Plans.family("q18_large_orders") == "tpch")
    assert(Plans.family("events_funnel_ab") == "events")
    assert(Plans.family("match_tfidf_topk") == "match")
    assert(Plans.family("knn_ivfpq_indexed") == "knn")
    // top-3 selection: deterministic under ties, family-scoped
    val m = Map("a_x" -> 3.0, "a_y" -> 2.0, "a_z" -> 2.0, "a_w" -> 1.0,
      "b_q" -> 9.0)
    val got = Plans.requiredFull(m)
    assert(Set("a_x", "a_y", "a_z", "b_q").subsetOf(got))
    assert(!got.contains("a_w"))
  }
}
