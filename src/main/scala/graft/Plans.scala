package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Dumps physical plans of EVERY registered query to `PLANS.md` — the
  * reviewable artifact behind every scale claim in SURVEY §4
  * (broadcasts where dims are small, TakeOrdered for global top-k,
  * pushed filters/pruned schemas at the scans, no cartesian / UDF /
  * unpartitioned-window nodes; the same shapes PlanAuditSpec pins
  * mechanically, here in human-readable form).
  *
  * Every query in [[SparkEntry.queries]] gets a `## name` head with
  * at least the compact plan tree; the curated headline set plus the
  * top-3 heaviest per operator family (measured by perfbench's
  * full-registry sweep, committed as `BENCH_FULL.json`; see
  * [[benchSeconds]]) get the FULL formatted plan with per-node
  * detail (PushedFilters / ReadSchema / join build sides).
  * [[PlanHeadsSpec]] fails the audit when a registered query has no
  * head or a family's heaviest lack full plans. Measured-gate
  * decisions taken while building ([[GateLog]]) are appended per dir.
  *
  * Usage: `sbt "runMain graft.Plans [sfDir]"` (defaults to sf0.001 —
  * plans are data-size-independent apart from AQE's runtime choices,
  * which don't appear in a not-yet-executed formatted plan).
  */
object Plans {
  private[graft] val headline = Seq(
    "q3_shipping", "q9_profit", "q18_large_orders",
    "events_asof_join", "events_sessionize", "events_percentiles",
    "match_tfidf_topk", "match_bm25_topk",
    "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "knn_batch_ivf", "graph_triangles", "graph_pagerank",
    "match_blocking_eval", "dedup_index_probe",
    "dq_expectations", "topk_per_group",
    "match_sorted_neighborhood", "approx_set_overlap_kmv",
    "dedup_paragraphs", "embed_pq_distortion",
    "events_ks_drift", "events_srm_check",
    "events_changepoint_cusum", "knn_graph_mutual",
    "events_uplift_segments",
    "approx_distinct_hll_agg", "quality_auc",
    "graph_adamic_adar", "part_weighted_median", "retrieval_ndcg",
    "retrieval_hard_negatives", "events_ab_pvalues_fdr",
    "graph_kcore", "text_gopher_rules", "match_trigram",
    "events_pit_features", "events_slo_burn", "events_sequential_msprt",
    "events_qte", "events_bayesian_ab", "mm_phash_buckets",
    "layout_pruning_sim", "text_zipf_coverage", "privacy_pseudonymize",
    "events_bootstrap_ci", "events_stickiness", "dedup_cross_source",
    "graph_clustering_local", "retrieval_rrf_fusion", "text_heaps_law",
    "events_growth_accounting", "part_abc_class", "text_dup_ngram_mass",
    "events_forecast_des", "knn_ivf_balance", "graph_triangle_estimate",
    "match_fuzzy_blocked", "match_fellegi_sunter")

  /** Operator family of a registry key — the SURVEY §2 grouping at
    * prefix granularity (tpch q-queries folded into one family so
    * "top-3 per family" compares across them, not trivially within
    * 22 singletons).
    */
  private[graft] def family(key: String): String =
    if (key.matches("q\\d+_.*")) "tpch" else key.split("_")(0)

  /** Queries owed a FULL formatted plan: the curated headline set ∪
    * the top-3 heaviest per family under the measured seconds map
    * (ties broken by name for determinism).
    */
  private[graft] def requiredFull(measured: Map[String, Double]): Set[String] =
    headline.toSet ++ measured.toSeq
      .groupBy { case (k, _) => family(k) }
      .values.flatMap(_.sortBy { case (k, s) => (-s, k) }.take(3).map(_._1))

  /** Per-query seconds from perfbench's full-registry sweep record,
    * committed verbatim as `BENCH_FULL.json`: each query's median
    * latency over the record's `timed` passes. Absent file → empty map
    * (headline-only full plans). A record with a failed operation or
    * an oracle mismatch, one without timed passes, or one that does
    * not parse THROWS: a partial or failed sweep must fail the
    * PlanHeadsSpec audit loudly, not silently shrink the owed-full set.
    */
  private[graft] def benchSeconds(path: String = "BENCH_FULL.json"): Map[String, Double] = {
    if (!Files.exists(Paths.get(path))) return Map.empty
    def field(node: JsonNode, name: String): JsonNode = Option(node.get(name))
      .getOrElse(throw new IllegalArgumentException(s"$path: no \"$name\" field"))
    val rec = new ObjectMapper().readTree(Files.readString(Paths.get(path)))
    val failed = field(rec, "failed")
    require(failed.isIntegralNumber && failed.asLong == 0, s"$path: $failed failed operations")
    val bad = field(rec, "oracle_bad")
    require(bad.isObject && bad.isEmpty, s"$path: oracle mismatches $bad")
    val timed = field(rec, "passes").elements.asScala
      .filter(p => field(p, "kind").asText == "timed").toSeq
    require(timed.nonEmpty, s"$path: no timed pass")
    val latencies = for (p <- timed; op <- field(p, "ops").elements.asScala) yield {
      require(op.size == 2 && op.get(1).isNumber, s"$path: bad operation $op")
      op.get(0).asText -> op.get(1).asDouble
    }
    latencies.groupMap(_._1)(_._2).view.mapValues { ts =>
      val s = ts.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(4)
    write(spark, sfDir, benchSeconds())
    PlanCache.clear()
    spark.stop()
  }

  /** Generate PLANS.md over `sfDir` with full plans for
    * `requiredFull(measured)`.
    */
  def write(spark: org.apache.spark.sql.SparkSession, sfDir: String,
            measured: Map[String, Double]): Unit = {
    val full = requiredFull(measured)
    val out = new StringBuilder
    out ++= "# PLANS — physical plans of every registered query\n\n"
    out ++= s"Generated by `graft.Plans` over `$sfDir`. Regenerate with\n"
    out ++= "`sbt \"runMain graft.Plans\"` after plan-affecting changes.\n"
    out ++= "Headline + per-family-heaviest queries carry the FULL formatted\n"
    out ++= "plan; the rest the compact tree. PlanHeadsSpec enforces coverage.\n"
    val names = SparkEntry.queries.keys.toSeq.sorted
    var nFull = 0
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val mode = if (full(name)) { nFull += 1
        org.apache.spark.sql.execution.FormattedMode
      } else org.apache.spark.sql.execution.SimpleMode
      val plan = df.queryExecution.explainString(mode)
      out ++= s"\n## $name\n\n```\n$plan```\n"
    }
    val gates = GateLog.decisionsFor(sfDir)
    if (gates.nonEmpty) {
      out ++= "\n## gate decisions (while building, this dir)\n\n"
      gates.foreach { d =>
        out ++= s"- `${d.gate}` → **${d.chosen}** (${d.detail})\n" }
    }
    Files.writeString(Paths.get("PLANS.md"), out.toString)
    println(s"[plans] wrote PLANS.md (${names.size} heads, $nFull full)")
  }
}
