package graft

import org.apache.spark.sql.functions._

/** Invariants for the semantic-dedup / classifier curation batch.
  * Value parity vs DuckDB is covered by Verify + check_oracle; these
  * pin semantics and plan shape.
  */
class SemanticOpsSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("dedup_semantic: drops point at an earlier same-cluster vector") {
    val out = operators.Dedup.dedupSemantic(spark, sf).cache()
    assert(out.count() == Tables.embeddings(spark, sf).count())
    assert(out.filter(col("verdict") === "drop" && col("dup_of").isNull).count() == 0)
    assert(out.filter(col("verdict") === "keep" && col("dup_of").isNotNull).count() == 0)
    assert(out.filter(col("dup_of") >= col("vec_id")).count() == 0)
    // dup_of lives in the same cluster as its victim
    val cl = out.select(col("vec_id").as("v2"), col("cluster").as("c2"))
    assert(out.filter(col("dup_of").isNotNull)
      .join(cl, col("dup_of") === col("v2"))
      .filter(col("cluster") =!= col("c2")).count() == 0)
    out.unpersist()
  }

  test("dedup_semantic: pair search is a salted equi-join, not a cartesian") {
    val p = plan(operators.Dedup.dedupSemantic(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("graft_dot"), "cosine must run on the native expression")
  }

  test("quality_classifier: scores are probabilities and verdicts match the cut") {
    val out = operators.TextAnalysis.qualityClassifier(spark, sf).cache()
    assert(out.filter(col("score") < 0 || col("score") > 1).count() == 0)
    assert(out.filter(col("verdict") === "keep" && col("score") < 0.5).count() == 0)
    assert(out.filter(col("verdict") === "drop" && col("score") >= 0.5).count() == 0)
    // fully map-side: no hash-partition exchange in the plan (only
    // the final orderBy's range exchange is allowed)
    assert(!plan(operators.TextAnalysis.qualityClassifier(spark, sf))
      .contains("Exchange hashpartitioning"))
    out.unpersist()
  }

  test("graph_triangles: counts match a brute-force wedge closure") {
    import org.apache.spark.sql.DataFrame
    val out = operators.Graph.graphTriangles(spark, sf).cache()
    // brute force on the same edge set: all ordered triples a<b<c with
    // all three edges present
    val op = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val e: DataFrame = op.as("a").join(op.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct().cache()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
    val brute = tri.select(explode(array(col("x"), col("y"), col("z"))).as("p_partkey"))
      .groupBy("p_partkey").agg(count(lit(1)).as("bf"))
    val mismatches = out.join(brute, "p_partkey")
      .filter(col("n_triangles") =!= col("bf")).count()
    assert(mismatches == 0)
    assert(!plan(operators.Graph.graphTriangles(spark, sf)).contains("CartesianProduct"))
    e.unpersist(); out.unpersist()
  }

  test("entity_canonical: components close transitively over the match graph") {
    val out = operators.Matching.entityCanonical(spark, sf).cache()
    // ids disjoint by construction: every entity_id is some node's id
    assert(out.filter(col("entity_id") > col("key") * 2 + 1).count() == 0)
    // a customer and its best-match supplier share one entity
    val pairs = operators.Matching.matchFuzzyBlocked(spark, sf)
      .select((col("c_custkey") * 2).as("cn"), (col("s_suppkey") * 2 + 1).as("sn"))
    val byNode = out.select(
      (when(col("node_type") === "customer", col("key") * 2)
        .otherwise(col("key") * 2 + 1)).as("node"), col("entity_id"))
    val joined = pairs
      .join(byNode.withColumnRenamed("entity_id", "ce"), col("cn") === col("node"))
      .drop("node")
      .join(byNode.withColumnRenamed("entity_id", "se"), col("sn") === col("node"))
    assert(joined.filter(col("ce") =!= col("se")).count() == 0)
    // the canonical id is the component minimum: no member is smaller
    assert(byNode.filter(col("node") < col("entity_id")).count() == 0)
    out.unpersist()
  }

  test("mm_audio_windows: full frames only, integer stats bounded by ASCII range") {
    val out = multimodal.BinaryColumns.audioWindows(spark, sf).cache()
    // frame count per media = floor(bytes/16), all frames full-width
    val expected = Tables.documents(spark, sf)
      .filter(length(col("text")) >= 16)
      .agg(sum(expr("length(text) div 16"))).head.getLong(0)
    assert(out.count() == expected)
    // printable-ASCII corpus: samples in [32, 126]
    assert(out.filter(col("peak") > 126 || col("peak") < 32).count() == 0)
    assert(out.filter(col("sum_amp") < 32 * 16 || col("sum_amp") > 126 * 16).count() == 0)
    // Cauchy-Schwarz-ish sanity: 16*energy >= sum_amp^2
    assert(out.filter(col("energy") * 16 < col("sum_amp") * col("sum_amp")).count() == 0)
    // map-side only: no shuffle before the output sort
    val p = multimodal.BinaryColumns.audioWindows(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"))
    out.unpersist()
  }

  test("events_user_profile: type counts partition the event count") {
    val out = operators.Events.eventsUserProfile(spark, sf).cache()
    assert(out.count() == Tables.events(spark, sf)
      .select("user_id").distinct().count())
    assert(out.filter(col("n_events") =!=
      col("n_purchases") + col("n_views") + col("n_clicks")
        + col("n_signups") + col("n_errors")).count() == 0)
    assert(out.filter(col("first_s") > col("last_s")).count() == 0)
    assert(out.filter(col("active_days") < 1).count() == 0)
    out.unpersist()
  }

  test("tokenizer_oov: rates bounded, vocabulary bounded via TakeOrdered") {
    val out = operators.TextAnalysis.tokenizerOov(spark, sf).cache()
    assert(out.filter(col("oov_rate") < 0 || col("oov_rate") > 1).count() == 0)
    assert(out.filter(col("n_oov") > col("n_tokens")).count() == 0)
    val p = plan(operators.TextAnalysis.tokenizerOov(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), "vocab top-k must be bounded heaps")
    // a tiny vocab must raise the OOV mass, never lower it
    val oov256 = out.agg(sum("n_oov")).head().getLong(0)
    val oov8 = operators.TextAnalysis.tokenizerOov(spark, sf, vocabSize = 8)
      .agg(sum("n_oov")).head().getLong(0)
    assert(oov8 >= oov256)
    out.unpersist()
  }
}
