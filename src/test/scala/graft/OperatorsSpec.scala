package graft

import org.apache.spark.sql.functions._

/** Per-operator sanity specs on sf0.001: row presence, schema names,
  * and a few hand-checked invariants. Exact value parity vs the
  * DuckDB oracle is covered by Verify + tools/check_oracle.py.
  */
class OperatorsSpec extends SparkSpec {

  test("every registered query runs and has stable column names") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val cols = df.columns
      assert(cols.nonEmpty, s"$name has no columns")
      assert(cols.distinct.length == cols.length, s"$name duplicate column names")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query has an oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("q1_agg aggregates the full lineitem rowcount") {
    val q1 = operators.Olap.q1Agg(spark, sf)
    val total = q1.agg(sum("count_order")).head.getLong(0)
    val expected = Tables.lineitem(spark, sf).count()
    assert(total == expected)
  }

  test("topk_per_group never exceeds 3 rows per customer") {
    val topk = operators.Olap.topkPerGroup(spark, sf)
    val maxPer = topk.groupBy("o_custkey").count().agg(max("count")).head.getLong(0)
    assert(maxPer <= 3)
  }

  test("clean_abr keeps only valid active 11-digit keys") {
    val out = operators.Cleaning.cleanAbr(spark, sf)
    assert(out.filter(!col("abn").rlike("^\\d{11}$")).count() == 0)
    assert(out.filter(col("entity_status") =!= "active").count() == 0)
    assert(out.select("abn").distinct().count() == out.count())
  }

  test("clean_cc title-cases and collapses whitespace") {
    val out = operators.Cleaning.cleanCc(spark, sf)
    assert(out.filter(col("company_name").contains("  ")).count() == 0)
    assert(out.filter(col("company_name").rlike("^[a-z]")).count() == 0)
  }

  test("sessionize: session gaps within a session are <= 30min") {
    val sess = operators.Events.eventsSessionize(spark, sf)
    // every event lands in exactly one session
    val nEvents = sess.agg(sum("n_events")).head.getLong(0)
    assert(nEvents == Tables.events(spark, sf).count())
  }

  test("quality_metrics all rates in [0,1] and status consistent") {
    val qm = operators.Quality.qualityMetrics(spark, sf).collect()
    qm.foreach { r =>
      val v = r.getAs[Double]("metric_value")
      assert(v >= 0.0 && v <= 1.0)
      val status = r.getAs[String]("status")
      val thr = r.getAs[Double]("threshold_value")
      assert(status == (if (v >= thr) "pass" else "fail"))
    }
  }

  test("tfidf dense and sparse paths agree exactly") {
    val dense = operators.Matching.matchTfidfTopk(spark, sf, denseVocabMax = 256)
      .collect().map(_.toSeq).toSet
    val sparse = operators.Matching.matchTfidfTopk(spark, sf, denseVocabMax = 0)
      .collect().map(_.toSeq).toSet
    assert(dense == sparse)
  }

  test("tfidf dense regime refuses an over-budget broadcast and falls back to sparse") {
    // vocab fits denseVocabMax, but the estimated vector-table bytes
    // (docs x vocab x 8B) exceed the broadcast budget: the operator
    // must take the sparse path (no OOM-prone broadcast) and still
    // produce the identical rounded result.
    val guarded = operators.Matching
      .matchTfidfTopk(spark, sf, denseVocabMax = 4096, prefixFilter = true,
        denseBroadcastMaxBytes = 1L)
      .collect().map(_.toSeq).toSet
    val dense = operators.Matching.matchTfidfTopk(spark, sf, denseVocabMax = 4096)
      .collect().map(_.toSeq).toSet
    assert(guarded == dense)
    assert(guarded.nonEmpty)
  }

  test("bm25 dense and sparse regimes agree exactly") {
    // the dense sparse-probe × dense-build scan (r8 sf1 fix: the
    // inverted-index join degenerates to ~all-pairs on the shared
    // vocabulary) must reproduce the sparse join's rounded scores and
    // its candidate semantics (dot==0 pairs excluded) row-for-row
    val dense = operators.Matching.matchBm25Topk(spark, sf, denseVocabMax = 4096)
      .collect().map(_.toSeq).toSet
    val sparse = operators.Matching.matchBm25Topk(spark, sf, denseVocabMax = 0)
      .collect().map(_.toSeq).toSet
    assert(dense == sparse)
    assert(dense.nonEmpty)
  }

  test("tfidf prefix filter is lossless vs unfiltered candidates") {
    // the threshold-derived PPJoin prefix bound must reproduce the
    // brute-force (no candidate pruning) formulation exactly — zero
    // recall loss, not an approximation. denseVocabMax=0 forces the
    // sparse inverted-index path, the only one that prunes candidates.
    val pruned = operators.Matching.matchTfidfTopk(spark, sf, denseVocabMax = 0)
      .collect().map(_.toSeq).toSet
    val full = operators.Matching
      .matchTfidfTopk(spark, sf, denseVocabMax = 0, prefixFilter = false)
      .collect().map(_.toSeq).toSet
    assert(pruned == full)
    assert(pruned.nonEmpty)
  }

  test("ngram hashed-bitset jaccard: collision inflation is bounded") {
    // dedup_ngram_jaccard scores jaccard over a 4096-bit hashed gram
    // universe instead of the exact gram sets (feature hashing —
    // collisions can inflate the score and cause false near-dup
    // merges). Bound the approximation on the test corpus: compare
    // exact char-3-gram jaccard vs the hashed score for every
    // in-block pair and require (a) small max absolute drift and
    // (b) an unchanged >= 0.8 merge decision set.
    val docs = Tables.documents(spark, sf)
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"), array_distinct(expr(
        "transform(sequence(1, length(text)-2), i -> substring(text, i, 3))")).as("g"))
      .persist()
    val exact = docs.select(col("doc_id").as("i"), col("lang"), col("g").as("ga"))
      .join(docs.select(col("doc_id").as("j"), col("lang"), col("g").as("gb")), Seq("lang"))
      .filter(col("i") < col("j"))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("double"))
      .withColumn("exact_j",
        col("inter") / (size(col("ga")) + size(col("gb")) - col("inter")))
      .select("i", "j", "exact_j")
    val hashed = operators.Dedup.ngramJaccardScores(spark, sf)
    val joined = exact.join(hashed, Seq("i", "j"), "left")
      .select(col("exact_j"), coalesce(col("jaccard"), lit(0.0)).as("hashed_j"))
      .persist()
    val maxDrift = joined.agg(max(abs(col("hashed_j") - col("exact_j"))))
      .head.getDouble(0)
    assert(maxDrift <= 0.05, s"hashed jaccard drifts $maxDrift from exact")
    val flipped = joined
      .filter((col("exact_j") >= 0.8) =!= (col("hashed_j") >= 0.8)).count()
    assert(flipped == 0, s"$flipped pairs flip the 0.8 merge decision")
    docs.unpersist(); joined.unpersist()
  }

  test("label propagation handles an empty edge list (dup-free corpus)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(operators.Dedup.labelPropagate(empty).count() == 0)
  }

  test("label propagation converges on a long chain (many rounds)") {
    import spark.implicits._
    // a 33-node path graph needs ~log2(32)=5 propagation rounds —
    // exercises the fixpoint loop well past the star graphs the
    // fingerprint families produce (diameter 2, 1-2 rounds)
    val chain = (0L until 32L).map(i => (i, i + 1)).toDF("src", "dst")
    val twoMore = Seq((100L, 101L), (101L, 102L)).toDF("src", "dst")
    val labels = operators.Dedup.labelPropagate(chain.unionByName(twoMore))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L to 32L).foreach(i => assert(labels(i) == 0L, s"node $i"))
    (100L to 102L).foreach(i => assert(labels(i) == 100L, s"node $i"))
  }
}
