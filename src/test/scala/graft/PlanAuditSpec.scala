package graft

/** Plan-shape audits: the properties that make these operators hold
  * at 100TB are visible in the physical plan — filters reaching the
  * parquet scan, pruned read schemas, dimension sides broadcast. If a
  * refactor silently loses one, correctness tests won't notice but
  * scale behavior regresses; these specs pin the plan shape.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q3: filters are pushed to the parquet scans") {
    val p = plan(operators.Olap.q3Shipping(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull"), "expected pushed filters at scan")
    // the mktsegment equality must reach the customer scan
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("q3: lineitem scan reads only the needed columns") {
    val p = plan(operators.Olap.q3Shipping(spark, sf))
    val lineitemScan = p.linesIterator.find(l => l.contains("ReadSchema") && l.contains("l_orderkey"))
    assert(lineitemScan.isDefined)
    // projection pruning: quantity/tax/returnflag are not referenced
    assert(!lineitemScan.get.contains("l_quantity"), lineitemScan.get)
    assert(!lineitemScan.get.contains("l_tax"), lineitemScan.get)
  }

  test("q5: star joins broadcast the dimension sides") {
    val p = plan(operators.Olap.q5RegionRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "expected broadcast joins in star schema")
    assert(!p.contains("CartesianProduct"), "no cartesian in q5")
  }

  test("fuzzy match: supplier side broadcasts, no cartesian") {
    // the match is a PlanCache build: pin the join on its body
    val p = plan(operators.Matching.matchFuzzyBlockedImpl(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("minhash LSH: candidate generation is an equi-join on band buckets") {
    val p = plan(operators.Dedup.dedupMinhashLsh(spark, sf))
    assert(!p.contains("CartesianProduct"), "LSH must not degenerate to a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "LSH must join on band keys")
  }

  test("native expressions appear in the plan (not UDFs)") {
    val p = plan(operators.Dedup.dedupEmbedNn(spark, sf))
    assert(p.contains("graft_dot"), "expected DotProductExpr in plan")
    assert(!p.toLowerCase.contains("scalaudf"), "no Scala UDFs in the hot path")
  }

  test("knn_batch and approx_distinct_kmv plan through TopKPerGroupExec") {
    assert(plan(operators.Similarity.knnBatch(spark, sf)).contains("TopKPerGroup"))
    assert(plan(operators.Sketches.approxDistinctKmv(spark, sf)).contains("TopKPerGroup"))
  }

  test("events_range_join is an equi-join on (user, bin), not a nested loop") {
    val p = plan(operators.Events.eventsRangeJoin(spark, sf))
    assert(!p.contains("CartesianProduct"), "binned range join must not cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "range predicate must ride an equi-join")
  }

  test("matching family candidate generation never cartesians") {
    for (q <- Seq(
      operators.Matching.matchTfidfTopk(spark, sf),
      operators.Matching.matchBm25Topk(spark, sf),
      operators.Matching.matchPhonetic(spark, sf))) {
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
    }
  }

  test("tfidf dense regime: native scatter vectors + broadcast scan, no cartesian") {
    val p = plan(operators.Matching.matchTfidfTopk(spark, sf))
    assert(p.contains("graft_dense_scatter"), "dense vectors must build natively")
    assert(p.contains("BroadcastNestedLoopJoin"), "corpus half must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("graph_triangles: closing probe broadcasts under the cap, shuffles above it") {
    // disable auto-broadcast so the regime choice is attributable to
    // the operator's own gate, not to Catalyst's statistics on the
    // tiny test graph
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // default regime: edge list fits the cap → the hint forces a
      // map-side broadcast probe; the wedge stream never shuffles.
      // Under the default cap the per-node counts are a PlanCache
      // build, so the probe is pinned on the build body
      val pB = plan(operators.Graph.perNodeTrianglesImpl(spark, sf, 256L << 20))
      assert(pB.contains("BroadcastHashJoin"), "edge probe must broadcast under the cap")
      assert(!pB.contains("CartesianProduct"))
      // oversized regime: cap of 0 forces the fallback — the closing
      // join shuffles on (n1,n2) instead of OOMing the driver with a
      // forced broadcast of an edge list that no longer fits. The
      // default run above persisted triangle_per_node (r12), and
      // Spark's CacheManager substitutes any sameResult subtree with
      // the InMemoryRelation — whose BUILD plan embeds the broadcast
      // — so drop the cache first to expose the fallback's own plan.
      PlanCache.invalidate(sf)
      val pS = plan(operators.Graph.graphTriangles(spark, sf, broadcastEdgesMaxBytes = 0L))
      assert(!pS.contains("BroadcastHashJoin"),
        "above the cap the closing probe must not force a broadcast")
      assert(pS.contains("SortMergeJoin") || pS.contains("ShuffledHashJoin"),
        s"above the cap the closing probe must shuffle:\n${pS.take(2000)}")
      assert(!pS.contains("CartesianProduct"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("graph_pagerank: rank joins broadcast under the cap, shuffle above it") {
    // same discipline as graph_triangles: attribute the regime choice
    // to the operator's own measured gate, not Catalyst statistics
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // default regime: the |V|-row rank vector fits the cap → each
      // of the three message-passing rounds broadcasts it onto the
      // dst-partitioned edge cache
      val pB = plan(operators.Graph.graphPagerank(spark, sf))
      assert(pB.contains("BroadcastHashJoin"),
        "under the cap the rank join must broadcast")
      assert(!pB.contains("CartesianProduct"))
      // oversized regime: cap of 0 forces the fallback — the rank
      // join shuffles on src instead of OOMing the driver with a
      // forced broadcast of a rank vector that no longer fits
      val pS = plan(operators.Graph.graphPagerank(spark, sf, broadcastRankMaxBytes = 0L))
      assert(!pS.contains("BroadcastHashJoin"),
        "above the cap the rank join must not force a broadcast")
      assert(pS.contains("SortMergeJoin") || pS.contains("ShuffledHashJoin"),
        s"above the cap the rank join must shuffle:\n${pS.take(2000)}")
      assert(!pS.contains("CartesianProduct"))
      // both regimes compute the same ranks
      assert(operators.Graph.graphPagerank(spark, sf, 0L).collect().toSeq ==
        operators.Graph.graphPagerank(spark, sf).collect().toSeq)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("graph_kcore: alive set broadcasts under the cap, shuffles above it; regimes agree") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // graphKcore localCheckpoints every round, so the returned
      // trace's plan shows only ExistingRDD heads — pin the per-round
      // regime on the round builder itself, with a planted edge/alive
      // pair (the same shape the real rounds feed it)
      import spark.implicits._
      val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
        .toDF("src", "dst")
      val alive = Seq(1L, 2L, 3L).toDF("node")
      val pB = plan(operators.Graph.kcoreRoundDegrees(edges, alive,
        aliveFits = true))
      assert(pB.contains("BroadcastHashJoin"),
        "under the cap the alive semijoins must broadcast")
      assert(!pB.contains("CartesianProduct"))
      // oversized regime: the shuffled fallback — the semijoins
      // repartition instead of OOMing the driver with a forced
      // broadcast of an alive set that no longer fits
      val pS = plan(operators.Graph.kcoreRoundDegrees(edges, alive,
        aliveFits = false))
      assert(!pS.contains("BroadcastHashJoin"),
        "above the cap the alive semijoins must not force a broadcast")
      assert(pS.contains("SortMergeJoin") || pS.contains("ShuffledHashJoin"),
        s"above the cap the alive semijoins must shuffle:\n${pS.take(2000)}")
      assert(!pS.contains("CartesianProduct"))
      // both end-to-end regimes compute the identical peel trace, and
      // the measured gate records its decision
      assert(operators.Graph.graphKcore(spark, sf, 80, 6, 0L).collect().toSeq ==
        operators.Graph.graphKcore(spark, sf).collect().toSeq)
      assert(GateLog.lastDecision("graph_kcore.alive_side", sf)
        .exists(d => d.chosen == "broadcast" || d.chosen == "shuffle"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("match_blocking_eval: sampled supplier side broadcasts under the cap only") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // default regime: the sampled supplier side fits → the truth
      // cross join rides a broadcast nested loop
      val pB = plan(operators.Matching.matchBlockingEval(spark, sf))
      assert(pB.contains("BroadcastNestedLoopJoin"),
        "under the cap the truth join must broadcast the sampled suppliers")
      assert(!pB.contains("CartesianProduct"),
        "under the cap nothing should fall through to a cartesian")
      // oversized regime: cap of 0 → partitioned cartesian over the
      // two samples, nothing forced through the driver
      val pS = plan(operators.Matching.matchBlockingEval(spark, sf,
        broadcastSuppliersMaxBytes = 0L))
      assert(pS.contains("CartesianProduct"),
        s"above the cap the truth join must run as a partitioned cartesian:\n${pS.take(2000)}")
      // both regimes agree
      assert(operators.Matching.matchBlockingEval(spark, sf, 0L).collect().toSeq ==
        operators.Matching.matchBlockingEval(spark, sf).collect().toSeq)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("Unordered strips the trailing oracle sort and nothing else") {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    def globalSorts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case s: Sort if s.global => s }.size
    val ordered = operators.Events.eventsUserProfile(spark, sf)
    assert(globalSorts(ordered) >= 1, "the registered query ends with an oracle sort")
    val unordered = graft.functions.Unordered(ordered)
    assert(globalSorts(unordered) == 0,
      "the production variant must not pay a global range-exchange for presentation order")
    // same rows, order aside
    assert(unordered.collect().toSet == ordered.collect().toSet)
    // no trailing sort → no-op, not an exception
    assert(graft.functions.Unordered(unordered).collect().length ==
      ordered.collect().length)
    // semantic orderings survive: a top-k's plan keeps its TakeOrdered
    assert(plan(graft.functions.Unordered(operators.Olap.q3Shipping(spark, sf)))
      .contains("TakeOrdered"), "Unordered must never strip a top-k's ordering")
  }

  test("kmeans: centroids broadcast, assignment is an aggregate not a window") {
    val p = plan(operators.Similarity.clusterKmeans(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), "k centroids ride a broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("WindowExec"), "argmin must be min(struct), not a window")
  }

  test("q10: the returnflag filter reaches the lineitem scan") {
    val p = plan(operators.Olap.q10Returned(spark, sf))
    assert(p.contains("EqualTo(l_returnflag,R)"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("q14: the joined scan reads only the columns the query needs") {
    val p = plan(operators.Olap.q14PromoShare(spark, sf))
    val lineitemScan = p.linesIterator.find(l =>
      l.contains("ReadSchema") && l.contains("l_partkey"))
    assert(lineitemScan.isDefined, "no lineitem scan schema in plan")
    // shipdate/price/discount/partkey only — never the full 11 columns
    val schema = lineitemScan.get
    assert(!schema.contains("l_returnflag") && !schema.contains("l_tax") &&
      !schema.contains("l_suppkey"), schema)
  }

  test("q21: decorrelated exists-pair is one lineitem pass, no self-join") {
    val p = plan(operators.Olap.q21SoleSupplier(spark, sf))
    // a literal EXISTS/NOT-EXISTS translation would self-join lineitem
    // (sort-merge at scale); the one-pass aggregate never joins it
    assert(!p.contains("SortMergeJoin"), "lineitem self-join leaked into q21")
    // the orderkey repartition feeds both stacked aggregations, so no
    // Expand (the multi-countDistinct plan) and exactly two shuffles:
    // repartition(orderkey) + groupBy(suppkey); top-20 is TakeOrdered
    assert(!p.contains("Expand"), "multi-distinct Expand leaked into q21")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2, s"expected <=2 hash exchanges, got $shuffles\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must be TakeOrdered")
    assert(p.contains("BroadcastHashJoin"), "supplier lookup must broadcast")
  }

  test("q9: dims broadcast, the only exchange is the final group-by") {
    val p = plan(operators.Olap.q9Profit(spark, sf))
    assert(!p.contains("SortMergeJoin"), "q9 dims must broadcast")
    // the p_type filter reaches the part scan
    assert(p.contains("EqualTo(p_type,ECONOMY)"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 1, s"expected 1 hash exchange, got $shuffles\n$p")
  }

  test("q7: ship-date range predicate pushes to the lineitem scan") {
    val p = plan(operators.Olap.q7Volume(spark, sf))
    // year() would defeat pushdown; the range literal form must not
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    assert(p.contains("LessThan(l_shipdate"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("runtime bloom filter injects a semi-join reduction on shuffle joins") {
    // At cluster scale the 10 GB application-side threshold gates this;
    // locally we lower the thresholds to prove the engine config
    // actually injects the filter when a join side is selective.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.{col, sum}
      val o = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
      val p = Tables.lineitem(spark, sf)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity"))
        .queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"), s"no bloom runtime filter injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("pagerank: every message-passing round broadcasts the rank vector") {
    val p = plan(operators.Graph.graphPagerank(spark, sf))
    // 3 iteration joins (rank onto edges) + the r0 nn cross join must
    // all ride broadcasts — a shuffled edge list per round is the
    // scale failure this plan shape exists to avoid
    val hashBroadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(hashBroadcasts >= 3, s"expected >=3 broadcast rounds, got $hashBroadcasts:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("exact quantiles above the measured cap never buffer raw values") {
    // Spark's exact percentile() holds EVERY value of a group in one
    // aggregation buffer — corpus/|groups| doubles in a single task at
    // scale. ExactQuantiles gates on a MEASURED max group size (the
    // graph_triangles discipline): under the cap the one-stage native
    // aggregate is provably bounded by the measurement; above it the
    // broadcast-bin plan must hold — no value-buffering aggregate of
    // any kind (percentile / collect_list / sort_array), no cartesian,
    // no unpartitioned window (PlanLint), even for GLOBAL quantiles.
    import org.apache.spark.sql.functions.col
    val byGroup = Tables.events(spark, sf).select(col("event_type"), col("value"))
    val global = byGroup.select(col("value"))
    for ((name, q) <- Seq(
      "grouped" -> operators.ExactQuantiles.percentiles(byGroup,
        Seq("event_type"), "value", Seq(0.5, 0.9), maxNativeGroupValues = 0L),
      "global" -> operators.ExactQuantiles.percentiles(global,
        Seq.empty, "value", Seq(0.5, 0.9), maxNativeGroupValues = 0L))) {
      val p = q.queryExecution.executedPlan.toString.toLowerCase
      assert(!p.contains("percentile("), s"$name buffers raw values: percentile()")
      assert(!p.contains("collect_list"), s"$name buffers raw values: collect_list")
      assert(!p.contains("sort_array"), s"$name buffers raw values: sort_array")
      val findings = graft.plans.PlanLint.audit(q)
      assert(findings.isEmpty, s"$name: ${findings.mkString("; ")}")
    }
  }

  test("PlanLint passes every registered query and catches planted offenders") {
    // The three scale-killers (cartesian product, Scala UDF,
    // unpartitioned unbounded window) are machine-checked by the
    // LIBRARY lint — the same check users run on their own plans —
    // swept across all registered queries.
    for ((name, fn) <- SparkEntry.queries) {
      val findings = graft.plans.PlanLint.audit(fn(spark, sf))
      assert(findings.isEmpty, s"$name: ${findings.mkString("; ")}")
    }
    // and the lint actually detects what it claims to detect
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val a = spark.range(100).toDF("x")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // non-equi join, broadcast disabled → CartesianProductExec
      val cart = a.as("l").join(spark.range(100).toDF("y"),
        expr("x + y > 1000000"))
      assert(graft.plans.PlanLint.audit(cart)
        .exists(_.startsWith("cartesian-product")),
        "a keyless non-broadcast join must be flagged")
      val gw = a.withColumn("r", row_number().over(Window.orderBy("x")))
      assert(graft.plans.PlanLint.audit(gw).exists(_.startsWith("global-window")),
        "unpartitioned window over unbounded input must be flagged")
      val udf = org.apache.spark.sql.functions.udf((i: Long) => i + 1)
      val withUdf = a.select(udf(col("x")).as("u"))
      assert(graft.plans.PlanLint.audit(withUdf).exists(_.startsWith("scala-udf")),
        "interpreted UDFs must be flagged")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

}
