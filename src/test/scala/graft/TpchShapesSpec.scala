package graft

import org.apache.spark.sql.functions._

/** Invariant + plan-shape specs for the TPC-H completion batch
  * (Q2/Q6/Q11/Q12/Q13/Q16/Q17/Q20 adapted to the lean schema —
  * lineitem stands in as the supply relation). Value parity vs DuckDB
  * is covered by Verify + check_oracle; these pin the semantics and
  * the scale-relevant plan shapes a hash match alone would not.
  */
class TpchShapesSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q6: every predicate reaches the lineitem scan") {
    val p = plan(operators.Olap.q6Forecast(spark, sf))
    val scan = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scan.contains("l_discount"), scan)
    assert(scan.contains("l_quantity"), scan)
    assert(scan.contains("l_shipdate"), scan)
  }

  test("q12: high + low partition the joined lines") {
    val out = operators.Olap.q12PriorityClass(spark, sf).cache()
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val joined = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(out.agg(sum(col("high_count") + col("low_count"))).head.getLong(0) == joined)
    out.unpersist()
  }

  test("q13: the distribution covers every customer, including zero-order ones") {
    val out = operators.Olap.q13Custdist(spark, sf).cache()
    assert(out.agg(sum("custdist")).head.getLong(0)
      == Tables.customer(spark, sf).count())
    val nonUrgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .join(Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .count()
    assert(out.agg(sum(col("custdist") * col("c_count"))).head.getLong(0) == nonUrgent)
    out.unpersist()
  }

  test("q2: one row per part, and the chosen cost is the pair minimum") {
    val out = operators.Olap.q2MinCost(spark, sf).cache()
    assert(out.select("p_partkey").distinct().count() == out.count())
    // no (part, supplier) pair beats the chosen unit cost
    val pairs = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf)
          .filter(col("p_type") === "STANDARD" && col("p_size") >= 40)
          .select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_partkey")
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("true_min"))
    val bad = out.join(pairs, "p_partkey")
      .filter(col("unit_cost") =!= col("true_min")).count()
    assert(bad == 0)
    out.unpersist()
  }

  test("q11: every kept part clears the global threshold; plan has no second lineitem scan pass") {
    val out = operators.Olap.q11ImportantStock(spark, sf).cache()
    assert(out.count() > 0)
    assert(out.filter(col("stock_value") <= 0).count() == 0)
    // the shared per-part aggregate is served from the PlanCache,
    // which scans as ExistingRDD (lineage truncated to a leaf) — no
    // second lineitem scan in the plan
    val p = plan(operators.Olap.q11ImportantStock(spark, sf))
    assert(p.contains("ExistingRDD"))
    out.unpersist()
  }

  test("q16: excluded suppliers never contribute to any count") {
    val out = operators.Olap.q16SupplierCnt(spark, sf)
    // recompute one cell without the anti join and check it shrinks or holds
    val withExcl = out.agg(sum("supplier_cnt")).head.getLong(0)
    val p = Tables.part(spark, sf)
      .filter(col("p_type") =!= "STANDARD" && col("p_size").isin(1, 10, 20, 30, 40, 50))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val noExcl = Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .agg(sum("supplier_cnt")).head.getLong(0)
    assert(withExcl < noExcl)
  }

  test("q17: kept lines are strictly below their part's 0.2-avg cap") {
    val out = operators.Olap.q17SmallQty(spark, sf)
    val row = out.head
    assert(row.getLong(1) > 0)
    // the brand slice total is an upper bound
    val sliceLines = Tables.lineitem(spark, sf)
      .join(broadcast(Tables.part(spark, sf)
          .filter(col("p_brand") === "Brand#5").select("p_partkey")),
        col("l_partkey") === col("p_partkey")).count()
    assert(row.getLong(1) < sliceLines)
  }

  test("q20: every dominant supplier really holds > half of some part's volume") {
    val out = operators.Olap.q20ExcessShare(spark, sf).cache()
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1998-01-01").cast("timestamp")
    val ps = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .join(broadcast(Tables.part(spark, sf)
          .filter(col("p_type") === "PROMO").select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_partkey", "l_suppkey").agg(sum("l_quantity").as("q"))
    val tot = ps.groupBy("p_partkey").agg(sum("q").as("t"))
    val dominant = ps.join(tot, "p_partkey")
      .filter(col("q") > lit(0.5) * col("t"))
      .select(col("l_suppkey")).distinct()
    val claimed = out.select(col("s_name").as("out_name"))
      .join(Tables.supplier(spark, sf), col("out_name") === col("s_name"))
      .select("s_suppkey")
    val orphans = claimed.join(dominant,
      col("s_suppkey") === col("l_suppkey"), "left_anti").count()
    assert(orphans == 0)
    out.unpersist()
  }

  test("orders_concurrency: sweep conserves mass and never goes negative") {
    val out = operators.Olap.ordersConcurrency(spark, sf).cache()
    assert(out.filter(col("open_orders") < 0).count() == 0)
    // every +1 is matched by a -1 thirty days later: the net sum is 0
    assert(out.agg(sum("net")).head.getLong(0) == 0L)
    // the peak cannot exceed the order count
    val peak = out.agg(max("open_orders")).head.getLong(0)
    assert(peak <= Tables.orders(spark, sf).count())
    assert(peak > 0)
    out.unpersist()
  }

  test("lineitem_monthly_yoy: YoY only against the consecutive prior year") {
    val out = operators.Olap.lineitemMonthlyYoy(spark, sf).cache()
    assert(out.select("yr", "mo").distinct().count() == out.count())
    assert(out.filter(col("yoy_pct").isNotNull && col("prev_year_revenue").isNull)
      .count() == 0)
    out.unpersist()
  }

  test("q14_promo_share and lineitem_monthly_yoy: same rows in two lineitem row orders") {
    // a copy of the dir whose lineitem holds the same rows in another
    // order, cut into several files; the other tables are links
    val permuted = java.nio.file.Files.createTempDirectory("lineitem_order")
    val src = java.nio.file.Paths.get(sf)
    java.nio.file.Files.list(src).forEach { t =>
      if (t.getFileName.toString != "lineitem.parquet")
        java.nio.file.Files.createSymbolicLink(permuted.resolve(t.getFileName), t)
    }
    Tables.lineitem(spark, sf)
      .repartition(7, xxhash64(col("l_orderkey"), col("l_linenumber")))
      .sortWithinPartitions(col("l_extendedprice").desc)
      .write.parquet(permuted.resolve("lineitem.parquet").toString)
    for (q <- Seq(operators.Olap.q14PromoShare _, operators.Olap.lineitemMonthlyYoy _)) {
      val a = q(spark, sf).collect().toSeq
      val b = q(spark, permuted.toString).collect().toSeq
      val moved = a.zip(b).filter { case (x, y) => x != y }
      assert(a.nonEmpty && a.size == b.size && moved.isEmpty,
        s"rows that moved with row order: ${moved.take(3).mkString("; ")}")
    }
  }

  test("events_cohort_ltv: buyers bounded by cohort, revenue mass conserved") {
    val out = operators.Events.eventsCohortLtv(spark, sf).cache()
    assert(out.filter(col("n_buyers") > col("cohort_size")).count() == 0)
    val total = out.agg(round(sum("revenue"), 0)).head.getDouble(0)
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(round(sum("value"), 0)).head.getDouble(0)
    assert(math.abs(total - purchases) <= 1.0, s"$total vs $purchases")
    out.unpersist()
  }

  test("q20: both grouping grains and the back-join ride ONE part-key exchange") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.SparkPlan
    def expand(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case o => o.children
      }
      p +: kids.flatMap(expand)
    }
    PlanCache.clear() // count the exchanges of a cold build, not the cache hit
    val df = operators.Olap.q20ExcessShare(spark, sf)
    df.collect()
    val shuffles = expand(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
    // one explicit part-key repartition + the final small orderBy range
    // exchange; the regroup, the perPart join and the semi join must
    // all reuse the cached layout
    assert(shuffles <= 3, s"expected <=3 shuffles, got $shuffles")
  }

  test("q20/q2/q16 plans: part slices broadcast, no cartesian anywhere") {
    // q20's part slice joins inside its PlanCache build, so its shape
    // is pinned on the build body; the consumer plan scans the leaf
    Seq(
      operators.Olap.q2MinCost(spark, sf),
      operators.Olap.q16SupplierCnt(spark, sf),
      operators.Olap.q20PerPartSupp(spark, sf)
    ).foreach { df =>
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), "part slice should broadcast")
      assert(!p.contains("CartesianProduct"))
    }
    assert(!plan(operators.Olap.q20ExcessShare(spark, sf)).contains("CartesianProduct"))
  }
}
