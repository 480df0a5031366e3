package graft

import org.apache.spark.sql.functions._

/** Governance operators: cross-table expectation suite and
  * k-anonymity risk report.
  */
class GovernanceSpec extends SparkSpec {

  test("dq_expectations: FK checks pass, composite-key uniqueness genuinely fails") {
    val out = operators.Governance.dqExpectations(spark, sf).cache()
    val byName = out.collect()
      .map(r => r.getAs[String]("check_name") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_violations"),
          r.getAs[String]("status"))).toMap
    assert(byName.size == 10)
    // referential integrity holds in the generated data
    Seq("fk_lineitem_orderkey_orders", "fk_lineitem_partkey_part",
      "fk_lineitem_suppkey_supplier", "fk_orders_custkey_customer")
      .foreach { c => assert(byName(c)._3 == "pass", s"$c: ${byName(c)}") }
    // the composite line key is NOT unique in the generator — the
    // suite must surface a real failure, not vacuous passes
    val (n, vUniq, st) = byName("unique_lineitem_orderkey_linenumber")
    assert(st == "fail" && vUniq > 0)
    val l = Tables.lineitem(spark, sf)
    val expect = l.count() -
      l.select("l_orderkey", "l_linenumber").distinct().count()
    assert(vUniq == expect, s"violations $vUniq != independent $expect")
    assert(n == l.count())
    // rates are consistent with (violations, rows)
    assert(out.filter(col("violation_rate") < 0 || col("violation_rate") > 1).count() == 0)
    assert(out.filter((col("n_violations") === 0) =!= (col("status") === "pass")).count() == 0)
    out.unpersist()
  }

  test("config-driven expectations: rules count violations exactly") {
    import operators.Governance
    // declarative rules, the dbt schema.yml shape
    val rules = Seq(
      Governance.Expectation("t", "id", "not_null"),
      Governance.Expectation("t", "id", "unique"),
      Governance.Expectation("t", "status", "accepted_values", Seq("A", "B")),
      Governance.Expectation("t", "score", "range", Seq("0", "1")),
      Governance.Expectation("t", "code", "regex", Seq("^[a-z]+$")))
    // planted violations: 1 null id, 1 dup id, 1 bad status,
    // 1 out-of-range score, 2 bad codes; the all-null last row must
    // only violate not_null (the dbt convention)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("status", StringType),
      StructField("score", DoubleType), StructField("code", StringType)))
    val data = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "A", 0.5, "ok"),
      Row(1L, "B", 1.0, "dup"),    // dup id
      Row(null, "A", 0.0, "nul"),  // null id (not a dup)
      Row(3L, "X", 0.4, "BAD"),    // bad status + uppercase code
      Row(4L, "A", 1.5, "rng9"),   // out of range + digit in code
      Row(5L, null, null, null)), schema)
    val report = Governance.dqExpectationsFrom(Map("t" -> data), rules)
    val byName = report.collect()
      .map(r => r.getAs[String]("check_name") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_violations"),
          r.getAs[String]("status"))).toMap
    assert(byName.size == 5)
    assert(byName("not_null_t_id") == ((6L, 1L, "fail")))
    assert(byName("unique_t_id") == ((6L, 1L, "fail")))
    assert(byName("accepted_values_t_status") == ((6L, 1L, "fail")))
    assert(byName("range_t_score") == ((6L, 1L, "fail")))
    assert(byName("regex_t_code") == ((6L, 2L, "fail"))) // BAD + rng9; null skipped
    // unknown test name and unknown table fail loudly
    intercept[IllegalArgumentException] {
      Governance.dqExpectationsFrom(Map("t" -> data),
        Seq(Governance.Expectation("t", "id", "median"))).collect()
    }
    intercept[IllegalArgumentException] {
      Governance.dqExpectationsFrom(Map("t" -> data),
        Seq(Governance.Expectation("missing", "id", "not_null")))
    }
    // the registered query keeps one scan per table: the physical plan
    // must contain exactly 2 parquet scans (orders + customer)
    val cfgPlan = Governance.dqExpectationsConfig(spark, sf)
      .queryExecution.executedPlan.toString
    val nScans = "Scan parquet".r.findAllIn(cfgPlan).length
    assert(nScans == 2, s"expected 2 scans, got $nScans")
  }

  test("events_bot_detect: one row per user, flag tracks the rounded cv threshold") {
    val out = operators.Events.eventsBotDetect(spark, sf).cache()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(out.count() == users,
      "EVERY user gets a feature row — single-event users included (left join)")
    // single-event users: null cadence features, never flagged
    assert(out.filter(col("n_events") === 1 &&
      (col("mean_gap_s").isNotNull || col("gap_cv").isNotNull ||
       col("is_bot") =!= 0L)).count() == 0)
    // cv path of the flag (sd_gap>0): flag iff rounded cv ≤ 0.8
    assert(out.filter(col("gap_cv") > 0 &&
      ((col("gap_cv") <= 0.8) =!= (col("is_bot") === 1L))).count() == 0)
    // perfectly clocked cadence (sd=0) is flagged even when the burst
    // sits inside one second (mean_gap=0, cv undefined → null) — but
    // ONLY with ≥2 gaps: one interval is always "regular", so 2-event
    // users never ride the sd_gap=0 clause whatever their spacing
    assert(out.filter(col("gap_cv") === 0.0 && col("is_bot") =!= 1L).count() == 0)
    assert(out.filter(col("gap_cv").isNull && col("mean_gap_s") === 0.0 &&
      col("n_events") >= 3 && col("is_bot") =!= 1L).count() == 0)
    assert(out.filter(col("n_events") === 2 && col("gap_cv").isNull &&
      col("is_bot") === 1L).count() == 0,
      "a single gap must not flag through the sd_gap=0 clause")
    // features are internally consistent
    assert(out.filter(col("n_events") < col("active_minutes")).count() == 0)
    assert(out.filter(col("max_burst_min") < 1 ||
      col("events_per_active_min") < 1.0).count() == 0)
    out.unpersist()
  }

  test("events_funnel_time: zero converters still yields the one summary row") {
    // converter-free corpus: views only — the quantile pass has no
    // input, but the report contract is ONE row (n_converters=0, null
    // latency stats), not an empty table a dashboard reads as "no data"
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel-empty").toString
    spark.range(20).selectExpr(
      "id AS event_id",
      "timestamp_seconds(1700000000 + id * 60) AS ts",
      "id % 5 AS user_id",
      "'view' AS event_type",
      "CAST(id AS DOUBLE) AS value",
      "'{}' AS props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = operators.Events.eventsFunnelTime(spark, dir).collect()
    assert(rows.length == 1, s"expected the n_converters=0 row, got ${rows.length} rows")
    val r = rows.head
    assert(r.getAs[Long]("n_converters") == 0L)
    assert(r.isNullAt(r.fieldIndex("p50_s")) && r.isNullAt(r.fieldIndex("p90_s")) &&
      r.isNullAt(r.fieldIndex("max_s")))
  }

  test("events_funnel_windowed: equals an exact local recomputation; timeouts bite") {
    val w = operators.Events.eventsFunnelWindowed(spark, sf).cache()
    // one row per signed-up user; stage 3 requires stage 2; window
    // arithmetic holds on every qualifying row
    val week = 7L * 86400L
    assert(w.filter(col("reached_purchase") && !col("reached_view")).count() == 0)
    assert(w.filter(col("reached_view") &&
      (col("t_view") < col("t_signup") ||
       col("t_view") > col("t_signup") + week)).count() == 0)
    assert(w.filter(col("reached_purchase") &&
      (col("t_purchase") < col("t_view") ||
       col("t_purchase") > col("t_view") + week)).count() == 0)
    // exact local recomputation from raw events
    val evs = Tables.events(spark, sf).select("user_id", "event_type", "ts_s")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = evs.groupBy(_._1)
    val expected = byUser.flatMap { case (u, es) =>
      val signups = es.filter(_._2 == "signup").map(_._3)
      if (signups.isEmpty) None else {
        val ts = signups.min
        val tv = es.filter(e => e._2 == "view" && e._3 >= ts && e._3 <= ts + week)
          .map(_._3).minOption
        val tp = tv.flatMap(v => es.filter(e =>
          e._2 == "purchase" && e._3 >= v && e._3 <= v + week)
          .map(_._3).minOption)
        Some((u, ts, tv, tp))
      }
    }.toSeq.sortBy(_._1)
    val got = w.collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)),
      if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    assert(got == expected)
    // both funnel outcomes occur (the sf0.001 corpus is too small to
    // guarantee the timeout itself bites — the sf0.01/0.1 oracle
    // gates cover that; here the exact recomputation is the pin)
    assert(w.filter(col("reached_view")).count() > 0)
    assert(w.filter(!col("reached_purchase")).count() > 0)
    w.unpersist()
  }

  test("events_cuped: agrees with a local CUPED computation; adjustment is mean-consistent") {
    val r = operators.Events.eventsCuped(spark, sf).head()
    // local recomputation from raw events
    val evs = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts_s", "value")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getDouble(3)))
    val mid = (evs.map(_._3).min + evs.map(_._3).max) / 2.0
    val perUser = evs.groupBy(_._1).toSeq.map { case (u, es) =>
      val x = es.filter(e => e._2 == "purchase" && e._3 < mid).map(_._4).sum
      val y = es.filter(e => e._2 == "purchase" && e._3 >= mid).map(_._4).sum
      (u, x, y)
    }
    val n = perUser.size.toDouble
    val mx = perUser.map(_._2).sum / n
    val my = perUser.map(_._3).sum / n
    val varX = perUser.map(p => p._2 * p._2).sum / n - mx * mx
    val covXY = perUser.map(p => p._2 * p._3).sum / n - mx * my
    val theta = covXY / varX
    assert(math.abs(r.getAs[Double]("theta") - theta) < 1e-4,
      s"theta ${r.getAs[Double]("theta")} vs local $theta")
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == perUser.size.toLong)
    // the adjustment is mean-consistent: the population-weighted
    // adjusted mean equals the raw post-period mean (CUPED shifts
    // variance, never the overall level)
    val pooledAdj = (r.getAs[Double]("adj_mean_a") * r.getAs[Long]("n_a") +
      r.getAs[Double]("adj_mean_b") * r.getAs[Long]("n_b")) / n
    assert(math.abs(pooledAdj - my) < 1e-3, s"pooled adjusted $pooledAdj vs raw $my")
    // exact local var_reduction: θ is fit POOLED (the standard CUPED
    // estimator) while the reduction is measured within-variant, so
    // on a near-zero-correlation corpus the realized value may be
    // slightly NEGATIVE — that is the estimator's true behavior, so
    // pin the exact number, not a sign
    def md5u(u: Long): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      v.toDouble / 4294967296.0
    }
    def withinStats(side: Seq[(Long, Double, Double)]) = {
      val nv = side.size.toDouble
      val mxv = side.map(_._2).sum / nv
      val myv = side.map(_._3).sum / nv
      val vy = side.map(p => p._3 * p._3).sum / nv - myv * myv
      val vx = side.map(p => p._2 * p._2).sum / nv - mxv * mxv
      val cv = side.map(p => p._2 * p._3).sum / nv - mxv * myv
      (nv, vy, vy - 2 * theta * cv + theta * theta * vx)
    }
    val (a, b) = perUser.partition(p => md5u(p._1) < 0.5)
    val (na, vyA, vaA) = withinStats(a)
    val (nb, vyB, vaB) = withinStats(b)
    val vrLocal = 1.0 - (vaA * na + vaB * nb) / (vyA * na + vyB * nb)
    val vr = r.getAs[Double]("var_reduction")
    assert(math.abs(vr - vrLocal) < 1e-4, s"var_reduction $vr vs local $vrLocal")
    assert(vr <= 1.0)
  }

  test("events_did: identity did = (post_b - pre_b) - (post_a - pre_a); consistent with cuped population") {
    val r = operators.Events.eventsDid(spark, sf).head()
    def g(c: String) = r.getAs[Double](c)
    // the defining DiD identity over the reported arm means (each
    // rounded to 6, so allow their combination tolerance)
    val expect = (g("post_mean_b") - g("pre_mean_b")) - (g("post_mean_a") - g("pre_mean_a"))
    assert(math.abs(g("did") - expect) < 5e-6, s"did ${g("did")} vs identity $expect")
    // same split and population as events_cuped
    val c = operators.Events.eventsCuped(spark, sf).head()
    assert(r.getAs[Long]("n_a") == c.getAs[Long]("n_a") &&
      r.getAs[Long]("n_b") == c.getAs[Long]("n_b"))
    assert(math.abs(g("post_mean_a") - c.getAs[Double]("rev_mean_a")) < 1e-9 &&
      math.abs(g("post_mean_b") - c.getAs[Double]("rev_mean_b")) < 1e-9,
      "post-period means must match the CUPED read-out")
  }

  test("quality_reliability: bins partition the corpus; gaps and ECE are consistent") {
    val rows = operators.Governance.qualityReliability(spark, sf).collect()
    val docs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum == docs, "bins partition the corpus")
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
    rows.foreach { r =>
      val bin = r.getAs[Long]("bin")
      val ms = r.getAs[Double]("mean_score")
      assert(ms >= bin / 10.0 - 1e-9 && ms <= (bin + 1) / 10.0 + 1e-9,
        s"bin $bin mean score $ms outside its bounds")
      assert(r.getAs[Double]("pos_rate") >= 0 && r.getAs[Double]("pos_rate") <= 1)
      // contribution = share × gap, up to the independent rounding of each
      assert(math.abs(r.getAs[Double]("ece_contrib") -
        r.getAs[Double]("share") * r.getAs[Double]("gap")) < 1e-5)
    }
  }

  test("events_forecast_baseline: equals a local seasonal-naive backtest") {
    val rows = operators.Events.eventsForecastBaseline(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val hourly = Tables.events(spark, sf)
      .selectExpr("event_type", "ts_s div 3600 AS h")
      .groupBy("event_type", "h").agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val mh = hourly.keys.map(_._2).max
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    hourly.keys.map(_._1).toSeq.distinct.foreach { t =>
      // .toSeq before mapping to pairs — Map#map over pair results
      // would re-key by the first element and collapse rows
      val window = hourly.filter { case ((tt, h), _) => tt == t && h > mh - 168 }.toSeq
      val errs = window.map { case ((_, h), c) =>
        (math.abs(c - hourly.getOrElse((t, h - 168), 0L)), c) }
      val (n, mae, wape) = rows(t)
      assert(n == window.size.toLong, s"$t horizon")
      assert(mae == r6(errs.map(_._1).sum.toDouble / errs.size), s"$t mae")
      assert(wape == r6(errs.map(_._1).sum.toDouble / errs.map(_._2).sum), s"$t wape")
      assert(wape >= 0.0)
    }
    assert(rows.nonEmpty && rows.values.exists(_._3 > 0.0),
      "the backtest must register real error somewhere")
  }

  test("events_survival: Kaplan-Meier invariants and exact local recomputation") {
    val out = operators.Events.eventsSurvival(spark, sf).collect().sortBy(_.getLong(0))
    assert(out.length == 31)
    // survival and at-risk are non-increasing; hazard in [0,1]
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Double]("survival") <= a.getAs[Double]("survival") + 1e-12)
      assert(b.getAs[Long]("n_risk") <= a.getAs[Long]("n_risk"))
    }
    // exact recomputation from raw events
    val evs = Tables.events(spark, sf).select("user_id", "event_type", "ts_s")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val maxTs = evs.map(_._3).max
    // .toSeq BEFORE flatMap: a Map#flatMap over pair results would
    // rebuild a Map keyed by dur and silently collapse users
    val durs = evs.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val s = es.filter(_._2 == "signup").map(_._3)
      if (s.isEmpty) None else {
        val t0 = s.min
        val tp = es.filter(e => e._2 == "purchase" && e._3 >= t0).map(_._3).minOption
        Some((tp.map(p => (p - t0) / 86400).getOrElse((maxTs - t0) / 86400),
          tp.isDefined))
      }
    }
    (0 to 30).foreach { t =>
      val r = out(t)
      val nRisk = durs.count(_._1 >= t)
      val nEv = durs.count(d => d._1 == t && d._2)
      assert(r.getAs[Long]("n_risk") == nRisk && r.getAs[Long]("n_events") == nEv,
        s"t=$t risk/events")
      val hs = (0 to t).map { s =>
        val n = durs.count(_._1 >= s).toDouble
        if (n > 0) durs.count(d => d._1 == s && d._2) / n else 0.0
      }
      val surv = hs.map(1.0 - _).product
      assert(math.abs(r.getAs[Double]("survival") - surv) < 1e-4,
        s"t=$t survival ${r.getAs[Double]("survival")} vs local $surv")
    }
    // the curve does real work on this corpus (every sf0.001 signup
    // converts, so censoring itself is exercised by the sf0.01/0.1
    // oracle gates; the exact recomputation above is the pin)
    assert(out.head.getAs[Double]("survival") < 1.0)
    assert(durs.exists(_._2), "corpus must contain conversions")
  }

  test("events_ab_test: arms partition users; z agrees with a local Welch computation") {
    val row = operators.Events.eventsAbTest(spark, sf).head()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(row.getAs[Long]("n_a") + row.getAs[Long]("n_b") == users)
    assert(row.getAs[Long]("n_a") > 0 && row.getAs[Long]("n_b") > 0)
    // recompute Welch z locally from per-user revenues
    val rev = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(coalesce(sum(when(col("event_type") === "purchase", col("value"))),
        lit(0.0)).as("rev"))
      .withColumn("a",
        graft.functions.HexExprs.uniformHash(col("user_id").cast("string")) < 0.5)
      .collect().map(r => (r.getBoolean(2), r.getDouble(1)))
    def stats(xs: Array[Double]) = {
      val n = xs.length; val m = xs.sum / n
      (n, m, xs.map(x => x * x).sum / n - m * m)
    }
    val (na, ma, va) = stats(rev.filter(_._1).map(_._2))
    val (nb, mb, vb) = stats(rev.filterNot(_._1).map(_._2))
    val z = (mb - ma) / math.sqrt(va / na + vb / nb)
    assert(math.abs(row.getAs[Double]("z") - z) < 1e-5,
      s"welch z ${row.getAs[Double]("z")} vs local $z")
  }

  test("privacy_l_diversity: sensitive diversity bounded by cell size, flag matches l") {
    val out = operators.Governance.privacyLDiversity(spark, sf, l = 3).cache()
    assert(out.filter(col("n_sensitive") > col("n")).count() == 0,
      "distinct sensitive values cannot exceed the cell population")
    assert(out.filter((col("n_sensitive") < 3) =!= (col("at_risk") === 1)).count() == 0)
    // same QID cells as the k-anonymity report
    val kan = operators.Governance.privacyKanon(spark, sf, k = 5)
      .select("c_mktsegment", "bal_bucket", "n")
    assert(out.select("c_mktsegment", "bal_bucket", "n").except(kan).isEmpty)
    out.unpersist()
  }

  test("quality_pr_curve: monotone in the threshold, reconciles at t=0.5 with verdicts") {
    val rows = operators.Governance.qualityPrCurve(spark, sf).collect()
      .sortBy(_.getAs[Long]("t10"))
    assert(rows.length == 9)
    // recall never increases as the threshold rises; tp+fn is constant
    val recalls = rows.map(_.getAs[Double]("recall"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a >= b })
    assert(rows.map(r => r.getAs[Long]("tp") + r.getAs[Long]("fn")).distinct.length == 1)
    // t=0.5 bin agrees with the classifier's own keep verdicts
    val t5 = rows.find(_.getAs[Long]("t10") == 5L).get
    val keeps = operators.TextAnalysis.qualityClassifier(spark, sf)
      .filter(col("verdict") === "keep").count()
    assert(t5.getAs[Long]("tp") + t5.getAs[Long]("fp") == keeps)
  }

  test("events_attribution_linear: credit conserves attributed purchase value") {
    val out = operators.Events.eventsAttributionLinear(spark, sf).collect()
    assert(out.nonEmpty)
    val credited = out.map(_.getAs[Double]("credited_revenue")).sum
    // total credit equals the value of purchases that HAVE >= 1 touch
    // in the window (purchases with no touches receive no credit)
    val e = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "ts_s", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))
    val touches = e.filter(x => x._3 == "view" || x._3 == "click")
    val attributedValue = e.filter(_._3 == "purchase").filter { p =>
      touches.exists(t => t._2 == p._2 && t._4 >= p._4 - 1800 && t._4 < p._4)
    }.map(_._5).sum
    assert(math.abs(credited - attributedValue) < 1e-3,
      s"credit $credited vs attributed purchase value $attributedValue")
  }

  test("privacy_kanon: cells partition the table, at_risk flags exactly n < k") {
    val out = operators.Governance.privacyKanon(spark, sf, k = 5).cache()
    val c = Tables.customer(spark, sf)
    assert(out.agg(sum("n")).head().getLong(0) == c.count(),
      "QID cells must partition the customer table")
    assert(out.filter((col("n") < 5) =!= (col("at_risk") === 1)).count() == 0)
    // a tighter k flags a superset of cells
    val k2 = operators.Governance.privacyKanon(spark, sf, k = 10)
      .filter(col("at_risk") === 1).count()
    assert(k2 >= out.filter(col("at_risk") === 1).count())
    out.unpersist()
  }
}
