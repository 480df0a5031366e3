package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-governance operators: the cross-table expectation suite a
  * warehouse runs before publishing a snapshot (the layer above
  * [[Quality.qualityMetrics]]' single-column dbt tests — the
  * reference's firmable_dbt quality models stop at unique/not_null,
  * e.g. models/abr_companies_quality.yml), and a
  * k-anonymity re-identification risk report over quasi-identifiers.
  */
object Governance {

  /** Expectation suite over the order pipeline: referential
    * integrity, composite-key uniqueness, accepted values, value
    * ranges, and a cross-table consistency rule — one row per check
    * with its violation count and pass/fail status.
    *
    * Scale shape: all single-table checks fold into ONE conditional
    * aggregation pass per table (no per-check rescans). Each FK check
    * reduces the fact side to (key, cnt) with map-side combine FIRST,
    * anti-joins that key-count relation against the dimension's keys,
    * and sums the counts — the fact table crosses the shuffle once
    * per FK as distinct keys, never as rows, and the violating-row
    * count still comes out exact. The consistency rule is the one
    * genuine fact-to-fact join, co-partitioned on the order key.
    */
  def dqExpectations(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)

    // one pass over lineitem for every in-row check; cached because
    // five report rows read it (the union inlines one branch each)
    val lAgg = graft.PlanCache.cached("dq_lagg", spark, dir)(l.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_returnflag").isin("A", "N", "R"), 0L).otherwise(1L)).as("v_rf"),
      sum(when(col("l_linestatus").isin("O", "F"), 0L).otherwise(1L)).as("v_ls"),
      sum(when(col("l_discount").between(0.0, 0.1), 0L).otherwise(1L)).as("v_disc"),
      sum(when(col("l_quantity").between(1.0, 50.0), 0L).otherwise(1L)).as("v_qty"),
      (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber"))).as("v_uniq")))
    val oAgg = o.agg(count(lit(1)).as("n"))

    // FK violations counted without a second fact scan: group the
    // fact key (map-side combine), anti-join the dimension keys,
    // sum the surviving counts
    def fkViol(fact: DataFrame, factKey: String, dim: DataFrame, dimKey: String): DataFrame =
      fact.groupBy(col(factKey).as("k")).agg(count(lit(1)).as("cnt"))
        .join(dim.select(col(dimKey).as("k")), Seq("k"), "left_anti")
        .agg(coalesce(sum("cnt"), lit(0L)).as("v"))

    val shipViol = l.select(col("l_orderkey"), col("l_shipdate"))
      .join(o.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L)).as("v"))

    def row(name: String, nAgg: DataFrame, viol: Column): DataFrame =
      nAgg.select(lit(name).as("check_name"), col("n").as("n_rows"),
        viol.cast("long").as("n_violations"))
    def rowJ(name: String, nAgg: DataFrame, violDf: DataFrame): DataFrame =
      nAgg.crossJoin(broadcast(violDf))
        .select(lit(name).as("check_name"), col("n").as("n_rows"),
          col("v").cast("long").as("n_violations"))

    val rows = Seq(
      row("accepted_values_l_returnflag", lAgg, col("v_rf")),
      row("accepted_values_l_linestatus", lAgg, col("v_ls")),
      row("range_l_discount_0_0.1", lAgg, col("v_disc")),
      row("range_l_quantity_1_50", lAgg, col("v_qty")),
      row("unique_lineitem_orderkey_linenumber", lAgg, col("v_uniq")),
      rowJ("fk_lineitem_orderkey_orders", lAgg,
        fkViol(l, "l_orderkey", o, "o_orderkey")),
      rowJ("fk_lineitem_partkey_part", lAgg,
        fkViol(l, "l_partkey", Tables.part(spark, dir), "p_partkey")),
      rowJ("fk_lineitem_suppkey_supplier", lAgg,
        fkViol(l, "l_suppkey", Tables.supplier(spark, dir), "s_suppkey")),
      rowJ("fk_orders_custkey_customer", oAgg,
        fkViol(o, "o_custkey", Tables.customer(spark, dir), "c_custkey")),
      rowJ("consistency_shipdate_after_orderdate", lAgg, shipViol))
    rows.reduce(_ unionAll _)
      .withColumn("violation_rate",
        round(col("n_violations").cast("double") / col("n_rows"), 6))
      .withColumn("status",
        when(col("n_violations") === 0, "pass").otherwise("fail"))
      .orderBy("check_name")
  }

  /** One declarative expectation — the dbt schema.yml column-test
    * unit (scripts/dbtpipeline/models/example/schema.yml drives its
    * tests from YAML config): `test` ∈ {not_null, unique,
    * accepted_values, range, regex}, `params` carrying the accepted
    * values / [lo, hi] / pattern.
    */
  case class Expectation(table: String, column: String, test: String,
                         params: Seq[String] = Nil)

  /** Config-DRIVEN expectation suite — the dbt schema.yml parity
    * feature: the checks come from data, not code, so a new column
    * test is a config row, not a deploy. Emits the same report shape
    * as [[dqExpectations]] (check_name, n_rows, n_violations,
    * violation_rate, status).
    *
    * Scale shape: ALL of a table's rules fold into ONE conditional
    * aggregation pass over that table (n rules ≠ n scans); a `unique`
    * rule is the only aggregate carrying distinct state (each extra
    * unique rule on the same table widens the two-phase distinct —
    * keep one per table or pay the Expand). Nulls only violate
    * not_null: accepted_values/range/regex skip them, as in dbt.
    */
  def dqExpectationsFrom(tables: Map[String, DataFrame],
                         rules: Seq[Expectation]): DataFrame = {
    require(rules.nonEmpty, "dqExpectationsFrom: empty rule set")
    val unknown = rules.map(_.table).distinct.filterNot(tables.contains)
    require(unknown.isEmpty, s"rules reference unknown tables: $unknown")
    def violations(r: Expectation): Column = {
      val c = col(r.column)
      r.test match {
        case "not_null" => sum(when(c.isNull, 1L).otherwise(0L))
        case "unique"   => count(c) - countDistinct(c)
        case "accepted_values" =>
          sum(when(c.isNull || c.isin(r.params: _*), 0L).otherwise(1L))
        case "range" =>
          sum(when(c.isNull ||
            c.between(r.params(0).toDouble, r.params(1).toDouble), 0L)
            .otherwise(1L))
        case "regex" =>
          sum(when(c.isNull || c.rlike(r.params.head), 0L).otherwise(1L))
        case other => throw new IllegalArgumentException(
          s"unknown expectation test '$other' on ${r.table}.${r.column}")
      }
    }
    // one aggregation ROW per table, unpivoted by exploding an array
    // of check structs — a union of per-rule selects would re-derive
    // the aggregation (and rescan the table) once per rule
    val perTable = rules.groupBy(_.table).toSeq.map { case (t, rs) =>
      tables(t).agg(count(lit(1)).as("n"),
          rs.zipWithIndex.map { case (r, i) =>
            violations(r).cast("long").as(s"v_$i") }: _*)
        .select(col("n"), explode(array(rs.zipWithIndex.map { case (r, i) =>
          struct(lit(s"${r.test}_${r.table}_${r.column}").as("check_name"),
            col(s"v_$i").as("n_violations")) }: _*)).as("c"))
        .select(col("c.check_name"), col("n").as("n_rows"),
          col("c.n_violations"))
    }
    perTable.reduce(_ unionAll _)
      .withColumn("violation_rate",
        round(col("n_violations").cast("double") / col("n_rows"), 6))
      .withColumn("status",
        when(col("n_violations") === 0, "pass").otherwise("fail"))
      .orderBy("check_name")
  }

  /** The registered config-suite query: a pinned default rule set
    * (the reference schema.yml's unique/not_null plus the
    * accepted-values/range/regex tests dbt ships) over orders +
    * customer. The range check genuinely fails on this corpus
    * (o_totalprice exceeds 400k) — a suite that can't fail proves
    * nothing.
    */
  def dqExpectationsConfig(spark: SparkSession, dir: String): DataFrame =
    dqExpectationsFrom(
      Map("orders" -> Tables.orders(spark, dir),
          "customer" -> Tables.customer(spark, dir)),
      Seq(
        Expectation("orders", "o_orderkey", "not_null"),
        Expectation("orders", "o_orderkey", "unique"),
        Expectation("orders", "o_orderstatus", "accepted_values", Seq("O", "F", "P")),
        Expectation("orders", "o_totalprice", "range", Seq("0", "400000")),
        Expectation("customer", "c_custkey", "not_null"),
        Expectation("customer", "c_custkey", "unique"),
        Expectation("customer", "c_name", "regex", Seq("^Customer#[0-9]+$")),
        Expectation("customer", "c_mktsegment", "not_null")))

  /** k-anonymity report over customer quasi-identifiers (market
    * segment × account-balance thousand-bucket): every QID cell with
    * its population and an at-risk flag (n < k ⇒ an attacker who
    * knows the quasi-identifiers pins a customer to under k
    * candidates). One groupBy — the shuffle carries only QID keys
    * with map-side combine; flagging is a projection on the
    * aggregate, never a second pass.
    */
  def privacyKanon(spark: SparkSession, dir: String): DataFrame =
    privacyKanon(spark, dir, k = 5)

  def privacyKanon(spark: SparkSession, dir: String, k: Int): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", when(col("n") < k, 1L).otherwise(0L))
      .orderBy("c_mktsegment", "bal_bucket")

  /** l-diversity over the same QID cells as [[privacyKanon]]: a cell
    * is at risk when its SENSITIVE attribute (nation) takes fewer
    * than l distinct values — k-anonymity's complement (a cell of 50
    * people is still disclosive if they all share one nation). One
    * groupBy with an exact two-phase distinct; flagging is a
    * projection on the aggregate.
    */
  def privacyLDiversity(spark: SparkSession, dir: String): DataFrame =
    privacyLDiversity(spark, dir, l = 3)

  def privacyLDiversity(spark: SparkSession, dir: String, l: Int): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("c_nationkey")).as("n_sensitive"))
      .withColumn("at_risk", when(col("n_sensitive") < l, 1L).otherwise(0L))
      .orderBy("c_mktsegment", "bal_bucket")

  /** Threshold calibration for the model-based quality filter:
    * [[TextAnalysis.qualityClassifier]]'s score evaluated against
    * [[TextAnalysis.textQuality]]'s heuristic bucket as weak truth
    * (pos = 'ok'), swept over nine decision thresholds — tp/fp/fn
    * with precision and recall per threshold, the curve that picks
    * the filter's operating point before a 100 TB run commits to it.
    *
    * Scale shape: one per-doc equi-join of two already-per-doc
    * relations, then a broadcast 9-row threshold cross join into ONE
    * conditional aggregation — the score stream is read once for all
    * nine thresholds, not once per threshold.
    */
  /** Reliability diagram of the model-based quality filter: scores
    * bucketed into 10 probability bins, each bin's MEAN SCORE
    * against its EMPIRICAL positive rate (weak truth = the heuristic
    * bucket, as in [[qualityPrCurve]]) — a calibrated model sits on
    * the diagonal; `gap` is the bin's calibration error and
    * `ece_contrib` its population-weighted share (summing the column
    * gives the Expected Calibration Error). The PR curve picks the
    * operating point; this table says whether the SCORES themselves
    * can be trusted as probabilities (e.g. for temperature-scaled
    * sampling by quality).
    *
    * Scale shape: one per-doc equi-join, one 10-key groupBy with
    * map-side combine, and the corpus total on a broadcast one-row
    * cross join — nothing beyond the [[qualityPrCurve]] pattern.
    */
  def qualityReliability(spark: SparkSession, dir: String): DataFrame = {
    val binned = TextAnalysis.qualitySignals(spark, dir)
      .withColumn("bin", least(floor(col("score") * 10).cast("long"), lit(9L)))
    val bins = binned.groupBy("bin").agg(
      count(lit(1)).as("n"), avg("score").as("ms"), sum("pos").as("n_pos"))
    val total = bins.agg(sum("n").as("nn"))
    bins.crossJoin(broadcast(total))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("n").cast("double") / col("nn"), 6).as("share"),
        round(col("ms"), 6).as("mean_score"),
        round(col("n_pos").cast("double") / col("n"), 6).as("pos_rate"),
        round(abs(col("ms") - col("n_pos").cast("double") / col("n")), 6).as("gap"),
        round(col("n").cast("double") / col("nn")
          * abs(col("ms") - col("n_pos").cast("double") / col("n")), 6)
          .as("ece_contrib"))
      .orderBy("bin")
  }

  def qualityPrCurve(spark: SparkSession, dir: String): DataFrame = {
    val th = spark.range(1, 10).select(col("id").as("t10"))
    TextAnalysis.qualitySignals(spark, dir)
      .crossJoin(broadcast(th))
      .withColumn("hit", (col("score") >= col("t10") / 10.0).cast("long"))
      .groupBy("t10")
      .agg(
        sum(col("hit") * col("pos")).as("tp"),
        sum(col("hit") * (lit(1L) - col("pos"))).as("fp"),
        sum((lit(1L) - col("hit")) * col("pos")).as("fn"))
      .select(col("t10"), col("tp"), col("fp"), col("fn"),
        round(col("tp").cast("double") /
          nullif(col("tp") + col("fp"), lit(0L)), 6).as("precision"),
        round(col("tp").cast("double") /
          nullif(col("tp") + col("fn"), lit(0L)), 6).as("recall"))
      .orderBy("t10")
  }

  /** Inter-rater agreement between the two independent quality
    * signals — the heuristic rule bucket ([[TextAnalysis.textQuality]],
    * positive = 'ok') and the model-based filter
    * ([[TextAnalysis.qualityClassifier]], positive = 'keep') — as
    * Cohen's kappa: observed agreement corrected for the agreement
    * two raters with these marginals would reach BY CHANCE
    * (κ = (p_o − p_e)/(1 − p_e)). Raw agreement overstates
    * reliability when both raters mostly say "keep"; κ is the number
    * a curation pipeline should gate a classifier rollout on.
    * Completes the calibration trio next to [[qualityPrCurve]]
    * (operating point) and [[qualityReliability]] (probability
    * trust).
    *
    * Scale shape: one pass over the shared per-doc signal relation
    * ([[TextAnalysis.qualitySignals]] — the two raters are
    * projections of the same document row, so no join exists) into
    * ONE four-cell conditional aggregation — constant state, no
    * second pass for the marginals (they expand from the same cells).
    */
  /** ROC AUC of the model-based quality filter against the heuristic
    * weak truth — the threshold-free ranking number that completes
    * the eval suite next to [[qualityPrCurve]] (operating point),
    * [[qualityReliability]] (calibration) and [[qualityKappa]]
    * (agreement): AUC = P(score_pos > score_neg) + ½·P(tie), the
    * tie-aware Mann-Whitney statistic, plus the Gini (2·AUC − 1).
    *
    * Scale shape: the pairwise definition collapses to counting, per
    * DISTINCT score s, pos_s · (negatives strictly below s) +
    * ½·pos_s·neg_s — so the data pass is ONE groupBy on the rounded
    * score (map-side combine), and the prefix "negatives below" runs
    * over the ≤10⁶-point score grid, NOT the corpus: scores block
    * into 32 fixed bins, the cumulative negative count windows
    * PARTITIONED per block, and block offsets come from the bounded
    * triangle join over block totals (the [[Events.eventsKsDrift]]
    * ECDF discipline — no single-partition global window anywhere).
    * The numerator doubles through integers (2·below + ties) so
    * summation is exact; only the final ratio is floating.
    */
  def qualityAuc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = TextAnalysis.qualitySignals(spark, dir)
      .groupBy("score")
      .agg(count(lit(1)).as("c"), sum("pos").as("p"))
      .withColumn("neg", col("c") - col("p"))
      .withColumn("blk", floor(col("score") * 32.0).cast("long"))
    val inBlk = byScore.withColumn("cumneg",
      sum("neg").over(Window.partitionBy("blk").orderBy("score")))
    val blkTot = byScore.groupBy("blk").agg(sum("neg").as("bneg"))
    val prefix = blkTot.as("a")
      .join(blkTot.as("b"), col("b.blk") < col("a.blk"), "left_outer")
      .groupBy(col("a.blk").as("blk"))
      .agg(coalesce(sum(col("b.bneg")), lit(0L)).as("pneg"))
    inBlk.join(broadcast(prefix), "blk")
      .withColumn("below", col("pneg") + col("cumneg") - col("neg"))
      .agg(
        sum("p").as("n_pos"), sum("neg").as("n_neg"),
        sum(col("p") * (lit(2L) * col("below") + col("neg"))).as("num2"))
      .select(col("n_pos"), col("n_neg"),
        round(col("num2").cast("double")
          / (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")),
          6).as("auc"))
      .withColumn("gini", round(lit(2.0) * col("auc") - lit(1.0), 6))
  }

  def qualityKappa(spark: SparkSession, dir: String): DataFrame = {
    TextAnalysis.qualitySignals(spark, dir)
      .select(col("pos").as("a"), col("keep").as("b"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
      .withColumn("po", (col("n11") + col("n00")).cast("double") / col("n"))
      // marginal products in doubles: n² and cell-count products
      // overflow BIGINT long before a 100 TB corpus does
      .withColumn("pe",
        ((col("n11") + col("n10")).cast("double") * (col("n11") + col("n01"))
          + (col("n01") + col("n00")).cast("double") * (col("n10") + col("n00")))
          / (col("n").cast("double") * col("n")))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        round(col("po"), 6).as("p_observed"),
        round(col("pe"), 6).as("p_chance"),
        round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6).as("kappa"))
  }

  /** Differentially-private count release over event types (ε = 1
    * Laplace mechanism): each group's true count is published with
    * additive Laplace(1/ε) noise — the standard DP release for
    * COUNT(*) queries, sensitivity 1. The noise draw is DERANDOMIZED
    * through the same md5 uniform-hash discipline as every sampler in
    * this engine (seeded by the group key + a release tag): u ∈
    * [0,1) → inverse-CDF Laplace −b·sgn(u−½)·ln(1−2|u−½|). A real
    * deployment would swap the hash for a CSPRNG per release; the
    * MECHANISM (sensitivity, scale, inverse-CDF transform, per-group
    * independence) is exactly what runs here, and determinism is
    * what makes the release oracle-checkable.
    *
    * Scale shape: one map-side-combining count by key, then pure
    * per-row arithmetic on the (tiny) group table — noise cost is
    * O(groups), independent of corpus size. The ln() argument is
    * clamped ≥ 1e-12 (u exactly 0 would be −∞; with an 8-hex-digit
    * uniform the clamp also bounds worst-case noise at ~27.6·b).
    */
  def privacyDpCounts(spark: SparkSession, dir: String,
                      epsilon: Double = 1.0): DataFrame = {
    val b = 1.0 / epsilon
    val cnt = Tables.events(spark, dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    cnt
      .withColumn("u", graft.functions.HexExprs.uniformHash(
        concat(col("event_type"), lit("#dp-release-1"))))
      .withColumn("shift", col("u") - lit(0.5))
      .withColumn("noise",
        -lit(b) * signum(col("shift")) *
          log(greatest(lit(1.0) - lit(2.0) * abs(col("shift")), lit(1e-12))))
      .select(
        col("event_type"), col("n").as("true_count"),
        lit(epsilon).as("epsilon"),
        round(col("noise"), 6).as("noise"),
        round(col("n") + col("noise"), 6).as("dp_count"))
      .orderBy("event_type")
  }

  /** Confident-learning label-noise estimate (Northcutt et al. 2021,
    * the Cleanlab confident joint) over the two quality signals: the
    * heuristic rule bucket as the NOISY label (textQuality 'ok' = 1)
    * and the model score as P(keep). Class thresholds are the
    * per-class mean self-confidence (t₁ = mean score among y=1,
    * t₀ = mean (1−score) among y=0); a doc joins cell (y, ĵ) when
    * its probability clears ĵ's threshold (argmax on clearing both,
    * tie at s=0.5 → class 1); docs clearing neither are the
    * 'unconfident' row (ĵ = −1, counted, not dropped — silent
    * exclusion would overstate confidence). The off-diagonal mass IS
    * the estimated label-error rate the curation pipeline should
    * audit.
    *
    * Scale shape: scores are already round(…,6), so s·10⁶ is an
    * exact integer — thresholds and comparisons run as EXACT BIGINT
    * cross-products (s_u6·n_c ≥ Σ_c), never a float mean: the sums
    * are map-side-combining aggregates, the 2×3 matrix is constant
    * -size, and the only doubles are the report-side shares.
    */
  def qualityConfidentJoint(spark: SparkSession, dir: String): DataFrame = {
    val d = TextAnalysis.qualitySignals(spark, dir)
      .select(col("score"), col("pos").as("y"))
      .withColumn("s_u6", round(col("score") * 1e6).cast("long"))
    val th = d.agg(
      sum(when(col("y") === 1L, col("s_u6"))).as("sum1"),
      sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n1"),
      sum(when(col("y") === 0L, lit(1000000L) - col("s_u6"))).as("sum0"),
      sum(when(col("y") === 0L, 1L).otherwise(0L)).as("n0"))
    val cells = d.crossJoin(broadcast(th))
      .withColumn("ok1", col("s_u6") * col("n1") >= col("sum1"))
      .withColumn("ok0",
        (lit(1000000L) - col("s_u6")) * col("n0") >= col("sum0"))
      .withColumn("j_hat",
        when(col("ok1") && col("ok0"),
          when(col("s_u6") >= lit(500000L), 1L).otherwise(0L))
          .when(col("ok1"), 1L)
          .when(col("ok0"), 0L)
          .otherwise(-1L))
      .groupBy(col("y").as("noisy_label"), col("j_hat").as("confident_label"))
      .agg(count(lit(1)).as("n"))
    val rowTot = cells.groupBy("noisy_label").agg(sum("n").as("n_row"))
    cells.join(rowTot, "noisy_label")
      .select(col("noisy_label"), col("confident_label"), col("n"),
        round(col("n").cast("double") / col("n_row"), 6).as("row_share"))
      .orderBy("noisy_label", "confident_label")
  }

  /** Keyed-hash pseudonymized analytics extract: the top-20 customers
    * by spend, identified only by a salted SHA-256 pseudonym — the
    * share-with-analysts form of a revenue leaderboard (the salt
    * lives with the data owner; without it the pseudonym is
    * irreversible, with it joins back to the CRM remain possible).
    * Complements [[privacyKanon]]/[[privacyLDiversity]] (which audit
    * disclosure risk) with the de-identification transform itself —
    * the reference's governance need when ABR entity extracts leave
    * the warehouse (dags/etl_pipeline.py's load stage).
    *
    * Scale shape: the per-customer spend is one map-side-combined
    * groupBy of orders; the customer join is broadcast-eligible at
    * dim scale and an equi-shuffle beyond; the pseudonym is a
    * projection (sha2 is codegen'd); top-20 is a TakeOrdered on a
    * (spend desc, pseudonym) total order — never a global sort.
    */
  def privacyPseudonymize(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("spend_c"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .join(spend, col("c_custkey") === col("o_custkey"))
      .select(
        substring(sha2(concat(lit("graft-pseudo:"),
          col("c_custkey").cast("string")), 256), 1, 16).as("pseudonym"),
        col("c_mktsegment"), col("n_orders"),
        round(col("spend_c").cast("double") / 100.0, 2).as("total_spend"))
      .orderBy(col("total_spend").desc, col("pseudonym"))
      .limit(20)
  }
}
