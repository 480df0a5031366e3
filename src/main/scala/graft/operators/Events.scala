package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Event-log operators: JSON extraction, tumbling-window rollups,
  * gap sessionization, per-user ranking. Reference pipelines log
  * per-stage events
  * (dags/etl_pipeline.py get_stage_logger) and store quality metrics
  * per run; this generalizes that to an event-analytics surface.
  *
  * Timestamps leave the operators as epoch-second BIGINTs so the
  * DuckDB oracle compares integers, never engine timestamp types.
  */
object Events {

  /** The growth family's shared (user, active-day) presence pin — one
    * corpus distinct serving six consumers (new-vs-returning, growth
    * accounting, stickiness, weekend effect, conversion p-chart,
    * retention half-life). Cached hash-partitioned on user_id: the
    * user-keyed consumers (first-day cohorts, per-user lag windows,
    * presence-cohort joins) all reuse the cache's partitioning and
    * skip their own exchange of the presence stream, while the
    * day-keyed consumers partial-aggregate to ~|days| rows per
    * partition before their exchange either way.
    */
  private def nvrPresence(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("nvr_presence", spark, dir) {
      Tables.events(spark, dir)
        .select(col("user_id"), expr("ts_s div 86400").as("day"))
        .distinct()
        .repartition(col("user_id"))
    }

  /** JSON property extraction + per-type stats. regexp-based so the
    * oracle needs no JSON extension; Spark side stays codegen'd.
    */
  def eventsJson(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("int"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("k").cast("long").as("sum_k"),
        round(avg("k"), 6).as("avg_k"),
        max("k").as("max_k"))
      .orderBy("event_type")
  }

  /** Tumbling 1-hour windows per event type, on the epoch-seconds
    * timeline (integer bucket arithmetic, identical in the oracle).
    */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy((expr("ts_s div 3600") * 3600).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("hour_ts", "event_type")
  }

  /** 30-minute-gap sessionization: lag + cumulative-sum of boundary
    * flags, all inside two window passes over the same (user_id, ts)
    * partitioning — one shuffle total.
    */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    // Second-resolution timeline: epoch seconds compare identically
    // across engines (no float micros round-trip).
    val e = Tables.events(spark, dir)
    val byUser = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    val gapFlag = when(
      col("ts_s") - lag("ts_s", 1).over(byUser) > 1800L, 1).otherwise(0)
    e.withColumn("new_session", gapFlag)
      .withColumn("session_idx", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts_s").as("session_start"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("user_id", "session_idx")
  }

  /** As-of join: each purchase event picks the user's most recent
    * signup event at-or-before it, on the custom AsofJoinExec
    * (graft.plans.AsofJoin): co-partitioned sort-merge, O(n+m) per
    * partition, one buffered row — instead of dragging every event
    * type through a whole-table window pass. The composite
    * (ts_s, event_id) time makes tie-ordering deterministic and
    * identical to the window formulation it replaced (pinned in
    * AsofJoinSpec).
    */
  def eventsAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_s")
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts_s").as("s_ts"),
        col("event_id").as("s_event"))
    graft.plans.AsofJoin(purchases, signups,
        Seq("user_id"), Seq("s_user"),
        Seq("ts_s", "event_id"), Seq("s_ts", "s_event"))
      .select(col("event_id"), col("user_id"),
        col("s_event").as("signup_event"),
        (col("ts_s") - col("s_ts")).as("gap_s"))
      .orderBy("event_id")
  }

  /** FORWARD as-of join: for each purchase, the same user's earliest
    * view at-or-after it, within a 1-hour tolerance — the
    * post-purchase re-engagement signal (did the buyer come back to
    * look?), and the forward direction of the same one-pass
    * co-partitioned merge as [[eventsAsofJoin]] (pandas
    * merge_asof(direction='forward', tolerance=...) semantics: an
    * out-of-tolerance match null-extends, it never falls back to a
    * farther row). Composite (ts_s, event_id) time keeps tie order
    * deterministic; tolerance gates on the ts_s delta.
    */
  def eventsAsofForward(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_s")
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts_s").as("v_ts"),
        col("event_id").as("v_event"))
    graft.plans.AsofJoin(purchases, views,
        Seq("user_id"), Seq("v_user"),
        Seq("ts_s", "event_id"), Seq("v_ts", "v_event"),
        direction = "forward", tolerance = 3600L)
      .select(col("event_id"), col("user_id"),
        col("v_event").as("view_event"),
        (col("v_ts") - col("ts_s")).as("lead_s"))
      .orderBy("event_id")
  }

  /** Per-user inter-event gaps + running value total (lag + running
    * sum over one shuffle).
    */
  def eventsLagDelta(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val ord = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("gap_s", col("ts_s") - lag("ts_s", 1).over(ord))
      .withColumn("running_value", round(sum("value").over(run), 2))
      .select("event_id", "user_id", "gap_s", "running_value")
      .orderBy("event_id")
  }

  /** Exact percentiles of event value per type (interpolated), via
    * the bounded-state broadcast-bin plan ([[ExactQuantiles]]) — a
    * native `percentile()` here would buffer corpus/|types| doubles
    * in one aggregation buffer, the lone aggregate shape that dies at
    * a 100× scale-up.
    */
  def eventsPercentiles(spark: SparkSession, dir: String): DataFrame = {
    // the quantile passes re-read their input; cache the 2-column
    // projection once (shared with events_anomaly_mad's median pass)
    val tv = graft.PlanCache.cached("events_type_value", spark, dir) {
      Tables.events(spark, dir).select(col("event_type"), col("value"))
    }
    val q = ExactQuantiles.percentiles(tv,
      Seq("event_type"), "value", Seq(0.5, 0.9, 0.99))
    q.groupBy("event_type").agg(
        round(max(when(col("p") === 0.5, col("q"))), 6).as("p50"),
        round(max(when(col("p") === 0.9, col("q"))), 6).as("p90"),
        round(max(when(col("p") === 0.99, col("q"))), 6).as("p99"))
      .orderBy("event_type")
  }

  /** Conversion latency: per converting user, seconds from first
    * signup to the first purchase at-or-after it, summarized as
    * exact interpolated percentiles — the time-to-convert companion
    * of [[eventsFunnel]]'s stage counts. Plan: one filtered
    * aggregation per stage, an equi-join on the user, a per-user min,
    * and a single global summary row.
    */
  def eventsFunnelTime(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val su = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_s").as("t0"))
    val pu = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_s"))
    // the per-user delta reduction feeds the summary aggregate AND the
    // bounded-state quantile passes — cache it so it runs once
    val d = graft.PlanCache.cached("funnel_time_delta", spark, dir) {
      su.join(pu, "user_id")
        .filter(col("ts_s") >= col("t0"))
        .groupBy("user_id").agg(min(col("ts_s") - col("t0")).as("delta_s"))
    }
    val qs = ExactQuantiles.percentiles(d, Seq.empty, "delta_s", Seq(0.5, 0.9))
      .agg(round(max(when(col("p") === 0.5, col("q"))), 6).as("p50_s"),
        round(max(when(col("p") === 0.9, col("q"))), 6).as("p90_s"))
    d.agg(count(lit(1)).as("n_converters"), max("delta_s").as("max_s"))
      .crossJoin(broadcast(qs))
      .select("n_converters", "p50_s", "p90_s", "max_s")
  }

  /** Funnel: users progressing signup → view → purchase in timestamp
    * order. One aggregation pass per user (min event time per stage),
    * stage ordering checked on the aggregated row.
    */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val stages = e.groupBy("user_id").agg(
      min(when(col("event_type") === "signup", col("ts_s"))).as("t_signup"),
      min(when(col("event_type") === "view", col("ts_s"))).as("t_view"),
      min(when(col("event_type") === "purchase", col("ts_s"))).as("t_purchase"))
    stages.select(
      col("user_id"),
      col("t_signup").isNotNull.as("reached_signup"),
      (col("t_signup").isNotNull && col("t_view").isNotNull &&
        col("t_view") >= col("t_signup")).as("reached_view"),
      (col("t_signup").isNotNull && col("t_view").isNotNull &&
        col("t_purchase").isNotNull && col("t_view") >= col("t_signup") &&
        col("t_purchase") >= col("t_view")).as("reached_purchase"))
      .orderBy("user_id")
  }

  /** Kaplan-Meier time-to-conversion survival curve: for day offsets
    * t = 0..30 after signup, the fraction of signed-up users still
    * unconverted — WITH right-censoring (a user whose observation
    * window [signup, corpus end] is shorter than t leaves the
    * at-risk set instead of counting as a survivor — the estimator
    * that stays unbiased when cohorts have unequal follow-up).
    * Per offset: n_risk, n_events, hazard d/n, and
    * S(t) = Π_{s≤t}(1 − h_s) via exp(Σ ln(1−h)) — the identical
    * float expression in both engines.
    *
    * Scale shape: per-user duration/event flags are two aggregations
    * and a join on user_id with the corpus horizon on a broadcast
    * one-row cross join; everything after operates on the BOUNDED
    * per-day-offset count table (≤ observation-span rows): at-risk
    * suffix sums and the cumulative-hazard product are broadcast
    * triangle joins over ≤31-row relations (the customer_pareto
    * discipline — no unpartitioned window anywhere, no per-user data
    * past the first aggregate).
    */
  def eventsSurvival(spark: SparkSession, dir: String): DataFrame = {
    val horizon = 30
    val e = Tables.events(spark, dir).select("user_id", "event_type", "ts_s")
    val maxTs = e.agg(max("ts_s").as("max_ts"))
    val su = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_s").as("t0"))
    val pu = e.filter(col("event_type") === "purchase").join(su, "user_id")
      .filter(col("ts_s") >= col("t0"))
      .groupBy("user_id").agg(min("ts_s").as("tp"))
    val durs = su.join(pu, Seq("user_id"), "left")
      .crossJoin(broadcast(maxTs))
      .select(
        when(col("tp").isNotNull, expr("(tp - t0) div 86400"))
          .otherwise(expr("(max_ts - t0) div 86400")).as("dur"),
        when(col("tp").isNotNull, lit(1L)).otherwise(lit(0L)).as("ev"))
    // bounded per-day-offset table: one row per distinct duration
    val dc = durs.groupBy("dur")
      .agg(sum("ev").as("d"), count(lit(1)).as("c"))
    val grid = spark.range(0, horizon + 1).select(col("id").as("t"))
    // d_t exact-match; n_t = suffix sum (dur >= t) — triangle join
    // over the broadcast bounded count table
    val byT = grid.join(broadcast(dc), col("dur") >= col("t"), "left")
      .groupBy("t")
      .agg(coalesce(sum(when(col("dur") === col("t"), col("d"))), lit(0L)).as("n_events"),
        coalesce(sum("c"), lit(0L)).as("n_risk"))
    val withH = byT.select(col("t"), col("n_risk"), col("n_events"),
      when(col("n_risk") > 0,
        col("n_events").cast("double") / col("n_risk").cast("double")).as("h"))
    val hs = withH.select(col("t").as("s"), col("h").as("hs"))
    // h = 1 (everyone at risk converts that day) kills the curve to
    // exactly 0 via an explicit flag — ln(0) is NULL in Spark but
    // -inf in DuckDB, so the log-sum identity must never see it
    withH.join(broadcast(hs), col("s") <= col("t"))
      .groupBy("t", "n_risk", "n_events", "h")
      .agg(sum(when(col("hs") < 1.0, log(lit(1.0) - col("hs")))).as("lnS"),
        max(when(col("hs") === 1.0, 1L).otherwise(0L)).as("dead"))
      .select(col("t"), col("n_risk"), col("n_events"),
        round(col("h"), 6).as("hazard"),
        round(when(col("dead") === 1L, lit(0.0))
          .otherwise(exp(coalesce(col("lnS"), lit(0.0)))), 6).as("survival"))
      .orderBy("t")
  }

  /** WINDOWED funnel with per-step timeouts (the ClickHouse
    * `windowFunnel` / Amplitude conversion-window semantic):
    * signup → first view within 7 days OF THE SIGNUP → first
    * purchase within 7 days OF THAT VIEW. Unlike [[eventsFunnel]]
    * (order-only), a user who converts months later does NOT count —
    * the funnel measures activation, not eventual behavior. Output:
    * one row per signed-up user with the qualifying stage times and
    * reach flags.
    *
    * Scale shape: three stage aggregations chained by per-user
    * equi-joins — each stage is a conditional min against the
    * PREVIOUS stage's anchor time (no windows at all, no event
    * self-join; every join and aggregate shuffles on user_id, and
    * AQE reuses that partitioning across the chain).
    */
  def eventsFunnelWindowed(spark: SparkSession, dir: String): DataFrame = {
    val week = 7L * 86400L
    val e = graft.PlanCache.cached("funnel_w_events", spark, dir) {
      Tables.events(spark, dir).select("user_id", "event_type", "ts_s")
    }
    val su = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_s").as("t_signup"))
    val vw = e.filter(col("event_type") === "view").join(su, "user_id")
      .filter(col("ts_s") >= col("t_signup") &&
        col("ts_s") <= col("t_signup") + week)
      .groupBy("user_id").agg(min("ts_s").as("t_view"))
    val pu = e.filter(col("event_type") === "purchase")
      .join(vw, "user_id")
      .filter(col("ts_s") >= col("t_view") &&
        col("ts_s") <= col("t_view") + week)
      .groupBy("user_id").agg(min("ts_s").as("t_purchase"))
    su.join(vw, Seq("user_id"), "left")
      .join(pu, Seq("user_id"), "left")
      .select(col("user_id"), col("t_signup"), col("t_view"), col("t_purchase"),
        col("t_view").isNotNull.as("reached_view"),
        col("t_purchase").isNotNull.as("reached_purchase"))
      .orderBy("user_id")
  }

  /** Day-N retention: cohort = first-seen day per user; for each
    * (cohort_day, day_offset) the count of distinct active users.
    */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("day", expr("ts_s div 86400"))
    val cohort = e.groupBy("user_id").agg(min("day").as("cohort_day"))
    e.join(cohort, "user_id")
      .withColumn("day_offset", col("day") - col("cohort_day"))
      .filter(col("day_offset") <= 7)
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Moving 1-hour average of event values per user — a RANGE frame
    * over the epoch-second timeline (not row-count based).
    */
  def eventsMovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val frame = Window.partitionBy("user_id").orderBy("ts_s")
      .rangeBetween(-3600L, 0L)
    e.withColumn("avg_1h", round(avg("value").over(frame), 6))
      .select("event_id", "user_id", "avg_1h")
      .orderBy("event_id")
  }

  /** Robust outlier scan via median absolute deviation: per event
    * type, median and MAD of the value, then every event whose
    * |value − median| exceeds k·MAD — the robust companion of the
    * 3σ z-score scan ([[eventsZscore]]), immune to the outliers it
    * hunts inflating the threshold. Both medians are exact
    * interpolated quantiles through the bounded-state broadcast-bin
    * plan ([[ExactQuantiles]] — no per-type value buffering); the
    * scan itself is a map-side filter against the broadcast 5-row
    * (median, MAD) table.
    */
  def eventsAnomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val tv = graft.PlanCache.cached("events_type_value", spark, dir) {
      e.select(col("event_type"), col("value"))
    }
    val med = ExactQuantiles.percentiles(tv,
      Seq("event_type"), "value", Seq(0.5))
      .select(col("event_type"), col("q").as("med_raw"))
    // absdev embeds the full median pass — cache it so the MAD
    // quantile's own multi-pass plan computes the medians once
    val dev = graft.PlanCache.cached("anomaly_mad_absdev", spark, dir) {
      tv.join(broadcast(med), "event_type")
        .withColumn("absdev", abs(col("value") - col("med_raw")))
    }
    val mad = ExactQuantiles.percentiles(
      dev.select(col("event_type"), col("absdev")),
      Seq("event_type"), "absdev", Seq(0.5))
      .select(col("event_type"), round(col("q"), 6).as("mad"))
      .join(med.select(col("event_type"), round(col("med_raw"), 6).as("med")),
        "event_type")
    e.join(broadcast(mad), "event_type")
      .withColumn("dev", round(abs(col("value") - col("med")), 6))
      .filter(col("dev") > lit(8.0) * col("mad"))
      .select(col("event_id"), col("event_type"),
        round(col("value"), 6).as("value"), col("med"), col("mad"), col("dev"))
      .orderBy("event_id")
  }

  /** DAU / WAU / stickiness: distinct active users per day and per
    * 7-day bucket, with stickiness = dau/wau per day — the
    * engagement rollup every event pipeline reports. Two exact
    * distinct aggregations on the integer day/week timeline plus a
    * broadcast-scale join of the tiny per-period tables.
    */
  def eventsDauWau(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .select(expr("ts_s div 86400").as("day"), col("user_id"))
    val dau = d.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val wau = d.withColumn("week", expr("day div 7"))
      .groupBy("week").agg(countDistinct("user_id").as("wau"))
    dau.withColumn("week", expr("day div 7"))
      .join(wau, "week")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))
      .orderBy("day")
  }

  /** Fixed-width value histogram per event type — the distribution
    * profiling pass run before choosing quality thresholds. Bins are
    * integer arithmetic (floor(value/width)), so the whole histogram
    * is one map-side-combined aggregation — no sort, no sketch
    * needed, identical across engines.
    */
  def eventsHistogram(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(col("event_type"),
        floor(col("value") / 10.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bin")
  }

  /** Per-type z-score outliers: flag events whose value deviates
    * > 3σ from their type's mean. Mean/std come from one aggregation
    * (population σ via E[x²]−E[x]² — a single pass, no second scan),
    * broadcast back onto the stream — the anomaly-scan shape over any
    * event volume.
    */
  def eventsZscore(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val stats = e.groupBy("event_type").agg(
      (sum("value") / count(lit(1))).as("mu"),
      sqrt((sum(col("value") * col("value")) / count(lit(1))) -
        (sum("value") / count(lit(1))) * (sum("value") / count(lit(1)))).as("sigma"))
    e.join(broadcast(stats), "event_type")
      .withColumn("z", round((col("value") - col("mu")) / col("sigma"), 6))
      .filter(abs(col("z")) >= 3.0)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy("event_id")
  }

  /** Range join, binned: each purchase joined to the same user's
    * events in the preceding hour, aggregated per purchase. A naive
    * inequality join is a per-key cartesian (the optimizer can only
    * nested-loop a pure range predicate); bucketizing the timeline
    * into width-3600 bins turns it into an equi-join on (user, bin)
    * where each purchase probes exactly two bins — candidate pairs
    * stay bounded per task at any event volume. This is the standard
    * binned band-join pattern; the bin width equals the band width so
    * every qualifying pair lands in exactly one candidate bin.
    */
  def eventsRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_s"))
      .withColumn("bin", explode(array(expr("ts_s div 3600"), expr("ts_s div 3600 - 1"))))
    val others = e.select(col("user_id").as("r_user"), col("ts_s").as("r_ts"), col("value"))
      .withColumn("rbin", expr("r_ts div 3600"))
    purchases.join(others,
        col("user_id") === col("r_user") && col("bin") === col("rbin"))
      .filter(col("r_ts") >= col("ts_s") - 3600 && col("r_ts") < col("ts_s"))
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_prior"), round(sum("value"), 2).as("sum_prior"))
      .orderBy("event_id")
  }

  /** Growth accounting: per day, active users split into NEW (first
    * day ever) vs RETURNING — the DAU decomposition every growth
    * dashboard leads with. First-day per user is one min-aggregate
    * (map-side combinable, no window); the daily rollup joins the
    * (user, day) presence pairs against the broadcast-size first-day
    * relation on user_id — both relations already partitioned by
    * user after their aggregates.
    */
  def eventsNewVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val presence = nvrPresence(spark, dir)
    val firstDay = presence.groupBy("user_id").agg(min("day").as("first_day"))
    presence.join(firstDay, "user_id")
      .groupBy("day")
      .agg(
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("new_users"),
        sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L)).as("returning_users"))
      .withColumn("dau", col("new_users") + col("returning_users"))
      .orderBy("day")
  }

  /** LINEAR multi-touch attribution — the credit-splitting complement
    * of [[eventsAttribution]]'s last-touch rule: every view/click in
    * the 30 minutes before a purchase shares that purchase's value
    * equally, rolled up per channel (touch type). Marketing teams run
    * last-touch and linear side by side; the delta IS the headline.
    *
    * Scale shape: the purchase×touch pairing is the binned band join
    * ([[eventsRangeJoin]]'s layout — (user, time-bin) equi-join, two
    * bins probed per purchase, never an inequality nested loop);
    * per-purchase touch counts come from a purchase-PARTITIONED
    * window over the already-joined pairs (bounded by touches per
    * purchase window), and the channel rollup is one key-only
    * aggregation.
    */
  def eventsAttributionLinear(spark: SparkSession, dir: String): DataFrame = {
    val windowS = 1800L
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts_s"), col("value"))
      .withColumn("bin", explode(array(
        expr(s"ts_s div $windowS"), expr(s"ts_s div $windowS - 1"))))
    val touches = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_user"), col("event_type").as("channel"),
        col("ts_s").as("t_ts"))
      .withColumn("tbin", expr(s"t_ts div $windowS"))
    val pairs = purchases.join(touches,
        col("user_id") === col("t_user") && col("bin") === col("tbin"))
      .filter(col("t_ts") >= col("ts_s") - windowS && col("t_ts") < col("ts_s"))
      .select(col("p_id"), col("value"), col("channel"))
    val perPurchase = Window.partitionBy("p_id")
    pairs
      .withColumn("credit", col("value") / count(lit(1)).over(perPurchase))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_touches"),
        round(sum("credit"), 6).as("credited_revenue"))
      .orderBy("channel")
  }

  /** Top-10 users by purchase value (deterministic key tiebreak on the
    * rounded measure), planned as TakeOrderedAndProject — at web scale
    * the user dimension is huge, so a global-window rank would funnel
    * every user row into one partition.
    */
  def eventsTopUsers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).filter(col("event_type") === "purchase")
    val agg = e.groupBy("user_id")
      .agg(round(sum("value"), 2).as("purchase_total"), count(lit(1)).as("n_purchases"))
    graft.functions.TopK.globalWithRank(agg, 10,
      col("purchase_total").desc, col("user_id"))
  }

  /** 7-day sliding distinct users per day ("rolling DAU"): each
    * (day, user) presence pair contributes to the 7 target days it
    * falls inside, so the window is an EXPLODE of a constant 7
    * offsets — never a self-join of the event table against a date
    * range or a global sliding sort. Presence pairs are deduped first
    * (one row per user-day regardless of event volume), so the
    * exploded stream is bounded by 7·|user-days|, and the final
    * count-distinct shuffles on the day key.
    */
  def eventsSlidingDau(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val du = e.select(expr("ts_s div 86400").as("day_idx"), col("user_id"))
      .distinct()
    // bound the exploded windows to the observed timeline: without
    // it, the last day's presence pairs project 6 phantom "future"
    // days whose shrinking tails read as a DAU decline
    val maxd = du.agg(max("day_idx").as("maxd"))
    du.select(explode(expr("sequence(0, 6)")).as("off"),
        col("day_idx"), col("user_id"))
      .select((col("day_idx") + col("off")).as("day"), col("user_id"))
      .crossJoin(broadcast(maxd))
      .filter(col("day") <= col("maxd"))
      .groupBy("day")
      .agg(countDistinct("user_id").as("dau7"))
      .orderBy("day")
  }

  /** Time-series gap fill: densify each event type's hourly count
    * series over its own [min, max] hour range and forward-fill the
    * missing hours from the latest observed hour — the resample/
    * step-interpolation pass dashboards and feature pipelines need
    * before windowed math. The fill IS an as-of join (grid hour ←
    * latest observed hour ≤ it), so it runs on the custom
    * AsofJoinExec: co-partitioned by event_type, one sorted merge per
    * partition, O(grid + observed) — never a per-gap backward scan.
    * The grid is timeline-bounded (hours × |types|), constant in
    * event VOLUME — densification cost does not grow with data.
    */
  def eventsGapFill(spark: SparkSession, dir: String): DataFrame = {
    val hourly = graft.PlanCache.cached("gapfill_hourly", spark, dir) {
      Tables.events(spark, dir)
        .groupBy(col("event_type"), expr("ts_s div 3600").as("h"))
        .agg(count(lit(1)).as("n"))
    }
    val grid = hourly.groupBy("event_type")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1)")).as("h"))
    val observed = hourly.select(
      col("event_type").as("etype"), col("h").as("hr"), col("n"))
    graft.plans.AsofJoin(grid, observed,
        Seq("event_type"), Seq("etype"), Seq("h"), Seq("hr"))
      .select(col("event_type"), col("h").as("hour"),
        when(col("hr") === col("h"), col("n")).otherwise(lit(0L)).as("n_observed"),
        col("n").as("n_filled"),
        (col("hr") =!= col("h")).cast("int").as("is_gap"))
      .orderBy("event_type", "hour")
  }

  /** Event-path transition matrix: for each consecutive pair of
    * events per user, count (from_type → to_type) and its share of
    * all transitions LEAVING from_type — the first-order Markov model
    * behind funnel discovery / next-action analytics. The lead window
    * is PARTITIONED per user (bounded state, shuffles on user_id);
    * the share window runs over the aggregated |types|² matrix, which
    * is constant-size regardless of event volume.
    */
  def eventsPathTransitions(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val byUser = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    val pairs = e
      .withColumn("to_type", lead("event_type", 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
    pairs.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .withColumn("p", round(
        col("n").cast("double")
          / sum("n").over(Window.partitionBy("from_type")).cast("double"), 6))
      .orderBy("from_type", "to_type")
  }

  /** Cohort LTV matrix: users grouped by first-seen week, revenue per
    * (cohort_week, week_offset) cell, normalized by cohort size — the
    * lifetime-value companion of [[eventsRetention]]'s activity
    * matrix. Cohorts come from ALL events (first touch), revenue from
    * purchases only. The per-user first-seen aggregate and the
    * purchase join both shuffle on user_id (fact-sized, stable key);
    * cohort sizes are |weeks| rows → broadcast back onto the matrix.
    */
  def eventsCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("week", expr("ts_s div 604800"))
    val cohort = e.groupBy("user_id").agg(min("week").as("cohort_week"))
    val sizes = cohort.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    e.filter(col("event_type") === "purchase")
      .join(cohort, "user_id")
      .withColumn("week_offset", col("week") - col("cohort_week"))
      .groupBy("cohort_week", "week_offset")
      .agg(
        round(sum("value"), 2).as("revenue"),
        countDistinct("user_id").as("n_buyers"))
      .join(broadcast(sizes), "cohort_week")
      .withColumn("ltv_per_user",
        round(col("revenue") / col("cohort_size"), 6))
      .select("cohort_week", "week_offset", "revenue", "n_buyers",
        "cohort_size", "ltv_per_user")
      .orderBy("cohort_week", "week_offset")
  }

  /** Per-user feature vector — the feature-store aggregation every
    * behavioral-ML pipeline materializes: activity counts per event
    * type (fixed pinned set → plain conditional sums, no pivot
    * discovery pass), span, distinct active days, purchase value.
    * ONE groupBy over the stream; every aggregate except the single
    * distinct-day count partial-aggregates map-side, and that one is
    * a two-phase distinct (no Expand — it is the only distinct).
    */
  def eventsUserProfile(spark: SparkSession, dir: String): DataFrame = {
    def n(t: String) =
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_${t}s")
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(expr("ts_s div 86400")).as("active_days"),
        min("ts_s").as("first_s"),
        max("ts_s").as("last_s"),
        n("purchase"), n("view"), n("click"), n("signup"), n("error"),
        round(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(0.0)), 2).as("purchase_value"))
      .orderBy("user_id")
  }

  /** Last-touch revenue attribution: every purchase is credited to the
    * latest prior view/click by the same user (the standard marketing
    * attribution model), then revenue rolls up per attributed channel.
    * The latest-prior lookup is the custom AsofJoinExec — co-partitioned
    * sort-merge, O(n+m) per partition, one buffered row — NOT a
    * window over the full event stream. Purchases with no prior touch
    * land in an explicit `unattributed` bucket (silently dropping them
    * would overstate every channel's share). Output is |channels|+1
    * rows; the share denominator is a broadcast one-row aggregate.
    */
  def eventsAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_s"), col("value"))
    val touches = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_user"), col("ts_s").as("t_ts"),
        col("event_id").as("t_event"), col("event_type").as("t_type"))
    val attributed = graft.plans.AsofJoin(purchases, touches,
        Seq("user_id"), Seq("t_user"),
        Seq("ts_s", "event_id"), Seq("t_ts", "t_event"))
      .withColumn("channel", coalesce(col("t_type"), lit("unattributed")))
    val perChannel = attributed.groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum("value"), 2).as("revenue"))
    val total = attributed.agg(round(sum("value"), 2).as("tot"))
    perChannel.crossJoin(broadcast(total))
      .select(col("channel"), col("n_purchases"), col("revenue"),
        round(col("revenue") / col("tot"), 6).as("rev_share"))
      .orderBy("channel")
  }

  /** Per-user inter-arrival burstiness: the dispersion statistics of
    * the gaps between a user's consecutive events — coefficient of
    * variation (σ/μ) and the Goh–Barabási burstiness index
    * B = (σ−μ)/(σ+μ) ∈ [−1, 1] (−1 = perfectly periodic, 0 =
    * Poisson, →1 = heavy-tailed bursts). The bot/automation
    * complement to [[eventsBotDetect]]: a CV ≈ 0 user is a cron job
    * no matter how slow, a B → 1 user is a scraper burst.
    *
    * Scale shape: ONE user-partitioned lag window (bounded state per
    * key — the [[eventsSessionize]] discipline, total order by
    * (ts_s, event_id)), then one per-user aggregate. Gaps are
    * epoch-second BIGINTs, so n, Σg, Σg² are EXACT integers and
    * μ/σ²  derive from the integer sums in one step — no
    * order-dependent float accumulation; only the final three ratios
    * are floating, rounded once.
    */
  def eventsBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val byUser = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    val gaps = e
      .withColumn("gap", col("ts_s") - lag("ts_s", 1).over(byUser))
      .filter(col("gap").isNotNull)
    gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum("gap").as("sg"), sum(col("gap") * col("gap")).as("sg2"))
      // ≥2 gaps for a defined σ; Σg > 0 keeps μ off zero (an
      // all-same-second user would make cv 0/0 — engine-dependent NaN)
      .filter(col("n_gaps") >= 2 && col("sg") > 0)
      // population moments from the exact integer sums:
      // μ = Σg/n, σ² = (n·Σg² − (Σg)²)/n²
      .withColumn("mu", col("sg").cast("double") / col("n_gaps"))
      .withColumn("sigma", sqrt(
        (col("n_gaps") * col("sg2") - col("sg") * col("sg")).cast("double"))
        / col("n_gaps"))
      .select(col("user_id"), col("n_gaps"),
        round(col("mu"), 6).as("mean_gap_s"),
        round(col("sigma"), 6).as("sd_gap_s"),
        round(col("sigma") / col("mu"), 6).as("cv"),
        round((col("sigma") - col("mu")) / (col("sigma") + col("mu")), 6)
          .as("burstiness"))
      .orderBy("user_id")
  }

  /** Session-size distribution: sessions re-derived with the same
    * 30-minute-gap rule as [[eventsSessionize]], then bucketed by
    * event count (1 / 2-4 / 5-9 / 10+) with per-bucket session counts,
    * mean duration and mean size — the bounce-rate / engagement-depth
    * report product analytics runs daily. The windows are user-
    * partitioned (bounded state per key at any scale); the output is
    * 4 rows regardless of volume.
    */
  def eventsSessionStats(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val byUser = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    val sessions = e
      .withColumn("new_session", when(
        col("ts_s") - lag("ts_s", 1).over(byUser) > 1800L, 1).otherwise(0))
      .withColumn("session_idx", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        (max("ts_s") - min("ts_s")).as("duration_s"))
    sessions
      .withColumn("bucket",
        when(col("n_events") === 1, "1")
          .when(col("n_events") <= 4, "2-4")
          .when(col("n_events") <= 9, "5-9")
          .otherwise("10+"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_sessions"),
        round(avg("n_events"), 6).as("avg_events"),
        round(avg("duration_s"), 6).as("avg_duration_s"))
      .orderBy("bucket")
  }

  /** Hour-of-week activity heatmap: event counts and value mass per
    * (day-of-week, hour-of-day) cell — the traffic-shape report behind
    * capacity planning and send-time optimization. Day/hour come from
    * pure integer epoch arithmetic ((days+4) mod 7 pins 0=Sunday via
    * 1970-01-01 being a Thursday) — no calendar functions, whose
    * week-start conventions differ across engines. ONE
    * map-side-combined aggregate; output is ≤ 168 cells at any scale.
    */
  def eventsHeatmap(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("dow", expr("((ts_s div 86400) + 4) % 7"))
      .withColumn("hour", expr("(ts_s % 86400) div 3600"))
      .groupBy("dow", "hour")
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("value_sum"))
      .orderBy("dow", "hour")

  /** Seasonal volume anomalies: each absolute hour's event count is
    * z-scored against the BASELINE for its hour-of-week slot (mean /
    * sample-std of the same slot across all weeks) — the
    * seasonality-aware twin of [[eventsZscore]]: a quiet Sunday 3am
    * hour is not an anomaly just because Monday noon is busy, and a
    * Monday-noon outage is one even when its raw count beats the
    * weekly average. Two bounded aggregations (per-hour counts, then
    * ≤168 slot baselines joined back broadcast-size) and a top-20 by
    * |z| — no window over the event stream itself.
    */
  def eventsSeasonal(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .withColumn("hour_ts", expr("(ts_s div 3600) * 3600"))
      .groupBy("hour_ts")
      .agg(count(lit(1)).as("n_events"))
      .withColumn("slot", expr("(hour_ts % 604800) div 3600"))
    val base = hourly.groupBy("slot")
      .agg(round(avg(col("n_events").cast("double")), 6).as("slot_mean"),
        round(stddev_samp(col("n_events").cast("double")), 6).as("slot_std"))
    val scored = hourly.join(broadcast(base), "slot")
      .filter(col("slot_std") > 0.0)
      .withColumn("z", round(
        (col("n_events").cast("double") - col("slot_mean")) / col("slot_std"), 6))
      .select(col("hour_ts"), col("slot"), col("n_events"),
        col("slot_mean"), col("z"))
    graft.functions.TopK.globalWithRank(scored, 20,
      abs(col("z")).desc, col("hour_ts"))
  }

  /** Exponentially time-decayed engagement score per user: each
    * event contributes value · exp(−Δt/τ) with Δt measured back from
    * the corpus horizon (max event time) and τ = 7 days — the
    * recency-weighted activity feature behind churn models and
    * ranking freshness, where yesterday's purchase outweighs last
    * month's. Top-20 users by decayed score.
    *
    * Scale shape: the horizon is ONE broadcast row (max is
    * order-independent — no rounding needed before use); the decay
    * weight is then pure map-side math folded into a single user
    * aggregation, and top-20 is TakeOrdered heaps. One shuffle total,
    * nothing grows with history except the scan.
    */
  def eventsDecayedScore(spark: SparkSession, dir: String): DataFrame = {
    val tau = 7.0 * 86400
    val e = Tables.events(spark, dir)
    val horizon = e.agg(max("ts_s").as("h"))
    val scored = e.crossJoin(broadcast(horizon))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value") *
          exp((col("ts_s") - col("h")).cast("double") / tau)), 6)
          .as("decayed_score"))
    graft.functions.TopK.globalWithRank(scored, 20,
      col("decayed_score").desc, col("user_id"))
  }

  /** Key-distribution skew report over the event stream's natural
    * shuffle key (user_id): key count, hottest-key share, top-10
    * share, Shannon entropy, and the hot/avg skew ratio — the
    * numbers that decide whether a groupBy/join on this key needs
    * salting ([[graft.functions.Skew]]) or AQE skew splitting before
    * it ships. Run it BEFORE the expensive job, not after the one
    * straggler task reveals the answer.
    *
    * Scale shape: one map-combinable groupBy produces the per-key
    * counts (cached — four summary branches read it); everything
    * downstream is a constant-size aggregate, a TakeOrdered top-10,
    * or a broadcast one-row cross join. Output is ONE row regardless
    * of volume.
    */
  def eventsKeySkew(spark: SparkSession, dir: String): DataFrame = {
    val k = graft.PlanCache.cached("key_skew_counts", spark, dir) {
      Tables.events(spark, dir).groupBy("user_id").agg(count(lit(1)).as("c"))
    }
    val tot = k.agg(sum("c").as("n_rows"), count(lit(1)).as("n_keys"))
    val top10 = k.orderBy(col("c").desc, col("user_id")).limit(10)
      .agg(sum("c").as("top10"))
    val mx = k.agg(max("c").as("mc"))
    val ent = k.crossJoin(broadcast(tot))
      .select((col("c").cast("double") / col("n_rows").cast("double")).as("p"))
      .agg((-sum(col("p") * log(col("p")))).as("ent"))
    tot.crossJoin(broadcast(mx)).crossJoin(broadcast(top10)).crossJoin(broadcast(ent))
      .select(col("n_keys"), col("n_rows"),
        round(col("mc").cast("double") / col("n_rows").cast("double"), 6).as("max_share"),
        round(col("top10").cast("double") / col("n_rows").cast("double"), 6).as("top10_share"),
        round(col("ent"), 6).as("entropy"),
        round(col("mc").cast("double") * col("n_keys").cast("double")
          / col("n_rows").cast("double"), 6).as("skew_ratio"))
  }

  /** Conversion detection (a CEP state machine): a purchase
    * converts the SAME user's most recent prior view within `windowS`
    * seconds, one credit per view. The sequential state machine
    * (view replaces pending; a qualifying purchase consumes it; any
    * later purchase finds it gone) has a closed form over the
    * user-ordered event sequence — purchase p converts with view v iff
    * v is the latest view before p AND no purchase sits between v and
    * p AND p.ts - v.ts ≤ windowS — so the whole detector is two
    * IGNORE-NULLS running `last` windows (prior view, prior purchase)
    * over one user-partitioned sort, no self-join, no state. Bounded
    * per-key window state at any scale.
    */
  def eventsConversions(spark: SparkSession, dir: String): DataFrame =
    eventsConversions(spark, dir, windowS = 1800L)

  def eventsConversions(spark: SparkSession, dir: String, windowS: Long): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_s"))
    // strictly-prior frame: the current row must not see itself (a
    // purchase is its own worst predecessor)
    val prior = Window.partitionBy("user_id")
      .orderBy(col("ts_s"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val w = e
      .withColumn("pv_ts", last(when(col("event_type") === "view", col("ts_s")), ignoreNulls = true).over(prior))
      .withColumn("pv_id", last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(prior))
      .withColumn("pp_ts", last(when(col("event_type") === "purchase", col("ts_s")), ignoreNulls = true).over(prior))
      .withColumn("pp_id", last(when(col("event_type") === "purchase", col("event_id")), ignoreNulls = true).over(prior))
    w.filter(col("event_type") === "purchase" && col("pv_ts").isNotNull &&
        (col("pp_ts").isNull ||
          struct(col("pp_ts"), col("pp_id")) < struct(col("pv_ts"), col("pv_id"))) &&
        col("ts_s") - col("pv_ts") <= windowS)
      .select(col("user_id"), col("pv_id").as("view_event"),
        col("event_id").as("purchase_event"),
        (col("ts_s") - col("pv_ts")).as("latency_s"))
      .orderBy("purchase_event")
  }

  /** Bot / automated-traffic detector: per-user behavioral features —
    * event volume, events per ACTIVE minute, single-minute burst
    * ceiling, and inter-event-gap regularity (coefficient of
    * variation) — with a flag on suspiciously REGULAR cadence
    * (cv ≤ 0.8 on the rounded value; organic arrivals are
    * exponential-ish, cv ≈ 1, schedulers and scrapers are clocked).
    * The filter every crawl-sourced training corpus runs before
    * trusting engagement signals.
    *
    * Scale shape: gaps come from a per-USER partitioned lag window
    * (bounded state, shuffles once on user_id); the burst ceiling is
    * a (user, minute) pre-aggregate rolled up to its max — key-only
    * shuffles with map-side combine, and every later join is
    * per-user against relations already partitioned by user_id.
    */
  def eventsBotDetect(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_s"))
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_s"), col("event_id"))
    val gaps = e
      .withColumn("gap", (col("ts_s") - lag(col("ts_s"), 1).over(byUser)).cast("double"))
      .filter(col("gap").isNotNull)
      .groupBy("user_id")
      .agg(
        (sum("gap") / count(lit(1))).as("mean_gap"),
        sqrt((sum(col("gap") * col("gap")) / count(lit(1))) -
          (sum("gap") / count(lit(1))) * (sum("gap") / count(lit(1)))).as("sd_gap"))
    val burst = e.groupBy(col("user_id"), (col("ts_s") / 60).cast("long").as("m"))
      .agg(count(lit(1)).as("c"))
      .groupBy("user_id").agg(max("c").as("max_burst_min"))
    val base = e.groupBy("user_id").agg(
      count(lit(1)).as("n_events"),
      countDistinct((col("ts_s") / 60).cast("long")).as("active_minutes"))
    // LEFT join the gap stats: single-event users have no gaps but
    // must still appear in the report (null cadence features), and a
    // user whose burst is entirely within one second has mean_gap=0 —
    // the cv ratio is undefined there, yet that is the MOST clocked
    // cadence of all, so sd_gap=0 flags directly. cv is emitted only
    // when mean_gap>0 (explicit, engine-portable null instead of NaN).
    // The sd_gap=0 clause requires ≥2 gaps (n_events ≥ 3): a 2-event
    // user has ONE gap, whose population sd is identically 0 whatever
    // the spacing — "perfectly regular" is meaningless for a single
    // interval, and flagging it marked every 2-event user a bot.
    base.join(gaps, Seq("user_id"), "left").join(burst, "user_id")
      .select(
        col("user_id"), col("n_events"), col("active_minutes"),
        round(col("n_events").cast("double") / col("active_minutes"), 6)
          .as("events_per_active_min"),
        round(col("mean_gap"), 6).as("mean_gap_s"),
        when(col("mean_gap") > 0, round(col("sd_gap") / col("mean_gap"), 6))
          .as("gap_cv"),
        col("max_burst_min"),
        when(col("sd_gap").isNotNull &&
            ((col("n_events") >= 3 && round(col("sd_gap"), 6) === 0.0) ||
             (col("mean_gap") > 0 &&
              round(col("sd_gap") / col("mean_gap"), 6) <= 0.8)), 1L)
          .otherwise(0L).as("is_bot"))
      .orderBy("user_id")
  }

  /** A/B experiment read-out: users deterministically hash-split into
    * two variants (the same content-hash assignment discipline as
    * [[Sampling.sampleHashSplit]] — stable across runs, engines, and
    * partitionings), metric = revenue per user (sum of purchase
    * values, 0 for non-buyers); one summary row with per-variant
    * populations, mean revenue, relative lift, and the Welch z
    * statistic (unequal-variance two-sample test — the null-split
    * read-out every experimentation platform renders).
    *
    * Scale shape: one per-user aggregate (shuffle on user_id with
    * map-side combine), then ONE conditional aggregation to the
    * 1-row summary — variant never re-partitions anything, and no
    * user-level data leaves the first aggregate.
    */
  def eventsAbTest(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(coalesce(sum(when(col("event_type") === "purchase", col("value"))),
        lit(0.0)).as("rev"))
      .withColumn("variant",
        when(graft.functions.HexExprs.uniformHash(col("user_id").cast("string")) < 0.5,
          "A").otherwise("B"))
    def side(v: String, c: org.apache.spark.sql.Column) = when(col("variant") === v, c)
    perUser.agg(
        sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
        sum(side("A", col("rev"))).as("s_a"),
        sum(side("B", col("rev"))).as("s_b"),
        sum(side("A", col("rev") * col("rev"))).as("ss_a"),
        sum(side("B", col("rev") * col("rev"))).as("ss_b"))
      .withColumn("mean_a", col("s_a") / col("n_a"))
      .withColumn("mean_b", col("s_b") / col("n_b"))
      .withColumn("var_a", col("ss_a") / col("n_a") - col("mean_a") * col("mean_a"))
      .withColumn("var_b", col("ss_b") / col("n_b") - col("mean_b") * col("mean_b"))
      .select(
        col("n_a"), col("n_b"),
        round(col("mean_a"), 6).as("rev_mean_a"),
        round(col("mean_b"), 6).as("rev_mean_b"),
        round(col("mean_b") / col("mean_a") - 1.0, 6).as("lift"),
        round((col("mean_b") - col("mean_a")) /
          sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")), 6).as("z"))
  }

  /** Per-metric A/B tests with multiple-testing control: a Welch z
    * per EVENT TYPE (per-user event counts, the same deterministic
    * hash variant split as [[eventsAbTest]]), two-sided p-values via
    * the Abramowitz–Stegun 26.2.17 normal-CDF polynomial (both
    * engines evaluate the IDENTICAL expression tree — no libm Φ),
    * then Benjamini–Hochberg q-values and reject flags at q ≤ 0.05 —
    * the guardrail that stops a 5-metric dashboard from "finding" a
    * winner by running 5 uncorrected tests.
    *
    * Scale shape: the user×type grid is |users|·|types| (types
    * broadcast; absent combinations count 0 so means are over ALL
    * users, not just active ones); per-type sufficient statistics
    * are EXACT integer sums (counts), one map-side-combined
    * aggregate. The BH pass runs on the ≤64-row family — the no-op
    * limit(64) puts that bound IN the plan (the dense-vocab-rank
    * discipline), so the rank / m / suffix-min windows are
    * plan-visibly bounded. p rounds to 6 BEFORE ranking (ties break
    * on event_type) so both engines order identically.
    */
  def eventsAbPvaluesFdr(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val users = e.select("user_id").distinct()
      .withColumn("variant", when(
        graft.functions.HexExprs.uniformHash(col("user_id").cast("string")) < 0.5,
        "A").otherwise("B"))
    val types = e.select("event_type").distinct().limit(64)
    val counts = e.groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
    val grid = users.crossJoin(broadcast(types))
      .join(counts, Seq("user_id", "event_type"), "left_outer")
      .na.fill(0L, Seq("c"))
    def side(v: String, c: org.apache.spark.sql.Column) =
      when(col("variant") === v, c)
    val per = grid.groupBy("event_type")
      .agg(
        sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
        sum(side("A", col("c"))).as("s_a"),
        sum(side("B", col("c"))).as("s_b"),
        sum(side("A", col("c") * col("c"))).as("ss_a"),
        sum(side("B", col("c") * col("c"))).as("ss_b"))
      .withColumn("mean_a", col("s_a").cast("double") / col("n_a"))
      .withColumn("mean_b", col("s_b").cast("double") / col("n_b"))
      .withColumn("var_a",
        col("ss_a").cast("double") / col("n_a") - col("mean_a") * col("mean_a"))
      .withColumn("var_b",
        col("ss_b").cast("double") / col("n_b") - col("mean_b") * col("mean_b"))
      .withColumn("z", (col("mean_b") - col("mean_a"))
        / sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")))
      // Abramowitz–Stegun 26.2.17: Φ tail ≈ φ(z)·poly(t), identical
      // literals on both engines; 0.3989422804014327 = 1/√(2π)
      .withColumn("az", abs(col("z")))
      .withColumn("t", lit(1.0) / (lit(1.0) + lit(0.2316419) * col("az")))
      .withColumn("poly", col("t") * (lit(0.319381530)
        + col("t") * (lit(-0.356563782)
        + col("t") * (lit(1.781477937)
        + col("t") * (lit(-1.821255978) + col("t") * lit(1.330274429))))))
      .withColumn("p", round(least(
        lit(2.0) * exp(-col("az") * col("az") / 2.0)
          * lit(0.3989422804014327) * col("poly"), lit(1.0)), 6))
    // the limit is a no-op (|types| ≤ 64 by the bound above) that
    // makes the family windows plan-visibly bounded
    val fam = per.limit(64)
    val byP = Window.orderBy(col("p"), col("event_type"))
    val suffix = Window.orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fam
      .withColumn("m", count(lit(1)).over(
        Window.orderBy(col("p"), col("event_type"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("rank", row_number().over(byP))
      .withColumn("padj", col("p") * col("m") / col("rank"))
      .withColumn("q", round(least(min("padj").over(suffix), lit(1.0)), 6))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("mean_a"), 6).as("mean_a"),
        round(col("mean_b"), 6).as("mean_b"),
        round(col("z"), 6).as("z"), col("p").as("p_value"),
        col("rank"), col("q").as("q_value"),
        when(col("q") <= 0.05, 1L).otherwise(0L).as("significant"))
      .orderBy("rank")
  }

  /** Seasonal-naive forecast backtest: predict each of the last 168
    * observed hours' event volume as the SAME HOUR ONE WEEK EARLIER
    * (the baseline every forecasting system must beat before it
    * earns its complexity), scored per event type with MAE and WAPE
    * (Σ|err|/Σactual — the scale-free accuracy number that doesn't
    * blow up on near-zero hours the way MAPE does). Hours with no
    * events have no row and are skipped on both sides — the eval
    * covers observed hours; a missing week-ago hour predicts 0.
    *
    * Scale shape: one hourly pre-aggregation (map-side combine),
    * one (type, hour) equi-join against its own +168h shift, one
    * per-type rollup; the eval horizon rides a broadcast one-row
    * max. Integer counts keep every error exact.
    */
  def eventsForecastBaseline(spark: SparkSession, dir: String): DataFrame = {
    val hourly = graft.PlanCache.cached("forecast_hourly", spark, dir) {
      Tables.events(spark, dir)
        .groupBy(col("event_type"), expr("ts_s div 3600").as("h"))
        .agg(count(lit(1)).as("c"))
    }
    val mx = hourly.agg(max("h").as("mh"))
    val actual = hourly.crossJoin(broadcast(mx))
      .filter(col("h") > col("mh") - 168)
    val pred = hourly.select(col("event_type"), (col("h") + 168).as("h"),
      col("c").as("p"))
    actual.join(pred, Seq("event_type", "h"), "left")
      .withColumn("p", coalesce(col("p"), lit(0L)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        round(avg(abs(col("c") - col("p"))), 6).as("mae"),
        round(sum(abs(col("c") - col("p"))).cast("double")
          / sum(col("c")).cast("double"), 6).as("wape"))
      .orderBy("event_type")
  }

  /** Difference-in-differences read-out over the same pre/post ×
    * variant split as [[eventsCuped]]: per user d = y − x (post minus
    * pre revenue), DiD = mean_d_B − mean_d_A — the estimator that
    * removes any PRE-EXISTING level difference between the arms
    * (which a raw post-period comparison absorbs as fake lift) —
    * with per-arm pre/post means and a Welch z on the per-user
    * deltas. One per-user pass, one conditional 1-row aggregate; no
    * user-level data leaves the first shuffle.
    */
  def eventsDid(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val mid = e.agg(((min("ts_s") + max("ts_s")) / lit(2L)).as("mid_ts"))
    val perUser = e.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(
        coalesce(sum(when(col("event_type") === "purchase" &&
          col("ts_s") < col("mid_ts"), col("value"))), lit(0.0)).as("x"),
        coalesce(sum(when(col("event_type") === "purchase" &&
          col("ts_s") >= col("mid_ts"), col("value"))), lit(0.0)).as("y"))
      .withColumn("d", col("y") - col("x"))
      .withColumn("variant",
        when(graft.functions.HexExprs.uniformHash(col("user_id").cast("string")) < 0.5,
          "A").otherwise("B"))
    def side(v: String, c: org.apache.spark.sql.Column) = when(col("variant") === v, c)
    val s = perUser.agg(
      sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(side("A", col("x"))).as("sx_a"), sum(side("B", col("x"))).as("sx_b"),
      sum(side("A", col("y"))).as("sy_a"), sum(side("B", col("y"))).as("sy_b"),
      sum(side("A", col("d"))).as("sd_a"), sum(side("B", col("d"))).as("sd_b"),
      sum(side("A", col("d") * col("d"))).as("sdd_a"),
      sum(side("B", col("d") * col("d"))).as("sdd_b"))
    def m(sumCol: String, nCol: String) = col(sumCol) / col(nCol).cast("double")
    def vD(suffix: String) = {
      val mv = m(s"sd_$suffix", s"n_$suffix")
      col(s"sdd_$suffix") / col(s"n_$suffix").cast("double") - mv * mv
    }
    val did = m("sd_b", "n_b") - m("sd_a", "n_a")
    s.select(
      col("n_a"), col("n_b"),
      round(m("sx_a", "n_a"), 6).as("pre_mean_a"),
      round(m("sx_b", "n_b"), 6).as("pre_mean_b"),
      round(m("sy_a", "n_a"), 6).as("post_mean_a"),
      round(m("sy_b", "n_b"), 6).as("post_mean_b"),
      round(did, 6).as("did"),
      round(did / sqrt(vD("a") / col("n_a") + vD("b") / col("n_b")), 6).as("z"))
  }

  /** CUPED variance reduction for the A/B read-out: each user's
    * post-period revenue is adjusted by their PRE-period revenue
    * (timeline midpoint split), y_adj = y − θ(x − x̄) with
    * θ = cov(x,y)/var(x) pooled — the standard experimentation
    * technique that removes the between-user variance the pre-period
    * already explains, shrinking confidence intervals at the same
    * sample size. One row out: per-variant populations and raw vs
    * adjusted means, θ, the pooled variance-reduction fraction
    * (≈ corr²), and the Welch z before/after — the read-out that
    * shows how much experiment runtime CUPED buys back.
    *
    * Scale shape: one per-user aggregate, then ONE conditional
    * aggregation to per-variant sufficient statistics; θ and every
    * adjusted moment expand algebraically from those sums
    * (var(y_adj) = var(y) − 2θ·cov + θ²·var(x)), so no second pass
    * over users is ever needed and no user-level data leaves the
    * first shuffle.
    */
  def eventsCuped(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val mid = e.agg(((min("ts_s") + max("ts_s")) / lit(2L)).as("mid_ts"))
    val perUser = e.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(
        coalesce(sum(when(col("event_type") === "purchase" &&
          col("ts_s") < col("mid_ts"), col("value"))), lit(0.0)).as("x"),
        coalesce(sum(when(col("event_type") === "purchase" &&
          col("ts_s") >= col("mid_ts"), col("value"))), lit(0.0)).as("y"))
      .withColumn("variant",
        when(graft.functions.HexExprs.uniformHash(col("user_id").cast("string")) < 0.5,
          "A").otherwise("B"))
    def side(v: String, c: org.apache.spark.sql.Column) = when(col("variant") === v, c)
    val s = perUser.agg(
      sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(side("A", col("x"))).as("sx_a"), sum(side("B", col("x"))).as("sx_b"),
      sum(side("A", col("y"))).as("sy_a"), sum(side("B", col("y"))).as("sy_b"),
      sum(side("A", col("x") * col("x"))).as("sxx_a"),
      sum(side("B", col("x") * col("x"))).as("sxx_b"),
      sum(side("A", col("y") * col("y"))).as("syy_a"),
      sum(side("B", col("y") * col("y"))).as("syy_b"),
      sum(side("A", col("x") * col("y"))).as("sxy_a"),
      sum(side("B", col("x") * col("y"))).as("sxy_b"))
    val n = (col("n_a") + col("n_b")).cast("double")
    val mx = (col("sx_a") + col("sx_b")) / n
    val my = (col("sy_a") + col("sy_b")) / n
    val varX = (col("sxx_a") + col("sxx_b")) / n - mx * mx
    val covXY = (col("sxy_a") + col("sxy_b")) / n - mx * my
    val theta = covXY / varX
    def meanAdj(suffix: String) = {
      val nv = col(s"n_$suffix").cast("double")
      col(s"sy_$suffix") / nv - theta * (col(s"sx_$suffix") / nv - mx)
    }
    // per-variant adjusted variance from the same sufficient stats:
    // var_v(y_adj) = var_v(y) − 2θ·cov_v(x,y) + θ²·var_v(x)
    def varAdj(suffix: String) = {
      val nv = col(s"n_$suffix").cast("double")
      val mxv = col(s"sx_$suffix") / nv
      val myv = col(s"sy_$suffix") / nv
      val vY = col(s"syy_$suffix") / nv - myv * myv
      val vX = col(s"sxx_$suffix") / nv - mxv * mxv
      val cV = col(s"sxy_$suffix") / nv - mxv * myv
      vY - lit(2.0) * theta * cV + theta * theta * vX
    }
    def vYv(suffix: String) = {
      val nv = col(s"n_$suffix").cast("double")
      val myv = col(s"sy_$suffix") / nv
      col(s"syy_$suffix") / nv - myv * myv
    }
    val zRaw =
      (col("sy_b") / col("n_b").cast("double") -
        col("sy_a") / col("n_a").cast("double")) /
        sqrt(vYv("a") / col("n_a") + vYv("b") / col("n_b"))
    s.select(
      col("n_a"), col("n_b"),
      round(col("sy_a") / col("n_a").cast("double"), 6).as("rev_mean_a"),
      round(col("sy_b") / col("n_b").cast("double"), 6).as("rev_mean_b"),
      round(theta, 6).as("theta"),
      round(meanAdj("a"), 6).as("adj_mean_a"),
      round(meanAdj("b"), 6).as("adj_mean_b"),
      // within-variant pooled, like for like: adjusted vs raw
      round(lit(1.0) - (varAdj("a") * col("n_a") + varAdj("b") * col("n_b")) /
        (vYv("a") * col("n_a") + vYv("b") * col("n_b")), 6).as("var_reduction"),
      round(zRaw, 6).as("z_raw"),
      round((meanAdj("b") - meanAdj("a")) /
        sqrt(varAdj("a") / col("n_a") + varAdj("b") / col("n_b")), 6).as("z_adj"))
  }

  /** Experiment POWER analysis from the measured arm moments — the
    * question that comes BEFORE [[eventsAbTest]]'s read-out: which
    * lifts can this traffic actually detect? For a grid of target
    * lifts (1/2/5/10/20% of the control mean), the required n per arm
    * at α = 0.05 two-sided / 80% power under the normal approximation
    * (n = (z_{α/2}+z_β)²·(σ_A²+σ_B²)/Δ²), next to the observed n and
    * a sufficient flag; the minimum detectable effect at the CURRENT
    * n rides every row. An experimentation platform runs exactly this
    * table to refuse under-powered launches.
    *
    * Scale shape: one per-user aggregate (same shuffle as the A/B
    * read-out), ONE 1-row moment aggregation, then a broadcast 5-row
    * grid cross join — all post-shuffle work is constant-size.
    */
  def eventsPowerAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val zA = 1.959964 // z_{0.975}
    val zB = 0.841621 // z_{0.80}
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(coalesce(sum(when(col("event_type") === "purchase", col("value"))),
        lit(0.0)).as("rev"))
      .withColumn("variant",
        when(graft.functions.HexExprs.uniformHash(col("user_id").cast("string")) < 0.5,
          "A").otherwise("B"))
    def side(v: String, c: org.apache.spark.sql.Column) = when(col("variant") === v, c)
    val s = perUser.agg(
      sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(side("A", col("rev"))).as("s_a"),
      sum(side("B", col("rev"))).as("s_b"),
      sum(side("A", col("rev") * col("rev"))).as("ss_a"),
      sum(side("B", col("rev") * col("rev"))).as("ss_b"))
      .withColumn("mean_a", col("s_a") / col("n_a"))
      .withColumn("var_a", col("ss_a") / col("n_a") - col("mean_a") * col("mean_a"))
      .withColumn("var_b", col("ss_b") / col("n_b")
        - (col("s_b") / col("n_b")) * (col("s_b") / col("n_b")))
    val grid = spark.range(0, 5).select(
      element_at(array(lit(1L), lit(2L), lit(5L), lit(10L), lit(20L)),
        (col("id") + 1).cast("int")).as("lift_pct"))
    s.crossJoin(broadcast(grid))
      .withColumn("delta", col("mean_a") * col("lift_pct") / 100.0)
      .withColumn("n_required", ceil(
        lit((zA + zB) * (zA + zB)) * (col("var_a") + col("var_b"))
          / (col("delta") * col("delta"))).cast("long"))
      .select(
        col("lift_pct"), col("n_a"), col("n_b"),
        round(col("delta"), 6).as("delta_abs"),
        col("n_required"),
        (least(col("n_a"), col("n_b")) >= col("n_required")).as("powered"),
        // MDE at the observed per-arm sizes (constant across the grid)
        round(lit(zA + zB) *
          sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")), 6)
          .as("mde_abs_at_n"))
      .orderBy("lift_pct")
  }

  /** Sample-ratio-mismatch guardrail for the 50/50 hash assignment
    * the whole experimentation family shares: per engagement segment
    * (users who emitted each event type, plus the `_all_` population)
    * the two variant user counts, the binomial z statistic against
    * the designed 0.5 split, and the |z| > 3 SRM flag (the "stop
    * trusting every other readout" alarm — a biased assignment
    * invalidates ab_test/cuped/did downstream, and segment-level SRM
    * catches exposure bugs a whole-population check averages away).
    *
    * Scale shape: one (user, type)-distinct pass (map-side partial
    * distinct), then a |types|-key aggregate; the `_all_` row reuses
    * the same relation (any event counts the user) rather than a
    * second scan. No windows, no joins.
    */
  def eventsSrmCheck(spark: SparkSession, dir: String): DataFrame = {
    val ue = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
      .withColumn("variant",
        when(graft.functions.HexExprs.uniformHash(col("user_id").cast("string")) < 0.5,
          "A").otherwise("B"))
    val byType = ue.groupBy(col("event_type").as("segment"))
      .agg(sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"))
    val overall = ue.select("user_id", "variant").distinct()
      .agg(sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"))
      .select(lit("_all_").as("segment"), col("n_a"), col("n_b"))
    byType.unionAll(overall)
      .withColumn("n", col("n_a") + col("n_b"))
      .withColumn("z", round(
        (col("n_a").cast("double") - col("n").cast("double") / 2.0)
          / sqrt(col("n").cast("double") / 4.0), 6))
      .select(col("segment"), col("n_a"), col("n_b"),
        round(col("n_a").cast("double") / col("n"), 6).as("ratio_a"),
        col("z"), (abs(col("z")) > 3.0).as("srm"))
      .orderBy("segment")
  }

  /** Population-stability-index balance check between the two
    * experiment arms over the per-user revenue distribution: nine
    * FIXED log-revenue buckets (⌊ln(1+rev)⌋ capped at 8 — fixed grid,
    * so the report shape never depends on the data), Laplace-smoothed
    * shares on both sides (empty buckets contribute finitely), the
    * per-bucket PSI term and the bucket-summed total on every row.
    * PSI < 0.1 is the conventional "stable" line; a pre-experiment
    * arm-vs-arm PSI materially above it means the assignment hash is
    * correlated with the metric — the silent killer CUPED et al.
    * cannot fix. The same shape monitors week-over-week score drift.
    *
    * Scale shape: per-user aggregate, one 9-key aggregate per arm on
    * a broadcast fixed grid, totals on broadcast one-row cross joins.
    */
  def eventsPsiDrift(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(coalesce(sum(when(col("event_type") === "purchase", col("value"))),
        lit(0.0)).as("rev"))
      .withColumn("variant",
        when(graft.functions.HexExprs.uniformHash(col("user_id").cast("string")) < 0.5,
          "A").otherwise("B"))
      .withColumn("bucket",
        least(floor(log(lit(1.0) + col("rev"))).cast("long"), lit(8L)))
    val counts = perUser.groupBy("bucket")
      .agg(sum(when(col("variant") === "A", 1L).otherwise(0L)).as("ca"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("cb"))
    val grid = spark.range(0, 9).select(col("id").as("bucket"))
    val filled = grid.join(counts, Seq("bucket"), "left_outer")
      .select(col("bucket"),
        coalesce(col("ca"), lit(0L)).as("n_a"),
        coalesce(col("cb"), lit(0L)).as("n_b"))
    val totals = filled.agg(sum("n_a").as("ta"), sum("n_b").as("tb"))
    val terms = filled.crossJoin(broadcast(totals))
      .withColumn("share_a",
        (col("n_a").cast("double") + 0.5) / (col("ta").cast("double") + 4.5))
      .withColumn("share_b",
        (col("n_b").cast("double") + 0.5) / (col("tb").cast("double") + 4.5))
      .withColumn("psi_term",
        (col("share_a") - col("share_b")) * log(col("share_a") / col("share_b")))
    val total = terms.agg(sum("psi_term").as("t"))
    terms.crossJoin(broadcast(total))
      .select(col("bucket"), col("n_a"), col("n_b"),
        round(col("share_a"), 6).as("share_a"),
        round(col("share_b"), 6).as("share_b"),
        round(col("psi_term"), 6).as("psi_term"),
        round(col("t"), 6).as("psi_total"))
      .orderBy("bucket")
  }

  /** Exact two-sample Kolmogorov-Smirnov drift test between weekday
    * and weekend purchase-value distributions on the cent-quantized
    * value grid (the sup of |F_wd − F_we| is attained at an observed
    * grid point, so the grid ECDF computes the statistic exactly for
    * the quantized data): one row — sample sizes, the KS statistic,
    * the α=0.01 critical value c(α)·√((n₁+n₂)/(n₁·n₂)), and the
    * drift verdict. THE distribution-shift monitor for a metric
    * column between any two slices (here: calendar regime).
    *
    * Scale shape: the ECDF is NOT a global window (single partition —
    * PlanLint rejects it): grid cells group into 32-unit value
    * blocks, the cumulative count runs partitioned per block, and
    * each block's offset is a bounded triangle join over the ~dozen
    * block totals (the [[Olap.ordersConcurrency]] cumsum shape); the
    * final max is a TakeOrdered-free one-row aggregate.
    */
  def eventsKsDrift(spark: SparkSession, dir: String): DataFrame = {
    // day-of-week as pure epoch arithmetic ((day+4) % 7, 0=Sunday —
    // epoch day 0 was a Thursday) so both engines agree without
    // touching their differently-indexed dayofweek builtins
    val p = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(round(col("value"), 2).as("g"),
        expr("(ts_s div 86400 + 4) % 7").between(1, 5).as("wd"))
    val counts = p.groupBy("g")
      .agg(sum(when(col("wd"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("wd"), 1L).otherwise(0L)).as("c2"))
      .withColumn("blk", floor(col("g") / 32.0).cast("long"))
    val inBlk = counts
      .withColumn("cum1", sum("c1").over(Window.partitionBy("blk").orderBy("g")))
      .withColumn("cum2", sum("c2").over(Window.partitionBy("blk").orderBy("g")))
    val blkTot = counts.groupBy("blk")
      .agg(sum("c1").as("b1"), sum("c2").as("b2"))
    val prefix = blkTot.as("a")
      .join(blkTot.as("b"), col("b.blk") < col("a.blk"), "left_outer")
      .groupBy(col("a.blk").as("blk"))
      .agg(coalesce(sum(col("b.b1")), lit(0L)).as("p1"),
        coalesce(sum(col("b.b2")), lit(0L)).as("p2"))
    val totals = counts.agg(sum("c1").as("t1"), sum("c2").as("t2"))
    inBlk.join(broadcast(prefix), "blk")
      .crossJoin(broadcast(totals))
      .select(abs(
        (col("cum1") + col("p1")).cast("double") / col("t1").cast("double")
          - (col("cum2") + col("p2")).cast("double") / col("t2").cast("double"))
        .as("d"), col("t1"), col("t2"))
      .groupBy("t1", "t2")
      .agg(max(col("d")).as("ks"))
      .select(col("t1").as("n_weekday"), col("t2").as("n_weekend"),
        round(col("ks"), 6).as("ks_stat"),
        round(lit(1.627625) * sqrt(
          (col("t1") + col("t2")).cast("double")
            / (col("t1") * col("t2")).cast("double")), 6).as("ks_crit_01"))
      .withColumn("drift", col("ks_stat") > col("ks_crit_01"))
  }

  /** Heterogeneous-treatment-effect read-out: the A/B revenue lift of
    * `eventsAbTest`, split by PRE-period engagement segment. Users are
    * bucketed on their event count BEFORE the timeline midpoint (the
    * same pre/post split CUPED uses) into fixed bands (≤24, 25-30,
    * 31-36, 37-44, 45+, sized to the generator's per-user activity
    * law, which is SF-invariant) — pre-treatment segmentation, so the split can't be
    * distorted by the treatment itself — and each segment gets its own
    * post-period revenue means, lift, and Welch z. The table that
    * answers "who is the lift coming from?" before a ship decision.
    * One per-user pass then a 5-key conditional aggregate: user-level
    * data never leaves the first shuffle, segments are fixed bands
    * (no quantile pass), and the midpoint rides a broadcast one-row
    * aggregate. z and lift are NULL-guarded for degenerate segments.
    */
  def eventsUpliftSegments(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val mid = e.agg(((min("ts_s") + max("ts_s")) / lit(2L)).as("mid_ts"))
    val perUser = e.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(
        sum(when(col("ts_s") < col("mid_ts"), 1L).otherwise(0L)).as("c_pre"),
        coalesce(sum(when(col("event_type") === "purchase" &&
          col("ts_s") >= col("mid_ts"), col("value"))), lit(0.0)).as("y"))
      .withColumn("variant",
        when(graft.functions.HexExprs.uniformHash(col("user_id").cast("string")) < 0.5,
          "A").otherwise("B"))
      .withColumn("seg_id",
        when(col("c_pre") <= 24, 0).when(col("c_pre") <= 30, 1)
          .when(col("c_pre") <= 36, 2).when(col("c_pre") <= 44, 3)
          .otherwise(4))
    def side(v: String, c: org.apache.spark.sql.Column) =
      when(col("variant") === v, c)
    perUser.groupBy("seg_id")
      .agg(
        sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
        sum(side("A", col("y"))).as("s_a"), sum(side("B", col("y"))).as("s_b"),
        sum(side("A", col("y") * col("y"))).as("ss_a"),
        sum(side("B", col("y") * col("y"))).as("ss_b"))
      .withColumn("mean_a", when(col("n_a") > 0, col("s_a") / col("n_a")))
      .withColumn("mean_b", when(col("n_b") > 0, col("s_b") / col("n_b")))
      .withColumn("var_a",
        when(col("n_a") > 0, col("ss_a") / col("n_a") - col("mean_a") * col("mean_a")))
      .withColumn("var_b",
        when(col("n_b") > 0, col("ss_b") / col("n_b") - col("mean_b") * col("mean_b")))
      .withColumn("se2", col("var_a") / col("n_a") + col("var_b") / col("n_b"))
      .select(
        col("seg_id"),
        when(col("seg_id") === 0, "<=24").when(col("seg_id") === 1, "25-30")
          .when(col("seg_id") === 2, "31-36").when(col("seg_id") === 3, "37-44")
          .otherwise("45+").as("segment"),
        col("n_a"), col("n_b"),
        round(col("mean_a"), 6).as("rev_mean_a"),
        round(col("mean_b"), 6).as("rev_mean_b"),
        when(col("mean_a") =!= 0.0,
          round(col("mean_b") / col("mean_a") - 1.0, 6)).as("lift"),
        when(col("se2") > 0.0,
          round((col("mean_b") - col("mean_a")) / sqrt(col("se2")), 6)).as("z"))
      .orderBy("seg_id")
  }

  /** CUSUM changepoint detection on the hourly event-volume series:
    * S_t = cum_t − t·μ over the sorted hourly counts, changepoint =
    * the hour maximizing |S_t| (earliest among ties), normalized by
    * σ·√n for a scale-free statistic (Pettitt/CUSUM shape; ~1.358 is
    * the KS-style 5% line). Everything after the hourly rollup is a
    * few-thousand-row series, but the cumulative sum still avoids a
    * single-partition global window: 64-hour blocks get an in-block
    * window, block prefixes come from a broadcast triangle join over
    * the tiny block-total table (the ks_drift discipline), and the
    * argmax is a broadcast scalar-max filter, never a global sort.
    * μ, σ derive from integer sums (exact in doubles below 2^53), so
    * both engines compute bit-identical statistics.
    */
  def eventsChangepointCusum(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(expr("ts_s div 3600").as("hr"))
      .groupBy("hr").agg(count(lit(1)).as("x"))
      .withColumn("blk", expr("hr div 64"))
    val inBlk = hourly
      .withColumn("cumx", sum("x").over(Window.partitionBy("blk").orderBy("hr")))
      .withColumn("rn", count(lit(1)).over(Window.partitionBy("blk").orderBy("hr")))
    val blkTot = hourly.groupBy("blk")
      .agg(sum("x").as("bx"), count(lit(1)).as("bn"))
    val prefix = blkTot.as("a")
      .join(blkTot.as("b"), col("b.blk") < col("a.blk"), "left_outer")
      .groupBy(col("a.blk").as("blk"))
      .agg(coalesce(sum(col("b.bx")), lit(0L)).as("px"),
        coalesce(sum(col("b.bn")), lit(0L)).as("pn"))
    val moments = hourly.agg(
      count(lit(1)).as("n"), sum("x").as("tot"),
      avg("x").as("mu"),
      sqrt(greatest(lit(0.0),
        avg(col("x") * col("x")) - avg("x") * avg("x"))).as("sd"))
    val s = inBlk.join(broadcast(prefix), "blk")
      .crossJoin(broadcast(moments))
      .select(col("hr"), col("n"), col("tot"), col("sd"),
        abs((col("cumx") + col("px")).cast("double")
          - (col("rn") + col("pn")).cast("double") * col("mu")).as("s_abs"))
    val mx = s.agg(max("s_abs").as("m"))
    s.join(broadcast(mx), col("s_abs") === col("m"))
      .groupBy("n", "tot", "sd", "m")
      .agg(min("hr").as("cp_hour"))
      .select(col("n").as("n_hours"), col("tot").as("total_events"),
        col("cp_hour"), round(col("m"), 6).as("cusum_max"),
        when(col("sd") > 0,
          round(col("m") / (col("sd") * sqrt(col("n").cast("double"))), 6))
          .as("stat"))
      .withColumn("drift", coalesce(col("stat") > 1.358, lit(false)))
  }

  /** Autocorrelation function of the daily volume series per event
    * type, lags 1..7 — the periodicity probe behind every seasonal
    * model choice (a strong lag-7 says weekly structure;
    * events_seasonal then quantifies the profile). Gap days count as
    * ZERO volume (the series is regular by construction), so the ACF
    * is over the true calendar series, not the observed-days one.
    *
    * Scale shape: the series lives on the bounded (type × day) GRID
    * — one map-side-combining daily count, a per-type
    * sequence-explode gap fill, and lag windows OVER GRID ROWS only
    * (days × types, never events). Pearson per lag runs on exact
    * integer count sums; casts to double happen before the
    * cross-moment products (the assortativity overflow discipline).
    */
  def eventsAutocorrelation(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("ts_s div 86400").as("day"))
      .agg(count(lit(1)).as("c"))
    val span = daily.groupBy("event_type")
      .agg(min("day").as("d0"), max("day").as("d1"))
    val filled = span
      .withColumn("day", explode(expr("sequence(d0, d1)")))
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("c"))
    val lags = filled
      .withColumn("lag", explode(expr("sequence(CAST(1 AS BIGINT), 7)")))
    // lag value via a self-join on the grid (one join for all lags;
    // a window-per-lag would re-sort the grid 7 times)
    val pairs = lags.as("a").join(
        filled.select(col("event_type"), col("day").as("pday"),
          col("c").as("pc")).as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") - col("a.lag") === col("pday"))
      .select(col("a.event_type").as("event_type"), col("a.lag").as("lag"),
        col("a.c").as("x"), col("pc").as("y"))
    val m = pairs.groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val nd = col("n").cast("double")
    m.select(col("event_type"), col("lag"), col("n").as("n_pairs"),
        round((nd * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / sqrt((nd * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            * (nd * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("acf"))
      .orderBy("event_type", "lag")
  }

  /** Point-in-time-correct feature join (the feature-store
    * correctness contract): for every purchase anchor, activity
    * features computed from events STRICTLY BEFORE the anchor —
    * 7-day trailing event count, 7-day trailing view count, and the
    * gap to the user's previous event. The frame is
    * [ts−7d, ts−1s], so nothing at or after the anchor second leaks
    * in: this is the leak-free training-table build that naive
    * "join latest features" pipelines get wrong.
    *
    * Scale shape: per-USER windows ordered by (ts_s, event_id) —
    * bounded by a user's history, never corpus-wide; the RANGE frame
    * is evaluated once over each user's sorted run (one shuffle on
    * user_id), anchors filter AFTER the frame so non-purchase events
    * still feed the features. Ties in ts_s are inside the frame
    * boundary deterministically (range, not rows), and the gap lag
    * carries the (ts_s, event_id) total order.
    */
  def eventsPitFeatures(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_s"))
    val wRange = Window.partitionBy("user_id").orderBy("ts_s")
      .rangeBetween(-7L * 86400, -1L)
    val wSeq = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    e
      .withColumn("n_prior_7d", count(lit(1)).over(wRange))
      .withColumn("n_views_7d",
        coalesce(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .over(wRange), lit(0L)))
      .withColumn("gap_s",
        coalesce(col("ts_s") - lag("ts_s", 1).over(wSeq), lit(-1L)))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_s"),
        col("n_prior_7d"), col("n_views_7d"), col("gap_s"))
      .orderBy("event_id")
  }

  /** Multiwindow SLO burn rate (the Google SRE alerting policy):
    * hourly error share over trailing 1 h and 6 h windows against a
    * 1% error budget, burn = rate/budget, page when BOTH windows
    * burn hot (burn₁ ≥ 14.4 ∧ burn₆ ≥ 6 — the fast window confirms
    * it's current, the slow one that it's sustained; single-window
    * alerts flap). Gap hours count as zero traffic and zero errors
    * so the windows are true calendar windows.
    *
    * Scale shape: everything after the one hourly count aggregate
    * lives on the bounded calendar-hour GRID (sequence-explode gap
    * fill); the 6-hour trailing sums come from a CONSTANT-offset
    * self-join (each grid hour contributes to hours h..h+5, then a
    * group-by-target-hour) — no unpartitioned window anywhere, the
    * 6x fan-out is over grid rows only. Rates guard the zero-traffic
    * hour with an explicit 0. Integer counts end-to-end; only the
    * report divides.
    */
  def eventsSloBurn(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(expr("ts_s div 3600").as("hour"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_err"))
    val span = hourly.agg(min("hour").as("h0"), max("hour").as("h1"))
    val grid = span.select(explode(expr("sequence(h0, h1)")).as("hour"))
      .join(hourly, Seq("hour"), "left")
      .na.fill(0L, Seq("n_total", "n_err"))
    val trail = grid
      .withColumn("off", explode(expr("sequence(CAST(0 AS BIGINT), 5)")))
      .groupBy((col("hour") + col("off")).as("hour"))
      .agg(sum("n_total").as("t6"), sum("n_err").as("e6"))
    grid.join(trail, "hour")
      .withColumn("rate1", when(col("n_total") > 0,
        round(col("n_err").cast("double") / col("n_total"), 6))
        .otherwise(lit(0.0)))
      .withColumn("rate6", when(col("t6") > 0,
        round(col("e6").cast("double") / col("t6"), 6)).otherwise(lit(0.0)))
      .select(col("hour").as("hour_ts"), col("n_total"), col("n_err"),
        col("rate1"),
        round(col("rate1") / 0.01, 6).as("burn1"),
        col("rate6"),
        round(col("rate6") / 0.01, 6).as("burn6"),
        (col("rate1") / 0.01 >= 14.4 && col("rate6") / 0.01 >= 6.0)
          .cast("int").as("page"))
      .orderBy("hour_ts")
  }

  /** Always-valid sequential A/B test (mixture SPRT, the "peek
    * whenever you like" experimentation read-out): per experiment
    * day, the cumulative purchase-value difference between the
    * hash-split variants, the normal-mixture likelihood ratio
    * Λ_n = √(V/(V+τ²))·exp(δ̂²τ²/(2V(V+τ²))) (τ = 0.1), and the
    * always-valid p-value p_n = min(1, min_{t≤n} 1/Λ_t) — monotone
    * by construction, so stopping the moment it crosses 0.05 never
    * inflates the false-positive rate the way daily peeking at the
    * fixed-horizon events_ab_test z does. The sequential member of
    * the experimentation family (fixed-horizon, CUPED, DiD, FDR,
    * SRM, power).
    *
    * Scale shape: one (day, variant) aggregate off the event scan,
    * with per-day value sums quantized to round(1e6·round(Σ,6))
    * BIGINTs (cross-engine float-sum order); cumulative sums are
    * variant-PARTITIONED windows over the bounded day grid; the
    * running min runs as a triangle self-join on grid days (t ≤ d) —
    * order-free min, no unpartitioned window. Output = one row per
    * day.
    */
  def eventsSequentialMsprt(spark: SparkSession, dir: String): DataFrame = {
    val tau2 = 0.01
    val daily = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("variant",
        when(graft.functions.HexExprs.uniformHash(
          col("user_id").cast("string")) < 0.5, "A").otherwise("B"))
      .groupBy(expr("ts_s div 86400").as("day"), col("variant"))
      .agg(count(lit(1)).as("n"),
        round(round(sum("value"), 6) * 1e6).cast("long").as("s_u6"),
        round(round(sum(col("value") * col("value")), 6) * 1e6)
          .cast("long").as("ss_u6"))
    val span = daily.agg(min("day").as("d0"), max("day").as("d1"))
    val grid = span.select(explode(expr("sequence(d0, d1)")).as("day"))
      .crossJoin(spark.createDataFrame(
        Seq(Tuple1("A"), Tuple1("B"))).toDF("variant"))
      .join(daily, Seq("day", "variant"), "left")
      .na.fill(0L, Seq("n", "s_u6", "ss_u6"))
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy("variant").orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = grid
      .withColumn("cn", sum("n").over(wv))
      .withColumn("cs", sum("s_u6").over(wv))
      .withColumn("css", sum("ss_u6").over(wv))
    val byDay = cum.groupBy("day").agg(
      sum(when(col("variant") === "A", col("cn"))).as("n_a"),
      sum(when(col("variant") === "B", col("cn"))).as("n_b"),
      sum(when(col("variant") === "A", col("cs"))).as("sa"),
      sum(when(col("variant") === "B", col("cs"))).as("sb"),
      sum(when(col("variant") === "A", col("css"))).as("ssa"),
      sum(when(col("variant") === "B", col("css"))).as("ssb"))
    val ma = col("sa").cast("double") / 1e6 / col("n_a")
    val mb = col("sb").cast("double") / 1e6 / col("n_b")
    val va = col("ssa").cast("double") / 1e6 / col("n_a") - ma * ma
    val vb = col("ssb").cast("double") / 1e6 / col("n_b") - mb * mb
    val vn = va / col("n_a") + vb / col("n_b")
    val delta = mb - ma
    val lam = sqrt(vn / (vn + lit(tau2))) *
      exp(delta * delta * lit(tau2) / (lit(2.0) * vn * (vn + lit(tau2))))
    val scored = byDay.withColumn("lam",
      when(col("n_a") >= 2 && col("n_b") >= 2 && vn > 0, lam))
    // running max_{t<=d} Λ_t via the block-partitioned cumulative +
    // bounded triangle block-prefix (the eventsKsDrift ECDF shape —
    // no unpartitioned window over the day grid)
    val blk = scored.withColumn("blk", expr("day div 32"))
    val inBlk = blk.withColumn("cmax", max("lam").over(
      Window.partitionBy("blk").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)))
    val blkTot = blk.groupBy("blk").agg(max("lam").as("bmax"))
    val prefix = blkTot.as("a")
      .join(blkTot.as("b"), col("b.blk") < col("a.blk"), "left_outer")
      .groupBy(col("a.blk").as("blk"))
      .agg(max(col("b.bmax")).as("pmax"))
    // explicit null laddering: Spark's greatest skips NULLs but other
    // engines return NULL, so the oracle twin needs the same CASE
    val pRun = inBlk.join(broadcast(prefix), "blk")
      .withColumn("max_lam",
        when(col("cmax").isNull, col("pmax"))
          .when(col("pmax").isNull, col("cmax"))
          .otherwise(greatest(col("cmax"), col("pmax"))))
      .select(col("day"), col("max_lam"))
    scored.join(pRun, "day")
      .select(col("day"), col("n_a"), col("n_b"),
        round(delta, 6).as("delta"),
        round(col("lam"), 6).as("lambda"),
        round(least(lit(1.0), lit(1.0) / col("max_lam")), 6).as("p_always"),
        coalesce((lit(1.0) / col("max_lam") <= 0.05).cast("int"), lit(0))
          .as("reject"))
      .orderBy("day")
  }

  /** Quantile treatment effects (QTE): the A/B read-out at the
    * DISTRIBUTION level rather than the mean — exact per-variant
    * quartiles + p90 of purchase value under the deterministic 50/50
    * content-hash split, and the per-quantile B−A lift. Means hide
    * heterogeneous effects (a treatment that only moves the p90
    * whale segment reads as a small mean shift); evaluating the
    * ECDFs at fixed probability points is the standard first
    * distributional look (reference analog: the A/B aggregates the
    * reference's dashboards serve; QTE semantics from the public
    * quantile-regression literature, evaluated on exact ECDFs).
    *
    * Scale shape: values collapse onto the distinct CENT grid per
    * variant first (one map-side-combined aggregate — the grid is
    * bounded by the price domain, not the event count), the ECDF
    * runs block-partitioned ($40.96 blocks: in-block windows keyed
    * (variant, blk) + the bounded triangle block-prefix join — the
    * [[graft.operators.Olap.ordersConcurrency]] discipline, no
    * variant-global window), and each quantile pick is one
    * min-aggregate over the ≥-threshold rows. The threshold compares
    * exact BIGINTs (cum·100 ≥ q_pct·total), so picks are
    * reproducible at any scale; output is 4 rows regardless of
    * corpus size.
    */
  def eventsQte(spark: SparkSession, dir: String): DataFrame = {
    val grid = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("variant",
        when(graft.functions.HexExprs.uniformHash(
          col("user_id").cast("string")) < 0.5, "A").otherwise("B"))
      .select(col("variant"),
        round(col("value") * 100).cast("long").as("v_c"))
      .groupBy("variant", "v_c").agg(count(lit(1)).as("w"))
      .withColumn("blk", expr("v_c div 4096"))
    val inBlk = grid.withColumn("cum_in_blk",
      sum("w").over(Window.partitionBy("variant", "blk").orderBy("v_c")))
    val blkTot = grid.groupBy("variant", "blk").agg(sum("w").as("btot"))
    val prefix = blkTot.as("a")
      .join(blkTot.as("b"),
        col("a.variant") === col("b.variant") && col("b.blk") < col("a.blk"),
        "left_outer")
      .groupBy(col("a.variant").as("variant"), col("a.blk").as("blk"))
      .agg(coalesce(sum(col("b.btot")), lit(0L)).as("blk_prefix"))
    val tot = grid.groupBy("variant").agg(sum("w").as("total_n"))
    val qs = spark.createDataFrame(Seq(Tuple1(25L), Tuple1(50L),
      Tuple1(75L), Tuple1(90L))).toDF("q_pct")
    val picks = inBlk.join(broadcast(prefix), Seq("variant", "blk"))
      .withColumn("cum", col("cum_in_blk") + col("blk_prefix"))
      .join(broadcast(tot), "variant")
      .crossJoin(broadcast(qs))
      .filter(col("cum") * 100 >= col("q_pct") * col("total_n"))
      .groupBy("variant", "q_pct").agg(min("v_c").as("qv_c"))
    picks.groupBy("q_pct")
      .agg(sum(when(col("variant") === "A", col("qv_c"))).as("qa_c"),
        sum(when(col("variant") === "B", col("qv_c"))).as("qb_c"))
      .select(col("q_pct"),
        (col("qa_c").cast("double") / 100.0).as("q_a"),
        (col("qb_c").cast("double") / 100.0).as("q_b"),
        ((col("qb_c") - col("qa_c")).cast("double") / 100.0).as("qte"))
      .orderBy("q_pct")
  }

  /** Benford first-digit conformance of purchase amounts — the
    * classic forensic data-quality screen (fabricated or defaulted
    * amounts don't follow log-uniform digit frequencies): observed
    * vs expected share per leading digit 1-9 and the per-digit χ²
    * contribution. Digits come from the CENT integer's decimal
    * string, so digit extraction is exact (no float formatting);
    * the expected share log10(1+1/d) is rounded to 6 decimals
    * BEFORE entering the χ² arithmetic so both engines feed
    * identical doubles into identical expression trees.
    *
    * Scale shape: one map-side-combined 9-group aggregate over the
    * scan; the digit frame (9 rows) and total (1 row) are broadcast.
    * Output is 9 rows at any corpus size.
    */
  def eventsBenford(spark: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase" && col("value") > 0)
      .select(substring(round(col("value") * 100).cast("long")
        .cast("string"), 1, 1).cast("long").as("d"))
      .groupBy("d").agg(count(lit(1)).as("n_obs"))
    val digits = spark.range(1, 10).select(col("id").as("d"))
    val tot = obs.agg(sum("n_obs").as("n_total"))
    digits.join(obs, Seq("d"), "left").na.fill(0L, Seq("n_obs"))
      .crossJoin(broadcast(tot))
      .withColumn("exp_share",
        round(log10(lit(1.0) + lit(1.0) / col("d")), 6))
      .select(col("d"), col("n_obs"),
        round(col("n_obs").cast("double") / col("n_total"), 6)
          .as("obs_share"),
        col("exp_share"),
        round((col("n_obs").cast("double") - col("exp_share") * col("n_total"))
          * (col("n_obs").cast("double") - col("exp_share") * col("n_total"))
          / (col("exp_share") * col("n_total")), 6).as("chi2_term"))
      .orderBy("d")
  }

  /** Bayesian conversion A/B: Beta(1+x, 1+n−x) posteriors per variant
    * over the deterministic 50/50 user split, P(B>A) by exact
    * discrete integration on a FIXED 199-point probability grid
    * (p_k = k/200), posterior means and the mean lift — the "what is
    * the probability B is actually better" read-out stakeholders ask
    * for instead of a p-value. The grid quadrature replaces the
    * closed-form Beta integral so both engines run the identical
    * arithmetic: log-density x·ln p + (n−x)·ln(1−p), max-shifted
    * exp, normalized weights, then Σ w_B(i)·w_A(j) over i>j with
    * half-credit ties.
    *
    * Scale shape: conversion flags are one per-user
    * map-side-combined aggregate; everything after is CONSTANT-size
    * (one stats row broadcast through a 199-row grid and a 199×199
    * broadcast-NLJ pair sum) — the corpus size only ever enters
    * through the one scan. ln/exp are the only transcendental calls
    * and feed a 6-decimal rounding, the [[eventsSequentialMsprt]]
    * precedent for engine-identical floats.
    */
  def eventsBayesianAb(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .withColumn("variant",
        when(graft.functions.HexExprs.uniformHash(
          col("user_id").cast("string")) < 0.5, "A").otherwise("B"))
    val stats = users.agg(
      sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === "A", col("conv")).otherwise(0L)).as("x_a"),
      sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === "B", col("conv")).otherwise(0L)).as("x_b"))
    val grid = spark.range(1, 200)
      .select(col("id").as("k"), (col("id").cast("double") / 200.0).as("p"))
    val l = grid.crossJoin(broadcast(stats))
      .withColumn("la", col("x_a") * log(col("p"))
        + (col("n_a") - col("x_a")) * log(lit(1.0) - col("p")))
      .withColumn("lb", col("x_b") * log(col("p"))
        + (col("n_b") - col("x_b")) * log(lit(1.0) - col("p")))
    val m = l.agg(max("la").as("ma"), max("lb").as("mb"))
    val e = l.crossJoin(broadcast(m))
      .withColumn("ea", exp(col("la") - col("ma")))
      .withColumn("eb", exp(col("lb") - col("mb")))
    val s = e.agg(sum("ea").as("sa"), sum("eb").as("sb"))
    val w = e.crossJoin(broadcast(s))
      .select(col("k"), (col("ea") / col("sa")).as("wa"),
        (col("eb") / col("sb")).as("wb"))
    val prob = w.select(col("k").as("ki"), col("wb").as("wbi"))
      .crossJoin(broadcast(
        w.select(col("k").as("kj"), col("wa").as("waj"))))
      .select(when(col("ki") > col("kj"), col("wbi") * col("waj"))
        .when(col("ki") === col("kj"), col("wbi") * col("waj") * 0.5)
        .otherwise(0.0).as("c"))
      .agg(sum("c").as("pb"))
    stats.crossJoin(prob)
      .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        round((col("x_a") + 1).cast("double") / (col("n_a") + 2), 6)
          .as("post_mean_a"),
        round((col("x_b") + 1).cast("double") / (col("n_b") + 2), 6)
          .as("post_mean_b"),
        round((col("x_b") + 1).cast("double") / (col("n_b") + 2)
          - (col("x_a") + 1).cast("double") / (col("n_a") + 2), 6)
          .as("lift_mean"),
        round(col("pb"), 6).as("p_b_gt_a"))
  }

  /** Winsorized / trimmed A/B means: per-variant purchase-value mean
    * raw, winsorized at the variant's own exact p99 (outliers capped,
    * mass kept) and trimmed above p99 (outliers dropped) — the
    * standard robustification before reading a revenue experiment,
    * since one whale order can swing a raw mean more than the
    * treatment does. The cap is the exact ECDF p99 on the cent grid,
    * so cap choice and both robust means are integer arithmetic
    * until the final /100.
    *
    * Scale shape: identical to [[eventsQte]] — cent-grid collapse,
    * block-partitioned ECDF for the p99 pick, then ONE more
    * aggregate over the same grid (weights × capped values), never a
    * second scan of the raw events. 2 rows out at any scale.
    */
  def eventsWinsorizedAb(spark: SparkSession, dir: String): DataFrame = {
    val grid = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("variant",
        when(graft.functions.HexExprs.uniformHash(
          col("user_id").cast("string")) < 0.5, "A").otherwise("B"))
      .select(col("variant"),
        round(col("value") * 100).cast("long").as("v_c"))
      .groupBy("variant", "v_c").agg(count(lit(1)).as("w"))
      .withColumn("blk", expr("v_c div 4096"))
    val inBlk = grid.withColumn("cum_in_blk",
      sum("w").over(Window.partitionBy("variant", "blk").orderBy("v_c")))
    val blkTot = grid.groupBy("variant", "blk").agg(sum("w").as("btot"))
    val prefix = blkTot.as("a")
      .join(blkTot.as("b"),
        col("a.variant") === col("b.variant") && col("b.blk") < col("a.blk"),
        "left_outer")
      .groupBy(col("a.variant").as("variant"), col("a.blk").as("blk"))
      .agg(coalesce(sum(col("b.btot")), lit(0L)).as("blk_prefix"))
    val tot = grid.groupBy("variant").agg(sum("w").as("total_n"))
    val cap = inBlk.join(broadcast(prefix), Seq("variant", "blk"))
      .withColumn("cum", col("cum_in_blk") + col("blk_prefix"))
      .join(broadcast(tot), "variant")
      .filter(col("cum") * 100 >= col("total_n") * 99)
      .groupBy("variant").agg(min("v_c").as("cap_c"))
    grid.join(broadcast(cap), "variant")
      .groupBy("variant")
      .agg(sum("w").as("n"),
        max("cap_c").as("cap_c"),
        sum(col("w") * col("v_c")).as("sum_raw"),
        sum(col("w") * least(col("v_c"), col("cap_c"))).as("sum_wins"),
        sum(when(col("v_c") <= col("cap_c"), col("w")).otherwise(0L))
          .as("n_trim"),
        sum(when(col("v_c") <= col("cap_c"), col("w") * col("v_c"))
          .otherwise(0L)).as("sum_trim"))
      .select(col("variant"), col("n"),
        (col("cap_c").cast("double") / 100.0).as("cap_p99"),
        round(col("sum_raw").cast("double") / col("n") / 100.0, 6)
          .as("mean_raw"),
        round(col("sum_wins").cast("double") / col("n") / 100.0, 6)
          .as("mean_wins"),
        col("n_trim"),
        round(col("sum_trim").cast("double") / col("n_trim") / 100.0, 6)
          .as("mean_trim"),
        round((col("sum_raw") - col("sum_wins")).cast("double")
          / col("n") / 100.0, 6).as("wins_effect"))
      .orderBy("variant")
  }

  /** Poisson-bootstrap 95% CI for each variant's mean purchase value
    * — the SCALE-CORRECT bootstrap: instead of materializing B
    * resamples (a B× shuffle of the raw data), every row draws a
    * deterministic Poisson(1) weight per replicate b (the classic
    * distributed-bootstrap approximation of multinomial resampling),
    * so the whole thing is a map-side explode into a (variant, b)
    * aggregate. Replicate means are exact BIGINT-cent ratios; the CI
    * is the 3rd/98th of the 100 ordered replicate means (the 2.5/97.5
    * percentile convention at B=100).
    *
    * Scale shape: the ×B explode happens map-side and feeds a
    * 2×B-group aggregate with map-side combine — the shuffle carries
    * 200 partial rows per task, NOT B copies of the corpus; rank
    * selection is a window over 100 rows per variant (bounded); the
    * Poisson draw is an md5-hash inverse-CDF projection (derandomized
    * — retry/engine/partitioning-stable, the privacy_dp_counts
    * discipline). 2 rows out at any corpus size.
    */
  def eventsBootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val B = 100
    val pur = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("variant",
        when(graft.functions.HexExprs.uniformHash(
          col("user_id").cast("string")) < 0.5, "A").otherwise("B"))
      .select(col("variant"), col("event_id"),
        round(col("value") * 100).cast("long").as("v_c"))
    // Poisson(1) inverse CDF on the uniform hash; cumulative e^{-1}/k!
    // breakpoints written as literals so both engines branch on the
    // identical doubles
    def poisson(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(u < 0.36787944117144233, 0L)
        .when(u < 0.7357588823428847, 1L)
        .when(u < 0.9196986029286058, 2L)
        .when(u < 0.9810118431238463, 3L)
        .when(u < 0.9963401531726563, 4L)
        .when(u < 0.9994058151824183, 5L)
        .when(u < 0.999916758850712, 6L)
        .when(u < 0.9999897508033253, 7L)
        .when(u < 0.999998874797402, 8L)
        .otherwise(9L)
    val reps = pur
      .select(col("variant"), col("event_id"), col("v_c"),
        explode(expr(s"sequence(1, $B)")).as("b"))
      .withColumn("w", poisson(graft.functions.HexExprs.uniformHash(
        concat(col("event_id").cast("string"), lit("#boot"),
          col("b").cast("string")))))
      .groupBy("variant", "b")
      .agg(sum(col("w") * col("v_c")).as("swv"), sum("w").as("sw"))
      .withColumn("mean_c", col("swv").cast("double") / col("sw"))
    val ranked = reps.withColumn("rk", row_number().over(
      Window.partitionBy("variant").orderBy(col("mean_c"), col("b"))))
    val ci = ranked.groupBy("variant").agg(
      min(when(col("rk") === 3, col("mean_c"))).as("lo_c"),
      min(when(col("rk") === 98, col("mean_c"))).as("hi_c"))
    val pt = pur.groupBy("variant")
      .agg(count(lit(1)).as("n_purchases"), sum("v_c").as("s_c"))
    pt.join(ci, "variant")
      .select(col("variant"), col("n_purchases"),
        round(col("s_c").cast("double") / col("n_purchases") / 100.0, 6)
          .as("point_mean"),
        round(col("lo_c") / 100.0, 6).as("boot_lo"),
        round(col("hi_c") / 100.0, 6).as("boot_hi"))
      .orderBy("variant")
  }

  /** Weekly growth accounting — the new / retained / resurrected /
    * churned decomposition every growth team runs (net change is
    * meaningless until it is split into these four flows): per week,
    * new = first-ever week, retained = also active the week before,
    * resurrected = returning after a gap ≥2 weeks, churned = active
    * LAST week but not this one (reported against the week they went
    * missing). active ≡ new + retained + resurrected, and
    * net = new + resurrected − churned reconciles consecutive actives
    * — both identities are spec-pinned.
    *
    * Scale shape: presence is one DISTINCT (user, week) projection;
    * the state classification is a per-user lag window (state bounded
    * by one user's weeks); both roll-ups are ≤|weeks|-key aggregates
    * with map-side combine, and churn needs NO second corpus pass —
    * it is last week's active count minus this week's retained,
    * computed by a self-join of the bounded weekly table. |weeks|
    * rows out at any corpus size.
    */
  def eventsGrowthAccounting(spark: SparkSession, dir: String): DataFrame = {
    // weekly presence derives from the shared daily presence pin
    // (week = day div 7 — floor-div composition, 604800 = 7·86400),
    // so the growth family costs ONE corpus distinct total
    val presence = nvrPresence(spark, dir).select(col("user_id"), expr("day div 7").as("week")).distinct()
    val lagged = presence.withColumn("prev_week",
      lag("week", 1).over(Window.partitionBy("user_id").orderBy("week")))
    val weekly = lagged.groupBy("week").agg(
      sum(when(col("prev_week").isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(col("prev_week") === col("week") - 1, 1L).otherwise(0L))
        .as("n_retained"),
      sum(when(col("prev_week").isNotNull &&
        col("prev_week") < col("week") - 1, 1L).otherwise(0L))
        .as("n_resurrected"))
      .withColumn("n_active",
        col("n_new") + col("n_retained") + col("n_resurrected"))
    // complete week calendar: a fully-inactive week must still emit a
    // row (n_active=0, n_churned=prev_active) or the pinned identity
    // net = new + resurrected − churned can't reconcile across gaps —
    // the flows left-join onto the min..max week grid (bounded by the
    // calendar, never corpus-sized)
    val calendar = presence.agg(min("week").as("w0"), max("week").as("w1"))
      .select(explode(sequence(col("w0"), col("w1"))).as("week"))
    val weeklyFull = calendar.join(weekly, Seq("week"), "left")
      .na.fill(0L, Seq("n_new", "n_retained", "n_resurrected", "n_active"))
    val prevActive = weeklyFull.select((col("week") + 1).as("week"),
      col("n_active").as("prev_active"))
    weeklyFull.join(prevActive, Seq("week"), "left")
      .na.fill(0L, Seq("prev_active"))
      .select(col("week"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"),
        (col("prev_active") - col("n_retained")).as("n_churned"))
      .orderBy("week")
  }

  /** DAU/MAU stickiness: per day, daily actives over EXACT trailing-
    * 28-day actives — the engagement-frequency ratio (a 0.5 product
    * is used every other day; 0.03 is monthly). The trailing-28
    * distinct count is NOT a sliding re-count: each user's presence
    * days merge into coverage intervals [first, last+27] (gap >27 ⇒
    * new interval — gaps-and-islands again), intervals become ±1
    * deltas, and MAU(d) is the running delta sum — exact sliding
    * distinct at interval cost.
    *
    * Scale shape: presence is one DISTINCT projection; interval
    * detection is a per-user lag + running-sum window (state bounded
    * by one user's days); deltas GROUP to ≤|days|+28 day keys BEFORE
    * the prefix step, so the prefix is a broadcast
    * calendar-×-calendar containment join (bounded by days², never a
    * global window and never corpus-sized). |days| rows out.
    */
  def eventsStickiness(spark: SparkSession, dir: String): DataFrame = {
    // the (user, day) presence set is the PlanCache'd relation the
    // growth family shares (eventsNewVsReturning's nvr_presence) —
    // both its consumers here (interval build + DAU) read the pin
    // instead of re-scanning and re-distincting the corpus
    val pres = nvrPresence(spark, dir)
    val w = Window.partitionBy("user_id").orderBy("day")
    val iv = pres
      .withColumn("gap", col("day") - lag("day", 1).over(w))
      .withColumn("brk",
        when(col("gap").isNull || col("gap") > 27, 1L).otherwise(0L))
      .withColumn("isl",
        sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "isl")
      .agg(min("day").as("s"), max("day").as("e"))
    val deltas = iv.select(col("s").as("d"), lit(1L).as("delta"))
      .unionAll(iv.select((col("e") + 28).as("d"), lit(-1L).as("delta")))
      .groupBy("d").agg(sum("delta").as("delta"))
    val dau = pres.groupBy("day").agg(count(lit(1)).as("dau"))
    val mau = dau.select("day")
      .join(broadcast(deltas), col("d") <= col("day"))
      .groupBy("day").agg(sum("delta").as("mau28"))
    dau.join(mau, "day")
      .select(col("day"), col("dau"), col("mau28"),
        round(col("dau").cast("double") / col("mau28"), 6)
          .as("stickiness"))
      .orderBy("day")
  }

  /** Repeat-purchase cadence: gaps in days between a user's
    * consecutive DISTINCT purchase days, binned into the standard
    * replenishment buckets (1, 2-3, 4-7, 8-14, 15-30, 31+) — the
    * table behind re-engagement timing and churn-definition choices
    * (defining churn at 30 days is wrong for a 60-day-cadence
    * product). Distinct days first, so same-day repeat orders don't
    * flood the histogram with zero gaps.
    *
    * Scale shape: presence is one DISTINCT projection; gaps are a
    * per-user lag window (state bounded by one user's days); the
    * roll-up is a 6-key aggregate with map-side combine and a
    * broadcast 1-row total. ≤6 rows out.
    */
  def eventsPurchaseCadence(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts_s div 86400").as("day"))
      .distinct()
    val gaps = days
      .withColumn("gap", col("day") - lag("day", 1).over(
        Window.partitionBy("user_id").orderBy("day")))
      .filter(col("gap").isNotNull)
      .withColumn("bucket_order",
        when(col("gap") === 1, 0L)
          .when(col("gap") <= 3, 1L)
          .when(col("gap") <= 7, 2L)
          .when(col("gap") <= 14, 3L)
          .when(col("gap") <= 30, 4L)
          .otherwise(5L))
      .withColumn("bucket",
        when(col("bucket_order") === 0, "1d")
          .when(col("bucket_order") === 1, "2-3d")
          .when(col("bucket_order") === 2, "4-7d")
          .when(col("bucket_order") === 3, "8-14d")
          .when(col("bucket_order") === 4, "15-30d")
          .otherwise("31d+"))
    val cells = gaps.groupBy("bucket_order", "bucket")
      .agg(count(lit(1)).as("n_gaps"), sum("gap").as("sum_days"))
    // total from the 6-row cell table — never a second corpus pass
    val tot = cells.agg(sum("n_gaps").as("n_total"))
    cells
      .crossJoin(broadcast(tot))
      .select(col("bucket_order"), col("bucket"), col("n_gaps"),
        round(col("n_gaps").cast("double") / col("n_total"), 6)
          .as("share"),
        round(col("sum_days").cast("double") / col("n_gaps"), 6)
          .as("avg_gap_days"))
      .orderBy("bucket_order")
  }

  /** Weekend effect on conversion: the share of active user-days that
    * include a purchase, weekday vs weekend, with the two-proportion
    * pooled z — the day-mix sanity check every experiment and
    * forecast should control for (a weekday-launched A/B reads
    * differently if weekends convert at half the rate). Day-of-week
    * comes from epoch-day arithmetic ((day+4) mod 7), never a
    * timezone-dependent date function.
    *
    * Scale shape: presence reads the shared nvr_presence pin; buyer
    * days are one DISTINCT projection of the purchase slice; the
    * flag join is per-(user, day) equi; the z expands from the 2-row
    * cell table's exact counts. 2 rows out.
    */
  def eventsWeekendEffect(spark: SparkSession, dir: String): DataFrame = {
    val pres = nvrPresence(spark, dir).withColumn("is_weekend",
      ((col("day") + 4) % 7).isin(0L, 6L).cast("int"))
    val buys = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts_s div 86400").as("day"))
      .distinct().withColumn("b", lit(1L))
    val cells = pres.join(buys, Seq("user_id", "day"), "left")
      .na.fill(0L, Seq("b"))
      .groupBy("is_weekend")
      .agg(count(lit(1)).as("n_user_days"), sum("b").as("n_buyer_days"))
    val st = cells.agg(
      sum(when(col("is_weekend") === 1, col("n_user_days"))).as("n1"),
      sum(when(col("is_weekend") === 1, col("n_buyer_days"))).as("b1"),
      sum(when(col("is_weekend") === 0, col("n_user_days"))).as("n0"),
      sum(when(col("is_weekend") === 0, col("n_buyer_days"))).as("b0"))
    val p1 = col("b1").cast("double") / col("n1")
    val p0 = col("b0").cast("double") / col("n0")
    val pp = (col("b1") + col("b0")).cast("double") /
      (col("n1") + col("n0")).cast("double")
    val z = (p1 - p0) / sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n1") + lit(1.0) / col("n0")))
    cells.crossJoin(broadcast(st))
      .select(col("is_weekend"), col("n_user_days"), col("n_buyer_days"),
        round(col("n_buyer_days").cast("double") / col("n_user_days"), 6)
          .as("conv_rate"),
        round(p1 - p0, 6).as("weekend_lift"),
        round(z, 6).as("z_pooled"))
      .orderBy("is_weekend")
  }

  /** SPC p-chart for daily conversion: each day's buyer share of
    * active users against the all-period center line with ±3σ
    * binomial control limits (variable by day size — small days get
    * wide limits, the whole point of a p-chart vs a fixed threshold)
    * and an out-of-control flag — the process-control complement to
    * [[eventsAnomalyMad]]'s volume screen: this one watches a RATE.
    *
    * Scale shape: presence reads the shared nvr_presence pin; buyer
    * days are one DISTINCT projection; ONE per-day aggregate; the
    * center line is a 1-row re-aggregate of the bounded daily table,
    * limits are projections. |days| rows out.
    */
  def eventsConversionPchart(spark: SparkSession, dir: String): DataFrame = {
    val pres = nvrPresence(spark, dir)
    val buys = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts_s div 86400").as("day"))
      .distinct().withColumn("b", lit(1L))
    val daily = pres.join(buys, Seq("user_id", "day"), "left")
      .na.fill(0L, Seq("b"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"), sum("b").as("n_buyers"))
    val center = daily.agg(sum("n_buyers").as("tb"), sum("n_active").as("ta"))
    val pbar = col("tb").cast("double") / col("ta")
    val sigma = sqrt(pbar * (lit(1.0) - pbar) / col("n_active"))
    val p = col("n_buyers").cast("double") / col("n_active")
    daily.crossJoin(broadcast(center))
      .select(col("day"), col("n_active"), col("n_buyers"),
        round(p, 6).as("conv_rate"),
        round(pbar, 6).as("center_line"),
        round(greatest(pbar - lit(3.0) * sigma, lit(0.0)), 6).as("lcl"),
        round(least(pbar + lit(3.0) * sigma, lit(1.0)), 6).as("ucl"),
        (p < pbar - lit(3.0) * sigma || p > pbar + lit(3.0) * sigma)
          .cast("int").as("out_of_control"))
      .orderBy("day")
  }

  /** Per-variant funnel A/B: the signup→view→purchase ordered funnel
    * ([[eventsFunnel]]'s step semantics) split by the hash variant,
    * with per-step two-proportion z — the experiment read-out that
    * says WHERE in the funnel a treatment moves (a flat topline often
    * hides one step up and another down).
    *
    * Scale shape: one per-user conditional aggregate (the funnel
    * shape), one 2-key rollup; step z's expand from the 2-row cell
    * table. 2 rows out.
    */
  def eventsFunnelAb(spark: SparkSession, dir: String): DataFrame = {
    val stages = Tables.events(spark, dir)
      .groupBy("user_id").agg(
        min(when(col("event_type") === "signup", col("ts_s"))).as("ts"),
        min(when(col("event_type") === "view", col("ts_s"))).as("tv"),
        min(when(col("event_type") === "purchase", col("ts_s"))).as("tp"))
      .withColumn("variant",
        when(graft.functions.HexExprs.uniformHash(
          col("user_id").cast("string")) < 0.5, "A").otherwise("B"))
      .select(col("variant"),
        col("ts").isNotNull.cast("long").as("s1"),
        (col("ts").isNotNull && col("tv").isNotNull &&
          col("tv") >= col("ts")).cast("long").as("s2"),
        (col("ts").isNotNull && col("tv").isNotNull &&
          col("tp").isNotNull && col("tv") >= col("ts") &&
          col("tp") >= col("tv")).cast("long").as("s3"))
    val cells = stages.groupBy("variant")
      .agg(sum("s1").as("n_signup"), sum("s2").as("n_view"),
        sum("s3").as("n_purchase"))
    val st = cells.agg(
      sum(when(col("variant") === "A", col("n_signup"))).as("s1a"),
      sum(when(col("variant") === "A", col("n_view"))).as("s2a"),
      sum(when(col("variant") === "A", col("n_purchase"))).as("s3a"),
      sum(when(col("variant") === "B", col("n_signup"))).as("s1b"),
      sum(when(col("variant") === "B", col("n_view"))).as("s2b"),
      sum(when(col("variant") === "B", col("n_purchase"))).as("s3b"))
    def z(xa: org.apache.spark.sql.Column, na: org.apache.spark.sql.Column,
          xb: org.apache.spark.sql.Column, nb: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = {
      val pa = xa.cast("double") / na
      val pb = xb.cast("double") / nb
      val pp = (xa + xb).cast("double") / (na + nb).cast("double")
      (pb - pa) / sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / na + lit(1.0) / nb))
    }
    cells.crossJoin(broadcast(st))
      .select(col("variant"), col("n_signup"), col("n_view"),
        col("n_purchase"),
        round(col("n_view").cast("double") / col("n_signup"), 6)
          .as("view_rate"),
        round(col("n_purchase").cast("double") / col("n_view"), 6)
          .as("purchase_rate"),
        round(z(col("s2a"), col("s1a"), col("s2b"), col("s1b")), 6)
          .as("z_view_step"),
        round(z(col("s3a"), col("s2a"), col("s3b"), col("s2b")), 6)
          .as("z_purchase_step"))
      .orderBy("variant")
  }

  /** Retention half-life: the aggregate day-1..7 retention curve
    * restricted to fully-observed cohorts (cohort day ≤ last day − 7,
    * so every point is censoring-free), with an exponential-decay fit
    * ln R(t) = a − λt and the implied half-life ln2/λ — the single
    * number that compresses a retention curve for cross-product
    * comparison (and the sanity check: λ≤0 means retention does not
    * decay and the "half-life" framing is wrong for this product).
    *
    * Scale shape: cohorts are one per-user min aggregate; the curve
    * is a ≤7-key aggregate over the offset join; the OLS fit is a
    * constant-size aggregate over 7 points (the zipf_fit shape).
    * 7 rows out (curve + fit columns repeated).
    */
  def eventsRetentionHalflife(spark: SparkSession, dir: String): DataFrame = {
    // all three reads (max day, cohorts, activity) come off the shared
    // nvr_presence pin — one corpus distinct for the whole growth family
    val e = nvrPresence(spark, dir)
    val maxDay = e.agg(max("day").as("max_day"))
    val cohort = e.groupBy("user_id").agg(min("day").as("cohort_day"))
    val eligible = cohort.crossJoin(broadcast(maxDay))
      .filter(col("cohort_day") <= col("max_day") - 7)
      .select("user_id", "cohort_day")
    val base = eligible.agg(count(lit(1)).as("n_cohort"))
    val activity = e.join(eligible, "user_id")
      .withColumn("t", col("day") - col("cohort_day"))
      .filter(col("t") >= 1 && col("t") <= 7)
      .select("user_id", "t").distinct()
      .groupBy("t").agg(count(lit(1)).as("n_active"))
    val pts = activity.crossJoin(broadcast(base))
      .select(col("t"), col("n_active"), col("n_cohort"),
        round(col("n_active").cast("double") / col("n_cohort"), 6)
          .as("retention"))
    val fitIn = pts.select(col("t").cast("double").as("x"),
      log(col("n_active").cast("double") / col("n_cohort")).as("y"))
    val s = fitIn.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val lambda = -(col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    val fit = s.select(round(lambda, 6).as("lambda"),
      round(when(lambda > 0, log(lit(2.0)) / lambda), 6)
        .as("half_life_days"))
    pts.crossJoin(broadcast(fit))
      .select(col("t"), col("n_cohort"), col("n_active"),
        col("retention"), col("lambda"), col("half_life_days"))
      .orderBy("t")
  }

  /** Trend-aware volume forecast via Brown's double exponential
    * smoothing (α=0.3): s1 = EWMA(y), s2 = EWMA(s1), level =
    * 2s1−s2, trend = α/(1−α)·(s1−s2), 7-day-ahead = level+7·trend —
    * the next step up from [[eventsForecastBaseline]]'s seasonal
    * naive when volume carries a drift the naive can't see. EWMAs
    * expand to their closed-form weighted sums (w = α(1−α)^(t−k),
    * first term keeps the full (1−α)^t mass so weights sum to 1),
    * every weighted term rounds to nano-units before summation —
    * both engines add identical integers; s2's terms build on the
    * already-rounded s1 values, so the whole recurrence is
    * engine-exact.
    *
    * Scale shape: the daily series is one corpus aggregate; both
    * EWMA expansions are triangle joins over the ≤|days| grid
    * (bounded by the calendar², never corpus-sized); everything
    * after is projections. |days| rows out.
    */
  def eventsForecastDes(spark: SparkSession, dir: String): DataFrame = {
    val a = 0.3
    val daily = Tables.events(spark, dir)
      .groupBy(expr("ts_s div 86400").as("day"))
      .agg(count(lit(1)).as("y"))
    // densify the day grid before the closed-form expansion: the EWMA
    // weights w(t,0)=(1−α)^t, w(t,k)=α(1−α)^(t−k) only sum to 1 when
    // every k in 0..t is present — a zero-event day absent from
    // `daily` would silently under-sum the weights and bias level and
    // trend low, so interior gaps surface explicitly as y=0 rows
    val span = daily.agg(min("day").as("d0"), max("day").as("d1"))
    val g = span
      .select(col("d0"),
        explode(sequence(lit(0L), col("d1") - col("d0"))).as("t"))
      .withColumn("day", col("t") + col("d0"))
      .join(daily, Seq("day"), "left")
      .select(col("t"), coalesce(col("y"), lit(0L)).as("y"))
    // closed-form EWMA over a bounded grid: x_t = Σ_k w(t,k)·v_k with
    // w = α(1−α)^(t−k) for k>0 and (1−α)^t + α(1−α)^t... — the k=0
    // term carries weight (1−α)^t + α(1−α)^t·0 — implemented as:
    // w(t,0) = (1−α)^t (init mass), w(t,k) = α(1−α)^(t−k) for k≥1
    def ewma(in: DataFrame, vcol: String, out: String): DataFrame = {
      val pairs = in.select(col("t").as("k"), col(vcol).as("v"))
        .join(broadcast(in.select(col("t"))), col("k") <= col("t"))
        .withColumn("w",
          when(col("k") === 0, pow(lit(1.0 - a), col("t")))
            .otherwise(lit(a) * pow(lit(1.0 - a), col("t") - col("k"))))
        .withColumn("term_u9",
          round(col("w") * col("v") * 1e9).cast("long"))
      pairs.groupBy("t")
        .agg((sum("term_u9").cast("double") / 1e9).as(out))
    }
    val s1 = ewma(g.select(col("t"), col("y").cast("double").as("v")),
      "v", "s1")
    val s2 = ewma(s1.select(col("t"), col("s1").as("v")), "v", "s2")
    val lvl = (lit(2.0) * col("s1")) - col("s2")
    val trd = lit(a / (1.0 - a)) * (col("s1") - col("s2"))
    g.join(s1, "t").join(s2, "t")
      .select(col("t").as("day_idx"), col("y").as("actual"),
        round(col("s1"), 6).as("s1"),
        round(col("s2"), 6).as("s2"),
        round(lvl, 6).as("level"),
        round(trd, 6).as("trend"),
        round(lvl + lit(7.0) * trd, 6).as("forecast_7d"))
      .orderBy("day_idx")
  }

  /** Levene/Brown-Forsythe variance-homogeneity test for the A/B
    * split: F-test on per-observation absolute deviations from the
    * GROUP mean — the check that the variants differ (or not) in
    * SPREAD, not just mean (a treatment that widens the revenue
    * distribution passes every mean test and still changes the
    * business). Deviations round to integer cents per row (both
    * engines compute |v − mean| from the same exact-integer mean),
    * then the one-way F expands from exact BIGINT deviation moments.
    *
    * Scale shape: two passes — one per-variant exact-moment
    * aggregate (broadcast back), one deviation-moment aggregate —
    * both map-side-combined; the F is a projection on the 2-row cell
    * table. 2 rows out.
    */
  def eventsLeveneVariance(spark: SparkSession, dir: String): DataFrame = {
    val pur = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("variant",
        when(graft.functions.HexExprs.uniformHash(
          col("user_id").cast("string")) < 0.5, "A").otherwise("B"))
      .select(col("variant"),
        round(col("value") * 100).cast("long").as("v_c"))
    val means = pur.groupBy("variant")
      .agg(count(lit(1)).as("n_g"), sum("v_c").as("s_g"))
    val dev = pur.join(broadcast(means), "variant")
      .withColumn("z_c", abs(col("v_c").cast("double")
        - col("s_g").cast("double") / col("n_g")))
      .withColumn("z", round(col("z_c")).cast("long"))
      .groupBy("variant")
      .agg(count(lit(1)).as("n_g"), sum("z").as("sz"),
        sum(col("z") * col("z")).as("szz"))
      .withColumn("bt_u6", round(
        col("sz").cast("double") * col("sz") / col("n_g") * 1e-2)
        .cast("long"))
    val st = dev.agg(count(lit(1)).as("g"), sum("n_g").as("n"),
      sum("sz").as("s"), sum("szz").as("sq"), sum("bt_u6").as("bt"))
    val n = col("n").cast("double")
    val gD = col("g").cast("double")
    val ssb = col("bt").cast("double") * 1e2 -
      col("s").cast("double") * col("s") / n
    val ssw = col("sq").cast("double") - col("bt").cast("double") * 1e2
    val f = (ssb / (gD - 1)) / (ssw / (n - gD))
    dev.crossJoin(broadcast(st))
      .select(col("variant"), col("n_g").as("n"),
        round(col("sz").cast("double") / col("n_g") / 100.0, 6)
          .as("mean_abs_dev"),
        round(f, 6).as("levene_f"),
        (col("g") - 1).as("dof_between"),
        (col("n") - col("g")).as("dof_within"))
      .orderBy("variant")
  }

  /** One-way ANOVA of event value across event types: per-type exact
    * moments, the F statistic MSB/MSW, and η² (the variance share
    * the grouping explains) — "does value differ by type at all"
    * before anyone builds per-type models. Same exact-sufficient-
    * statistics discipline as [[eventsValueIcc]]: per-type s²/n
    * rounds to micro-units before the group sum, grand terms expand
    * in the same units.
    *
    * Scale shape: ONE per-type aggregate (two BIGINTs each) + a
    * 1-row reduce; per-type rows re-read the bounded cell table.
    * |types| rows out (F/η² repeated — cells AND test in one table).
    */
  def eventsValueAnova(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("v_c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_g"), sum("v_c").as("s_g"),
        sum(col("v_c") * col("v_c")).as("sq_g"))
      .withColumn("bt_u6", round(
        col("s_g").cast("double") * col("s_g") / col("n_g") * 1e-2)
        .cast("long"))
    val st = per.agg(count(lit(1)).as("g"), sum("n_g").as("n"),
      sum("s_g").as("s"), sum("sq_g").as("sq"), sum("bt_u6").as("bt"))
    val n = col("n").cast("double")
    val gD = col("g").cast("double")
    val ssb = col("bt").cast("double") * 1e2 -
      col("s").cast("double") * col("s") / n
    val ssw = col("sq").cast("double") - col("bt").cast("double") * 1e2
    val f = (ssb / (gD - 1)) / (ssw / (n - gD))
    val eta2 = ssb / (ssb + ssw)
    per.crossJoin(broadcast(st))
      .select(col("event_type"), col("n_g").as("n"),
        round(col("s_g").cast("double") / col("n_g") / 100.0, 6)
          .as("mean_value"),
        round(f, 6).as("f_stat"),
        round(eta2, 6).as("eta_sq"),
        (col("g") - 1).as("dof_between"),
        (col("n") - col("g")).as("dof_within"))
      .orderBy("event_type")
  }

  /** Top daily movers: the 20 largest day-over-day volume swings per
    * (event type, day), by absolute log-ratio — the "what changed
    * yesterday" triage table an on-call run starts with (log-ratio
    * ranks a 3×-up the same as a 3×-down and is size-independent, so
    * small types don't drown big ones). Laplace +1 keeps day-zero
    * ratios finite.
    *
    * Scale shape: ONE (type, day) corpus aggregate; the lag window
    * runs per type over its ≤|days| rows; top-20 via TakeOrdered on
    * a (|log-ratio|, type, day) total order. 20 rows out.
    */
  def eventsTopMovers(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("ts_s div 86400").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val moved = daily
      .withColumn("prev_n", lag("n", 1).over(w))
      .withColumn("prev_day", lag("day", 1).over(w))
      .filter(col("prev_day") === col("day") - 1)
      .withColumn("log_ratio", round(
        log((col("n").cast("double") + 1.0)
          / (col("prev_n").cast("double") + 1.0)), 6))
      .withColumn("abs_lr", abs(col("log_ratio")))
    moved
      .orderBy(col("abs_lr").desc, col("event_type"), col("day"))
      .limit(20)
      .select(col("event_type"), col("day"), col("prev_n"), col("n"),
        col("log_ratio"),
        round((col("n") - col("prev_n")).cast("double")
          / col("prev_n"), 6).as("pct_change"))
  }

  /** Pipeline freshness monitor: per event type, the last-seen
    * timestamp, its lag behind the stream's global high-water mark,
    * the event count in the final hour, and a stalled flag (lag >
    * 1h) — the first dashboard an on-call engineer checks when a
    * producer dies silently (volume alarms miss a single dead type
    * if the others keep flowing).
    *
    * Scale shape: ONE per-type aggregate computes last-seen and the
    * final-hour count against the broadcast 1-row high-water mark;
    * no second pass. |types| rows out.
    */
  def eventsFreshness(spark: SparkSession, dir: String): DataFrame = {
    val hwm = Tables.events(spark, dir).agg(max("ts_s").as("hwm"))
    Tables.events(spark, dir)
      .crossJoin(broadcast(hwm))
      .groupBy("event_type")
      .agg(max("ts_s").as("last_ts_s"),
        sum(when(col("ts_s") > col("hwm") - 3600, 1L).otherwise(0L))
          .as("events_last_hour"),
        max("hwm").as("hwm"))
      .select(col("event_type"), col("last_ts_s"),
        (col("hwm") - col("last_ts_s")).as("lag_s"),
        col("events_last_hour"),
        (col("hwm") - col("last_ts_s") > 3600).cast("int").as("stalled"))
      .orderBy("event_type")
  }

  /** Variance decomposition of purchase value: between-user vs
    * within-user sums of squares, the intraclass correlation
    * ICC = (MSB−MSW)/(MSB+(k̄−1)·MSW), and the design effect
    * 1+(k̄−1)·ICC — the numbers that decide whether an experiment
    * must randomize by USER (high ICC: a user's purchases are
    * clones, per-event randomization fakes its sample size) and how
    * much CUPED-style user-level modeling can help. Sums of squares
    * expand from exact per-user BIGINT-cent sufficient statistics;
    * the per-user term s_u²/n_u rounds to micro-units before the
    * user sum, so both engines add identical integers.
    *
    * Scale shape: one per-user aggregate (two BIGINTs each), one
    * 1-row reduce — no value buffering anywhere. 1 row out.
    */
  def eventsValueIcc(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("v_c"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_u"), sum("v_c").as("s_u"),
        sum(col("v_c") * col("v_c")).as("sq_u"))
      .filter(col("n_u") >= 1)
      .withColumn("bt_u6", round(
        col("s_u").cast("double") * col("s_u") / col("n_u") * 1e-2)
        .cast("long"))
    val st = per.agg(count(lit(1)).as("g"), sum("n_u").as("n"),
      sum("s_u").as("s"), sum("sq_u").as("sq"), sum("bt_u6").as("bt"))
    // bt is Σ s_u²/n_u in units of 1e-2 cent² (u6-style per-user
    // rounding); grand terms expand in the same units
    val n = col("n").cast("double")
    val gD = col("g").cast("double")
    val ssb = col("bt").cast("double") * 1e2 -
      col("s").cast("double") * col("s") / n
    val ssw = col("sq").cast("double") - col("bt").cast("double") * 1e2
    val msb = ssb / (gD - 1)
    val msw = ssw / (n - gD)
    val kbar = n / gD
    val icc = (msb - msw) / (msb + (kbar - lit(1.0)) * msw)
    st.select(col("g").as("n_users"), col("n").as("n_purchases"),
      round(ssb / 1e4, 2).as("ss_between"),
      round(ssw / 1e4, 2).as("ss_within"),
      round(icc, 6).as("icc"),
      round(lit(1.0) + (kbar - lit(1.0)) * icc, 6).as("design_effect"))
      .orderBy("n_users")
  }

  /** Feature co-usage matrix: for every event-type pair, the Jaccard
    * and overlap coefficient of their USER sets — the product-
    * analytics table behind bundling/cross-sell and funnel-ordering
    * decisions (which behaviors share an audience). Diagonal-free,
    * type_a < type_b.
    *
    * Scale shape: the (type, user) relation is one DISTINCT
    * projection; the pair join is an equi-join ON THE USER, so
    * per-key fanout is bounded by |types|² (a constant), never
    * user-pairs; per-type sizes re-aggregate the distinct relation
    * once and broadcast. ≤|types|² rows out.
    */
  def eventsTypeOverlap(spark: SparkSession, dir: String): DataFrame = {
    val tu = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val per = tu.groupBy("event_type").agg(count(lit(1)).as("nu"))
    val pairs = tu.select(col("event_type").as("type_a"), col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")),
        "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(per.select(col("event_type").as("type_a"),
        col("nu").as("n_a"))), "type_a")
      .join(broadcast(per.select(col("event_type").as("type_b"),
        col("nu").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_both"),
        col("n_a"), col("n_b"),
        round(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")), 6).as("jaccard"),
        round(col("n_both").cast("double") /
          least(col("n_a"), col("n_b")), 6).as("overlap_coef"))
      .orderBy("type_a", "type_b")
  }
}
