package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-quality metrics: the dbt `unique` / `not_null` column tests
  * (reference firmable_dbt/models/abr_companies_quality.yml) plus the
  * analytics.data_quality_metrics row shape
  * (sql/schema_postgres.sql:86-96) — metric_name, metric_value,
  * threshold, status — computed as one pass of conditional
  * aggregations per table (no per-metric rescans).
  */
object Quality {

  def qualityMetrics(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)

    // One aggregation pass per table; each metric is a conditional
    // agg. Each 1-row aggregate is PlanCache-cached: the metric rows
    // union inlines its subtree once per branch, and Spark does no
    // cross-branch CSE — uncached, cleanCc's scan+shuffle would run
    // once per cc metric. Routing through PlanCache (not bare
    // persist) keeps the blocks reclaimable via clear()/invalidate.
    val om = graft.PlanCache.cached("quality_om", spark, dir)(o.agg(
      count(lit(1)).as("n_rows"),
      count(col("o_orderkey")).as("key_nonnull"),
      countDistinct(col("o_orderkey")).as("key_distinct"),
      sum(when(col("o_totalprice") > 0, 1L).otherwise(0L)).as("price_positive"),
      sum(when(col("o_orderpriority").rlike("^[1-5]-"), 1L).otherwise(0L)).as("prio_valid")))
    val cm = graft.PlanCache.cached("quality_cm", spark, dir)(c.agg(
      count(lit(1)).as("n_rows"),
      count(col("c_name")).as("name_nonnull"),
      countDistinct(col("c_custkey")).as("key_distinct"),
      sum(when(col("c_acctbal") >= -1000, 1L).otherwise(0L)).as("bal_in_range")))
    // metrics over the cleaned Common-Crawl OUTPUT (the dbt
    // common_crawl_quality.yml url/company_name unique+not_null
    // tests) — quality is asserted post-clean, not just on sources
    val ccm = graft.PlanCache.cached("quality_ccm", spark, dir)(
      Cleaning.cleanCc(spark, dir).agg(
        count(lit(1)).as("n_rows"),
        count(col("website_url")).as("url_nonnull"),
        count(col("company_name")).as("name_nonnull"),
        countDistinct(col("website_url"), col("company_name")).as("pair_distinct")))

    def metric(src: DataFrame, table: String, name: String,
               value: org.apache.spark.sql.Column, threshold: Double): DataFrame =
      src.select(
        lit(table).as("table_name"),
        lit(name).as("metric_name"),
        round(value, 6).as("metric_value"),
        lit(threshold).as("threshold_value"),
        when(round(value, 6) >= threshold, "pass").otherwise("fail").as("status"))

    val rows = Seq(
      metric(om, "orders", "not_null_rate_o_orderkey",
        col("key_nonnull").cast("double") / col("n_rows"), 1.0),
      metric(om, "orders", "unique_rate_o_orderkey",
        col("key_distinct").cast("double") / col("n_rows"), 1.0),
      metric(om, "orders", "positive_rate_o_totalprice",
        col("price_positive").cast("double") / col("n_rows"), 0.99),
      metric(om, "orders", "valid_rate_o_orderpriority",
        col("prio_valid").cast("double") / col("n_rows"), 0.99),
      metric(cm, "customer", "not_null_rate_c_name",
        col("name_nonnull").cast("double") / col("n_rows"), 1.0),
      metric(cm, "customer", "unique_rate_c_custkey",
        col("key_distinct").cast("double") / col("n_rows"), 1.0),
      metric(cm, "customer", "in_range_rate_c_acctbal",
        col("bal_in_range").cast("double") / col("n_rows"), 0.95),
      metric(ccm, "cc_cleaned", "not_null_rate_website_url",
        col("url_nonnull").cast("double") / col("n_rows"), 1.0),
      metric(ccm, "cc_cleaned", "not_null_rate_company_name",
        col("name_nonnull").cast("double") / col("n_rows"), 1.0),
      metric(ccm, "cc_cleaned", "unique_rate_url_name",
        col("pair_distinct").cast("double") / col("n_rows"), 1.0))
    rows.reduce(_ unionAll _).orderBy("table_name", "metric_name")
  }

  /** The curation end product: one keep/drop decision per document,
    * combining the independent filter signals — exact-duplicate
    * keeper status, Gopher repetition verdict, heuristic quality
    * bucket, and benchmark contamination — with a fixed precedence
    * (duplicate > contaminated > repetitive > low-quality). This is
    * the training-data analog of [[graft.operators.Matching.entityEnriched]]:
    * the table a downstream consumer actually reads.
    *
    * Every signal is a per-doc relation keyed by doc_id, so the
    * combination is equi-joins on the primary key — co-partitioned
    * after the first shuffle, no signal rescans the corpus twice.
    */
  def curationDecisions(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val keepers = docs.groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("keeper"))
    val dup = docs.select(col("doc_id"), md5(col("text")).as("h"))
      .join(keepers, "h")
      .select(col("doc_id"), (col("doc_id") =!= col("keeper")).cast("int").as("is_dup"))
    val rep = TextAnalysis.textRepetition(spark, dir)
      .select(col("doc_id"), (col("verdict") === "drop").cast("int").as("is_repetitive"))
    val qual = TextAnalysis.textQuality(spark, dir)
      .select(col("doc_id"), (col("quality_bucket") =!= "ok").cast("int").as("is_lowq"))
    val contam = Dedup.contaminationNgram(spark, dir)
      .select("doc_id").distinct()
      .withColumn("is_contaminated", lit(1))
    dup.join(rep, "doc_id").join(qual, "doc_id")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("is_contaminated", coalesce(col("is_contaminated"), lit(0)))
      .withColumn("decision",
        when(col("is_dup") === 1, "drop_duplicate")
          .when(col("is_contaminated") === 1, "drop_contaminated")
          .when(col("is_repetitive") === 1, "drop_repetitive")
          .when(col("is_lowq") === 1, "drop_quality")
          .otherwise("keep"))
      .select("doc_id", "is_dup", "is_repetitive", "is_lowq", "is_contaminated", "decision")
      .orderBy("doc_id")
  }

  /** ANALYZE-style table profile of the orders table: per column, row
    * count, null count, exact distinct count, and numeric min/max —
    * the statistics a warehouse gathers to drive join planning and
    * that a data engineer reads before trusting a new feed.
    *
    * Scale shape: one aggregation PER COLUMN, unioned — each branch's
    * parquet scan prunes to that single column (total bytes read ≈
    * the table once, spread over narrow scans), each distinct is the
    * plain two-phase aggregate (no multi-distinct Expand), and every
    * branch's output is one row. Timestamps profile as epoch seconds
    * so min/max stay engine-portable numerics.
    */
  /** CDC snapshot diff demonstrated on the orders table: the "next"
    * snapshot is derived deterministically (every 97th key deleted,
    * every 100th repriced +1, every 101st cloned as a new key), and
    * [[graft.sources.Sinks.snapshotDiff]] classifies the changes —
    * one full outer key join, output O(changes) not O(table).
    */
  def tableDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
    val next = o.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 100 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .unionByName(o.filter(col("o_orderkey") % 101 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_totalprice")))
    graft.sources.Sinks.snapshotDiff(o, next, Seq("o_orderkey"), "o_totalprice")
      .orderBy("o_orderkey")
  }

  def tableProfile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def prof(name: String, c: org.apache.spark.sql.Column,
             numeric: Option[org.apache.spark.sql.Column]): DataFrame =
      o.agg(
        count(lit(1)).as("n_rows"),
        sum(when(c.isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(c).as("n_distinct"),
        numeric.map(n => round(min(n), 6)).getOrElse(lit(null).cast("double")).as("min_val"),
        numeric.map(n => round(max(n), 6)).getOrElse(lit(null).cast("double")).as("max_val"))
        .select(lit(name).as("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_val"), col("max_val"))
    Seq(
      prof("o_orderkey", col("o_orderkey"), Some(col("o_orderkey").cast("double"))),
      prof("o_custkey", col("o_custkey"), Some(col("o_custkey").cast("double"))),
      prof("o_totalprice", col("o_totalprice"), Some(col("o_totalprice"))),
      // NTZ timestamps refuse a direct long cast (the Tables.events
      // lesson) — go through to_unix_timestamp
      prof("o_orderdate", col("o_orderdate"),
        Some(expr("to_unix_timestamp(o_orderdate)").cast("double"))),
      prof("o_orderstatus", col("o_orderstatus"), None),
      prof("o_orderpriority", col("o_orderpriority"), None))
      .reduce(_.unionByName(_))
      .orderBy("column_name")
  }

  /** Corpus mixture report — the "data card" every training corpus
    * ships with: per (source, lang) cell, document and token counts,
    * the cell's share of the corpus token budget, and mean document
    * length. This is the table a mixture-weighting step (DSIR,
    * temperature sampling) consumes as its sampling frame, and the
    * first thing audited when a trained model's language balance is
    * questioned. One map-side token count per doc, one grouped
    * aggregation, a broadcast one-row total — output is
    * |sources|×|langs| rows regardless of corpus size.
    */
  /** Partition-layout skew report (the small-files / hot-partition
    * diagnostic a lakehouse compaction job reads): per source-key
    * partition, row and byte totals, byte share, skew vs the MEAN
    * partition (the balance number an even layout would hit), and
    * the file count a compactor should emit at the target file size
    * (ceil division, min 1). The input to "which partitions need
    * salting / compaction".
    *
    * Scale shape: one map-side-combining aggregate by partition key
    * + a one-row broadcast total — the report is |partitions| rows
    * regardless of corpus size; the recommendation is pure integer
    * arithmetic (no float file counts).
    */
  def layoutSkewReport(spark: SparkSession, dir: String,
                       targetBytes: Long = 1L << 20): DataFrame = {
    val per = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col("text")).cast("long")).as("bytes"))
    val tot = per.agg(sum("bytes").as("total_bytes"),
      count(lit(1)).as("n_parts"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("bytes"),
        round(col("bytes").cast("double") / col("total_bytes"), 6)
          .as("byte_share"),
        round(col("bytes").cast("double") * col("n_parts")
          / col("total_bytes"), 6).as("skew_vs_mean"),
        greatest(lit(1L),
          expr(s"(bytes + ${targetBytes - 1}) div $targetBytes"))
          .as("files_recommended"))
      .orderBy("source")
  }

  def corpusMixtureReport(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), "\\s+")).cast("long"))
    val cells = d.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        round(avg(col("n_chars").cast("double")), 6).as("avg_chars"))
    val total = cells.agg(sum("n_tokens").as("tot"))
    cells.crossJoin(broadcast(total))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tot").cast("double"), 6)
          .as("token_share"),
        col("avg_chars"))
      .orderBy("source", "lang")
  }

  /** Zone-map pruning simulation — the measured case for sorted /
    * clustered layout (the read-side twin of [[layoutSkewReport]]'s
    * write-side compaction): shard lineitem 32 ways under (a) the
    * content-hash layout every ingest defaults to and (b) a
    * ship-day-clustered layout, record each shard's [min,max] day
    * zone, then count how many shards a point query on each of 10
    * probe days must read under min/max file skipping. Hash layout:
    * every shard spans the full range, zero skipping. Clustered:
    * ~1/32 of files read — the quantified argument for z-order /
    * sort-on-write at 100 TB, where the difference is the whole
    * scan bill.
    *
    * Scale shape: two corpus scans total — one (column-pruned
    * min/max) for the day span, one that computes BOTH shard ids
    * map-side and explodes each row into its two (layout, shard)
    * assignments feeding ONE 64-group aggregate with map-side
    * combine (an exploded second copy of a 3-column projection is
    * far cheaper than the second full scan the two-aggregate shape
    * would cost); probes are a constant 10-row frame joined to the
    * broadcast 64-row zone table (non-equi on the containment
    * predicate — a 640-pair constant-size NLJ, corpus size enters
    * only through the scans). 10 rows out.
    */
  def layoutPruningSim(spark: SparkSession, dir: String): DataFrame = {
    val S = 32L
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        datediff(col("l_shipdate"), lit("1992-01-01").cast("date"))
          .cast("long").as("day"))
    // the 1-row span scalar is referenced by three consumers (zones,
    // probes, and the probe re-join); PlanCache it so the min/max scan
    // runs once, not once per reference
    val span = graft.PlanCache.cached("layout_span", spark, dir) {
      li.agg(min("day").as("d0"), max("day").as("d1"))
    }
    val zones = li.crossJoin(broadcast(span))
      .select(col("day"), explode(array(
        struct(lit("hash").as("layout"),
          floor(graft.functions.HexExprs.uniformHash(
            concat(col("l_orderkey").cast("string"), lit(":"),
              col("l_linenumber").cast("string"))) * S).cast("long")
            .as("shard")),
        struct(lit("sorted").as("layout"),
          least(lit(S - 1), expr(s"($S * (day - d0)) div (d1 - d0 + 1)"))
            .as("shard")))).as("ls"))
      .groupBy(col("ls.layout").as("layout"), col("ls.shard").as("shard"))
      .agg(min("day").as("mn"), max("day").as("mx"))
    val qs = spark.range(1, 11).select(col("id").as("q_idx"))
      .crossJoin(broadcast(span))
      .select(col("q_idx"),
        (col("d0") + expr("(q_idx * (d1 - d0)) div 10")).as("q_day"))
    val hits = qs.join(broadcast(zones),
        col("mn") <= col("q_day") && col("q_day") <= col("mx"))
      .groupBy("q_idx", "q_day")
      .agg(sum(when(col("layout") === "hash", 1L).otherwise(0L))
          .as("files_hash"),
        sum(when(col("layout") === "sorted", 1L).otherwise(0L))
          .as("files_sorted"))
    qs.join(hits, Seq("q_idx", "q_day"), "left")
      .na.fill(0L, Seq("files_hash", "files_sorted"))
      .select(col("q_idx"), col("q_day"),
        col("files_hash"), col("files_sorted"),
        round(lit(1.0) - col("files_hash").cast("double") / S, 6)
          .as("prune_ratio_hash"),
        round(lit(1.0) - col("files_sorted").cast("double") / S, 6)
          .as("prune_ratio_sorted"))
      .orderBy("q_idx")
  }
}
