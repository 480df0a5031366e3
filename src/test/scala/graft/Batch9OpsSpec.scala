package graft

import org.apache.spark.sql.functions._

/** Invariants for the quantization / tokenizer-training / attribution
  * batch. Value parity vs DuckDB is covered by Verify + check_oracle;
  * these pin semantics and plan shape.
  */
class Batch9OpsSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("embed_quantize_int8: codes bounded, error bounded by half a quantization step") {
    val out = operators.Similarity.embedQuantizeInt8(spark, sf).cache()
    assert(out.count() == 64) // one row per embedding dimension
    assert(out.filter(col("max_code") > 127).count() == 0)
    assert(out.filter(col("scale") <= 0).count() == 0)
    // |x - dequant(x)| <= scale/127/2 pointwise, so the mean obeys it too
    assert(out.filter(
      col("avg_abs_err") > col("scale") / lit(254.0) + lit(1e-9)).count() == 0)
    out.unpersist()
  }

  test("bpe_pair_merge: pairs are 2 chars and the top count matches a direct recount") {
    val out = operators.TextAnalysis.bpePairMerge(spark, sf).cache()
    assert(out.filter(length(col("pair")) =!= 2).count() == 0)
    val rows = out.orderBy("rank").collect()
    assert(rows.map(_.getAs[Long]("cnt")).sliding(2).forall(w => w(0) >= w(1)))
    // independent recount of the #1 pair straight off the corpus
    val top = rows.head.getAs[String]("pair")
    val direct = Tables.documents(spark, sf)
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("p"))
      .filter(col("p") === top).count()
    assert(rows.head.getAs[Long]("cnt") == direct)
    out.unpersist()
  }

  test("events_attribution: plans through AsofJoinExec; shares sum to 1; purchases conserved") {
    val df = operators.Events.eventsAttribution(spark, sf)
    assert(plan(df).contains("AsofJoin"), "latest-prior lookup must be the custom exec")
    val rows = df.collect()
    val channels = rows.map(_.getAs[String]("channel")).toSet
    assert(channels.subsetOf(Set("view", "click", "unattributed")))
    val nPurch = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(rows.map(_.getAs[Long]("n_purchases")).sum == nPurch)
    val shareSum = rows.map(_.getAs[Double]("rev_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-4)
  }

  test("events_session_stats: session counts conserve the sessionize output") {
    val out = operators.Events.eventsSessionStats(spark, sf).collect()
    val nSessions = operators.Events.eventsSessionize(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_sessions")).sum == nSessions)
    // avg duration of a 1-event session is 0 by construction
    out.find(_.getAs[String]("bucket") == "1")
      .foreach(r => assert(r.getAs[Double]("avg_duration_s") == 0.0))
  }

  test("orders_ntile: quartiles within a nation are balanced (sizes differ by <= 1)") {
    val out = operators.Olap.ordersNtile(spark, sf).cache()
    val skew = out.groupBy("nationkey")
      .agg((max("n_cust") - min("n_cust")).as("spread"))
      .filter(col("spread") > 1).count()
    assert(skew == 0)
    // every ordering customer lands in exactly one quartile
    val total = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(out.agg(sum("n_cust")).head.getLong(0) == total)
    out.unpersist()
  }

  test("knn_recall_eval: hits bounded by k and by the candidate count") {
    val r = operators.Similarity.knnRecallEval(spark, sf).head()
    val (k, nc, nh, recall) = (r.getAs[Int]("k"), r.getAs[Long]("n_candidates"),
      r.getAs[Long]("n_hits"), r.getAs[Double]("recall"))
    assert(nh <= k && nh <= nc)
    assert(recall == nh.toDouble / k)
  }

  test("events_heatmap: cells bounded by 168 and counts conserve the stream") {
    val out = operators.Events.eventsHeatmap(spark, sf).cache()
    assert(out.count() <= 168)
    assert(out.filter(col("dow") < 0 || col("dow") > 6
      || col("hour") < 0 || col("hour") > 23).count() == 0)
    assert(out.agg(sum("n_events")).head.getLong(0)
      == Tables.events(spark, sf).count())
    out.unpersist()
  }
}
