package graft

class ExtractionOpsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("clean_html_boilerplate: no tags survive, boilerplate text is gone") {
    val out = sources.Extraction.cleanHtmlBoilerplate(spark, sf).cache()
    assert(out.filter(col("clean_text").rlike("<[^>]*>")).count() == 0,
      "no markup may survive the strip")
    assert(out.filter(col("clean_text").contains("Copyright") ||
      col("clean_text").contains("Home About Contact") ||
      col("clean_text").contains("track(")).count() == 0,
      "nav/footer/script content must be removed")
    assert(out.filter(col("content_ratio") <= 0 || col("content_ratio") >= 1).count() == 0)
    // the real paragraph content is retained
    assert(out.filter(length(col("clean_text")) === 0).count() == 0)
    out.unpersist()
  }

  test("extract_cdx_filter: only fetchable captures, exactly the latest per urlkey") {
    val out = sources.Extraction.extractCdxFilter(spark, sf).cache()
    val parts = Tables.part(spark, sf)
    // expected survivors: status 200 (key%5 not in {3,4}) and html (key%7 != 0)
    val expect = parts.filter(col("p_partkey") % 5 =!= 3 &&
      col("p_partkey") % 5 =!= 4 && col("p_partkey") % 7 =!= 0).count()
    assert(out.count() == expect, s"${out.count()} vs $expect")
    // one row per urlkey, and it is the LATER capture (+5000 suffix digest)
    assert(out.select("urlkey").distinct().count() == out.count())
    assert(out.filter(!col("timestamp").endsWith("5000")).count() > 0 ||
      out.filter(col("timestamp").substr(lit(5), lit(10)).cast("long") % 10000000 >= 5000)
        .count() == out.count())
    out.unpersist()
  }

  test("knn_recall_vs_nprobe: candidates and recall are monotone in nprobe") {
    val rows = operators.Similarity.knnRecallVsNprobe(spark, sf).collect()
      .sortBy(_.getAs[Long]("nprobe"))
    assert(rows.length == 3)
    val cands = rows.map(_.getAs[Long]("n_candidates"))
    val recalls = rows.map(_.getAs[Double]("recall"))
    assert(cands.zip(cands.tail).forall { case (a, b) => a < b },
      "probing more cells strictly widens the candidate set")
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b })
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
  }
}
