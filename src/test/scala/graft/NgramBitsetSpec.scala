package graft

import org.apache.spark.sql.functions._

/** The native one-pass trigram bitset must stay bit-identical to the
  * explode+groupBy SQL formulation it replaced (whose nibble math the
  * DuckDB oracles mirror digit-for-digit).
  */
class NgramBitsetSpec extends SparkSpec {

  test("graft_ngram_bitset equals the SQL explode/groupBy formulation") {
    val d = Tables.documents(spark, sf).filter(length(col("text")) >= 3)
    val native = d
      .withColumn("bs", functions.NgramBitset.ngramBitset(col("text")))
      .select(col("doc_id"), col("bs.n").cast("long").as("n"), col("bs.v").as("v"))
    val sql = {
      val ex = d.select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(1, length(text)-2), i -> substring(text, i, 3))"))).as("ng"))
        .withColumn("r",
          (functions.HexExprs.hexPrefixLong(md5(col("ng")), 3) % 4096).cast("int"))
      ex.groupBy(col("doc_id"), expr("CAST(r div 32 AS INT)").as("wi"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(r % 32 AS INT)))").as("wrd"))
        .groupBy("doc_id")
        .agg(map_from_entries(collect_list(struct(col("wi"), col("wrd")))).as("m"),
          sum(expr("bit_count(wrd)")).as("n"))
        .withColumn("v", expr(
          "transform(sequence(0, 127), wi -> coalesce(m[wi], CAST(0 AS BIGINT)))"))
        .select("doc_id", "n", "v")
    }
    val diff = native.as("a").join(sql.as("b"), "doc_id")
      .filter(col("a.n") =!= col("b.n") || col("a.v") =!= col("b.v"))
      .count()
    assert(diff == 0, s"$diff docs diverge between native and SQL bitsets")
    assert(native.count() == sql.count())
  }

  test("plan uses the native expression, not the HOF pipeline") {
    // the bitsets are a PlanCache build: pin the expression on its body
    val p = operators.Dedup.ngramBitsets(spark, sf)
      .queryExecution.analyzed.toString
    assert(p.contains("graft_ngram_bitset"),
      "bitset build must ride the native one-pass expression")
    // edge: sub-3-char text yields the empty bitset, zero popcount
    import spark.implicits._
    val tiny = Seq("ab").toDF("text")
      .select(functions.NgramBitset.ngramBitset(col("text")).as("bs"))
      .select(col("bs.n")).head().getInt(0)
    assert(tiny == 0)
  }
}
