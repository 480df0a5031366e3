package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.SimHash64

class SimHash64Spec extends SparkSpec {

  private def simhash64(tokens: Column) = call_function("graft_simhash64", tokens)
  private def hamming(a: Column, b: Column) = bit_count(a.bitwiseXOR(b))

  test("codegen and reference implementations agree") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), "\\s+").as("t"))
    val viaExpr = docs.select(col("doc_id"), simhash64(col("t")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaRef = docs.collect().map { r =>
      val toks = r.getSeq[String](1)
      r.getLong(0) -> SimHash64.ofTokens(toks.iterator)
    }.toMap
    assert(viaExpr == viaRef)
  }

  test("near-identical docs land within small hamming distance") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val nearDup = base + " extra"
    val different = "completely unrelated words about database engines and storage"
    val df = Seq((1L, base), (2L, nearDup), (3L, different))
      .toDF("id", "text")
      .select(col("id"), simhash64(split(col("text"), " ")).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dNear = java.lang.Long.bitCount(sigs(1L) ^ sigs(2L))
    val dFar = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    assert(dNear < dFar, s"near=$dNear far=$dFar")
    assert(dNear <= 16, s"near-dup hamming too large: $dNear")
  }

  test("simhash64 self-join finds the planted near-dup families") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), simhash64(split(col("text"), "\\s+")).as("sig"))
    val pairs = docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("d", hamming(col("a.sig"), col("b.sig")))
      .filter(col("d") <= 3)
    // fingerprint families (identical token sets) must collide at d=0
    val identicalFamilies = operators.TextAnalysis.textFingerprint(spark, sf).count()
    assert(identicalFamilies == 0 || pairs.filter(col("d") === 0).count() > 0)
  }
}
