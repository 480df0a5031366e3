package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Sinks

class SinksSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-sink").toString

  test("writePartitioned lays out one directory per key value") {
    val dir = tmp()
    val df = Tables.orders(spark, sf).limit(500)
    Sinks.writePartitioned(df, dir, Seq("o_orderstatus"))
    val parts = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(parts.forall(_.startsWith("o_orderstatus=")))
    val back = spark.read.parquet(dir)
    assert(back.count() == df.count())
  }

  test("sorted write clusters values so selective scans prune row groups") {
    val dir = tmp()
    Sinks.writeSortedForPruning(Tables.orders(spark, sf), dir, Seq("o_orderdate"), 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == Tables.orders(spark, sf).count())
    // range partitioning: each file covers a disjoint date range
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 2)
    // ntz timestamps surface as LocalDateTime; compare on epoch secs
    val ranges = files.map { f =>
      val d = spark.read.parquet(f.getPath)
        .selectExpr("to_unix_timestamp(min(o_orderdate)) lo", "to_unix_timestamp(max(o_orderdate)) hi").head
      (d.getLong(0), d.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, s"overlap: $hi > $lo")
      case _ =>
    }
  }

  test("snapshotDiff/applyDiff round-trip: old + change feed reconstructs new") {
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    // a synthetic next version with all three change kinds
    val next = o.filter(col("o_orderkey") % 11 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
      .unionByName(o.filter(col("o_orderkey") % 17 === 0)
        .select((col("o_orderkey") + 5000000L).as("o_orderkey"), col("o_totalprice")))
    val feed = Sinks.snapshotDiff(o, next, Seq("o_orderkey"), "o_totalprice")
    // apply the feed: deletes and updates drop their keys, inserts
    // and updates append their new values
    val rebuilt = o.join(feed.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(feed.filter(col("change_type") =!= "delete")
        .select(col("o_orderkey"), col("new_val").as("o_totalprice")))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(asSet(rebuilt) == asSet(next),
      "applying the change feed must reconstruct the new snapshot exactly")
    // and the feed is O(changes): far smaller than the table
    assert(feed.count() < o.count() / 2)
  }

  test("fake multimodal decode: partition-parallel, deterministic, full coverage") {
    val feats = multimodal.BinaryColumns.fakeDecodeFeatures(spark, sf)
    val docs = Tables.documents(spark, sf)
    assert(feats.count() == docs.count())
    // deterministic across runs
    val a = feats.collect().toSeq
    val b = multimodal.BinaryColumns.fakeDecodeFeatures(spark, sf).collect().toSeq
    assert(a == b)
    // byte_sum consistent with payload bytes for a sample row
    val row = feats.filter(col("media_id") === 0).head
    val text = docs.filter(col("doc_id") === 0).head.getAs[String]("text")
    val expected = text.getBytes("UTF-8").map(_ & 0xff).map(_.toLong).sum
    assert(row.getAs[Long]("byte_sum") == expected)
  }
}
