package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}

/** Typed loaders for the driver-generated testdata tables
  * (`/root/testdata/sf*`; see TESTDATA.md). Every operator reads
  * through here so schemas and paths stay in one place.
  */
object Tables {
  def load(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.parquet stores TIMESTAMP(NANOS) which Spark only reads
    * via spark.sql.legacy.parquet.nanosAsLong (set by
    * [[GraftSession]]). This loader normalizes either representation
    * to an extra `ts_s` epoch-seconds BIGINT column so operators are
    * storage-agnostic.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // integer div: nanos exceed double's exact range
        raw.withColumn("ts_s", org.apache.spark.sql.functions.expr("ts div 1000000000"))
      case TimestampType | TimestampNTZType => // NTZ refuses a direct long cast
        raw.withColumn("ts_s", org.apache.spark.sql.functions.expr("to_unix_timestamp(ts)"))
      case other => sys.error(s"unexpected events.ts type: $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
