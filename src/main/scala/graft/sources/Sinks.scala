package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Output sinks — the loading layer
  * (loading/loadingcsv_topostgre_optimized.py) re-expressed for a data
  * lake: partitioned columnar writes instead of row-batch INSERTs,
  * which `graft.Pipeline` publishes atomically per stage. The
  * reference's `ON CONFLICT` upsert is the registered
  * `cdc_apply_latest` query ([[graft.operators.Olap.cdcApplyLatest]]).
  */
object Sinks {

  /** Partitioned parquet write: one directory per key value, files
    * sized by pre-repartitioning on the partition columns (the
    * loader's batching, minus the driver bottleneck).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       filesPerPartition: Int = 1): Unit =
    df.repartition(filesPerPartition, partitionCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** CDC-style snapshot diff: classify every key as insert / delete
    * / update between two table versions — the change feed a
    * downstream consumer applies instead of re-reading the full
    * table (the batch analog of a Postgres logical-replication
    * stream, and the audit view behind "what did last night's load
    * change?"). Unchanged keys are dropped, so the output is
    * O(changes), not O(table).
    *
    * Scale shape: ONE full outer shuffle join on the key — both
    * snapshots arrive key-partitioned, classification is map-side
    * math after the join, and nothing else touches the table.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCols: Seq[String], valueCol: String): DataFrame = {
    val o = oldDf.select(keyCols.map(col) :+ col(valueCol).as("old_val"): _*)
    val n = newDf.select(keyCols.map(col) :+ col(valueCol).as("new_val"): _*)
    o.join(n, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("new_val").isNull, "delete")
          .when(col("old_val").isNull, "insert")
          .when(col("old_val") =!= col("new_val"), "update")
          .otherwise("unchanged"))
      .filter(col("change_type") =!= "unchanged")
      .select(keyCols.map(col) :+ col("change_type") :+
        col("old_val") :+ col("new_val"): _*)
  }

  /** Range-partitioned, sorted parquet write: the data-lake analog of
    * the reference loader's CREATE INDEX step
    * (loadingcsv_topostgre_optimized.py optimize_table) — sorting by
    * the filter keys tightens parquet row-group min/max stats so
    * selective scans skip row groups instead of probing a btree.
    */
  def writeSortedForPruning(df: DataFrame, path: String, sortCols: Seq[String],
                            partitions: Int = 8): Unit =
    df.repartitionByRange(partitions, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
}
