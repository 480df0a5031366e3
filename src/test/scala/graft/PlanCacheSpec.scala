package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The materialization primitive's contract: a lost block fails the
  * next consumer loudly and `invalidate(dir)` rebuilds the entry from
  * its sources; everything the operators materialize is freed by
  * `clear()`; an already-materialized frame is not stored twice.
  */
class PlanCacheSpec extends SparkSpec {

  private def rddOf(df: DataFrame) = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd
    case p => fail(s"not a materialized leaf:\n$p")
  }

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a lost block fails the next consumer; invalidate(dir) rebuilds the same rows") {
    val dir = "/tmp/plancache_fault_spec"
    PlanCache.invalidate(dir)
    def entry = PlanCache.cached("fault_probe", spark, dir) {
      spark.range(0, 2000, 1, 4).toDF("id")
        .withColumn("sq", col("id") * col("id"))
        .groupBy((col("id") % 97).as("k")).agg(sum("sq").as("s"))
    }
    val first = entry.orderBy("k").collect().toSeq
    assert(first.size == 97)

    val rdd = rddOf(entry)
    val blockManager = org.apache.spark.SparkEnv.get.blockManager
    val blocks = blockManager.getMatchingBlockIds(_.asRDDId.exists(_.rddId == rdd.id))
    assert(blocks.nonEmpty, "the entry held no blocks")
    blocks.foreach(blockManager.removeBlock(_))
    val lost = intercept[SparkException](entry.agg(sum("s")).collect())
    assert(lost.getMessage.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"),
      lost.getMessage)

    PlanCache.invalidate(dir)
    assert(!persistentIds.contains(rdd.id))
    assert(rddOf(entry).id != rdd.id)
    assert(entry.orderBy("k").collect().toSeq == first)
    PlanCache.invalidate(dir)
  }

  test("materialize returns its own result unchanged; release frees it") {
    val m = PlanCache.materialize(spark.range(10).toDF("id"))
    val id = rddOf(m).id
    assert(persistentIds.contains(id))
    assert(PlanCache.materialize(m) eq m)
    val entry = PlanCache.cached("materialized_once", spark, "/tmp/plancache_once")(m)
    assert(entry eq m)
    PlanCache.release(m)
    assert(!persistentIds.contains(id))
    PlanCache.invalidate("/tmp/plancache_once")
  }

  test("dedupComponents and graphKcore leave no persisted RDD after clear()") {
    PlanCache.clear()
    val before = persistentIds
    assert(operators.Dedup.dedupComponents(spark, sf).count() >= 0)
    assert(operators.Graph.graphKcore(spark, sf).count() == 6)
    assert((persistentIds -- before).nonEmpty, "nothing was materialized")
    PlanCache.clear()
    assert((persistentIds -- before).isEmpty,
      s"leaked RDDs: ${(persistentIds -- before).toSeq.sorted}")
  }

  test("invalidate(dir) frees graphKcore's rounds with the dir's entries") {
    PlanCache.clear()
    val before = persistentIds
    assert(operators.Graph.graphKcore(spark, sf).count() == 6)
    PlanCache.invalidate(sf)
    assert((persistentIds -- before).isEmpty,
      s"leaked RDDs: ${(persistentIds -- before).toSeq.sorted}")
  }
}
