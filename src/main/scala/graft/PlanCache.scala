package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one materialization primitive of the operator library, and
  * the per-(session, dir) memo of derived relations that several
  * operators (or several branches of one operator) re-derive
  * (cleaned ABR, blocked fuzzy matches, tf tables, packed bitsets).
  *
  * [[materialize]] is the contract every persisted intermediate in
  * `src/main` goes through (`PersistSiteSpec` fails CI on any other
  * `persist`/`cache`/`checkpoint` call):
  *  - eager: one job computes the relation when the frame is built;
  *  - lineage truncated: the result is a `LogicalRDD` leaf over the
  *    stored blocks, so every consumer compiles a constant-size plan
  *    (partitioning and ordering carry over into the leaf);
  *  - fails loudly on block loss: a consumer that finds a block gone
  *    raises a `SparkException`, never silently returns fewer rows;
  *    `invalidate(dir)` then rebuilds the entry from its sources;
  *  - freed by [[release]] (one frame), `invalidate(dir)` (everything
  *    scoped to a dir) or [[clear]] (everything ever materialized).
  *
  * [[cached]] memoizes a materialized relation by (name, session,
  * dir). Without it, a bench/verify run re-executes the shared
  * lineage once per consuming query; with it, the first consumer
  * builds the relation and later consumers scan its blocks. Entries
  * must be deterministic functions of (dir); never cache raw fact
  * tables — only aggregated/derived relations an operator would
  * otherwise materialize anyway.
  */
object PlanCache {
  private val cache = TrieMap.empty[(String, SparkSession, String), DataFrame]

  // the registry query whose build is running, and the consumers each
  // cache name has seen: the census `consumersSeen` reports
  @volatile private var consumer: String = ""
  private val touchedBy = TrieMap.empty[String, Set[String]]

  /** Tag subsequent [[cached]] touches with the query that caused them
    * (`""` stops tagging). `e` is unused; the benchmark harness still
    * passes it.
    */
  def beginConsumer(q: String, e: Int): Unit = consumer = q

  /** Snapshot of cache name → the consumer queries that touched it. */
  def consumersSeen: Map[String, Set[String]] = touchedBy.toMap

  private def recordTouch(name: String): Unit =
    if (consumer.nonEmpty) touchedBy.updateWith(name) {
      case Some(s) => Some(s + consumer)
      case None => Some(Set(consumer))
    }

  def cached(name: String, spark: SparkSession, dir: String)(build: => DataFrame): DataFrame = {
    // entries for stopped sessions are dead weight: their blocks are
    // already gone with the session's block manager, and keeping them
    // would pin the SparkSession itself for the process lifetime —
    // evict them whenever the cache is touched
    cache.filterInPlace { case ((_, s, _), _) => !s.sparkContext.isStopped }
    val key = (name, spark, dir)
    recordTouch(name)
    cache.get(key) match {
      case Some(df) => df
      case None =>
        val built = materialize(build, dir)
        // putIfAbsent (not getOrElseUpdate): two threads may race the
        // build — the loser's blocks must be freed, not stranded in
        // the block manager forever
        cache.putIfAbsent(key, built) match {
          case Some(winner) => release(built); winner
          case None => built
        }
    }
  }

  // every RDD materialize() made and nobody released yet, with the dir
  // it is scoped to ("" = unscoped: only clear() frees it)
  private val owned = TrieMap.empty[RDD[_], String]

  private def materializedRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD if owned.contains(lr.rdd) => Some(lr.rdd)
      case _ => None
    }

  /** Compute `df` now and return it as a leaf over its stored blocks.
    * A frame this method already made comes back unchanged (re-scoped
    * to `dir` when one is given), so wrapping a materialized result in
    * [[cached]] stores it once, not twice.
    *
    * Lineage truncation, not persist(): an InMemoryRelation keeps the
    * full child plan inside the tree, and nested materializations
    * multiply every consumer's plan size — AQE posts a plan-update
    * event per query stage and each event stringifies the WHOLE tree
    * on the driver's main thread, so with persist() the bench driver
    * spent 30+ s/query in string generation while the executors sat
    * parked. localCheckpoint materializes the relation once (the same
    * work as the first consumer's action under persist) and replaces
    * the plan with a LogicalRDD leaf that carries the output
    * partitioning and ordering, so consumers that ride its clustering
    * still skip their exchange.
    */
  def materialize(df: DataFrame, dir: String = ""): DataFrame = {
    owned.filterInPlace { case (rdd, _) => !rdd.sparkContext.isStopped }
    materializedRdd(df) match {
      case Some(rdd) =>
        if (dir.nonEmpty) owned.put(rdd, dir)
        df
      case None =>
        val built = df.localCheckpoint()
        owned.put(built.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd, dir)
        built
    }
  }

  /** Free the blocks of a frame [[materialize]] made (a no-op for any
    * other frame). Consumers of the frame that run afterwards fail.
    */
  def release(df: DataFrame): Unit = materializedRdd(df).foreach(free)

  private def free(rdd: RDD[_]): Unit = {
    owned.remove(rdd)
    try { rdd.unpersist(blocking = false); () } catch { case _: Exception => () }
  }

  /** Drop every entry cached under `dir` and free everything
    * materialized for it — call after rewriting data in place, so
    * later reads rebuild from the new files instead of serving the
    * stale relation.
    */
  def invalidate(dir: String): Unit = {
    cache.filterInPlace { case ((_, _, d), _) => d != dir }
    owned.collect { case (rdd, d) if d == dir => rdd }.foreach(free)
  }

  /** Drop every cached plan and free everything [[materialize]] ever
    * made — call at run end, or between test suites. The cache is
    * otherwise intentionally process-lifetime: entries are one small
    * relation per (operator, session, dir).
    */
  def clear(): Unit = {
    cache.clear()
    owned.keys.foreach(free)
  }
}
