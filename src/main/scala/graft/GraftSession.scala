package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session config so Verify, the benchmark and
  * tests run identical plans.
  *
  * Scale posture: AQE on (runtime coalesce + skew-join split),
  * shuffle partitions sized for local[N] here but overridable — on a
  * real cluster this is ~2-3x total cores. The nanosAsLong flag is
  * required to scan the ns-precision events table at all.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Runtime bloom-filter semi-join reduction: when one side of a
      // shuffle join carries a selective filter, inject a
      // might_contain prefilter on the other side's scan so the big
      // side sheds non-joining rows BEFORE the shuffle. The default
      // creation/application size thresholds stay in place — they are
      // the correct guard at cluster scale (tests lower them to pin
      // the injection on local data).
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // Generated-class cache (static conf, read once when Spark's
      // CodeGenerator initializes). The default 100 entries is below
      // graft's working set, measured as distinct classes compiled in
      // one cold pass: 151 for Pipeline.run, ~420 for the perfbench
      // registry sample, 4,632-4,650 for the full 312-query sweep. Passes
      // replay the same classes in a cycle, so a cap below the working
      // set evicts each class before its next use and a warm pass
      // recompiles nearly all of them; the cap covers the full sweep
      // with headroom.
      .config("spark.sql.codegen.cache.maxEntries", "10000")

  /** The session of every main and spec: [[builder]] at local[cpus],
    * WARN logging, and graft's extensions (AsofJoin, TopKPerGroup,
    * graft_dot and the other native functions), without which queries
    * that plan through them fail.
    */
  def local(cpus: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    val s = builder(s"local[$cpus]", math.max(cpus, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.registerInto(s)
    s
  }
}
