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

  /** Builder preset for a REAL cluster, same plans as [[builder]]:
    * call with the job's total executor cores. Encodes the sizing
    * rules the local configs only gesture at —
    * `shuffle.partitions` = 3× total cores (AQE coalesces the
    * overshoot; undershoot can't be fixed at runtime and serializes
    * the biggest shuffles), 128 MiB scan splits and ~64 MiB AQE
    * advisory partitions (large enough to amortize task overhead,
    * small enough that a skewed partition still fits executor
    * memory next to the page cache). Deliberately does NOT set
    * master/memory — those belong to the submit layer.
    */
  def clusterBuilder(totalCores: Int): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.shuffle.partitions", (totalCores * 3).toString)
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (64L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")

  def local(cpus: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    val s = builder(s"local[$cpus]", math.max(cpus, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.registerInto(s)
    s
  }
}
