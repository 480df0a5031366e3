package graft

import org.apache.spark.sql.functions._
import graft.functions.Skew

class ScaleToolsSpec extends SparkSpec {

  test("saltedJoin returns exactly the plain-join rows with more tasks") {
    val c = Tables.customer(spark, sf).select("c_custkey", "c_nationkey")
    val s = Tables.supplier(spark, sf).select("s_suppkey", "s_nationkey")
      .withColumnRenamed("s_nationkey", "c_nationkey")
    val plain = c.join(s, Seq("c_nationkey"))
      .select("c_custkey", "s_suppkey").collect().toSet
    val salted = Skew.saltedJoin(c, s, Seq("c_nationkey"), col("c_custkey"), 8)
      .select("c_custkey", "s_suppkey").collect().toSet
    assert(salted == plain)
  }

  test("saltedJoin under a planted hot key: straggler-free task histogram") {
    import spark.implicits._
    // planted skew: 90% of the left fact carries ONE key — the bot
    // user / boilerplate-lang shape. A plain equi-join lands 90% of
    // the probe work in a single task; the salted join must spread it
    // so no task holds more than a small multiple of the mean. This is
    // the plan shape dedup_ngram_jaccard runs in production via
    // Skew.saltedJoin (lang block key, cardinality ~5).
    val n = 20000
    val left = spark.range(n)
      .select(col("id"),
        when(col("id") % 10 < 9, lit("hot")).otherwise(concat(lit("k"),
          col("id") % 7)).as("k"))
    val right = (0 to 6).map(i => s"k$i").appended("hot").toDF("k")
      .withColumn("payload", lit(1))
    def partHist(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq
    // disable auto-broadcast: the skew under test is the SHUFFLE
    // join's key partitioning (at fact×fact scale neither side
    // broadcasts), and a broadcast would hide it on this fixture
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE would merge this fixture's kilobyte partitions into one and
    // hide the histogram; at fact scale the partitions are far above
    // the advisory size and no coalescing happens. The spec session
    // runs 4 shuffle partitions — widen so the salt fan-out has tasks
    // to land on, as a real cluster would.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      val salts = 32
      val plainHist = partHist(left.join(right, Seq("k")))
      val saltedHist = partHist(
        Skew.saltedJoin(left, right, Seq("k"), col("id"), salts))
      // same rows either way
      assert(saltedHist.sum == plainHist.sum && saltedHist.sum == n)
      // plain: the hot key's 90% sits in one task (the straggler)
      assert(plainHist.max >= (0.9 * n).toInt,
        s"skew fixture must concentrate: ${plainHist.sorted.reverse.take(3)}")
      // salted: the hot key fans out across `salts` (key, salt) shards
      // — the straggler task shrinks by at least 4x, no task keeps
      // more than a small slice of the total, and the work spreads
      // over many tasks instead of one per key
      assert(saltedHist.max <= plainHist.max / 4,
        s"straggler survived salting: ${saltedHist.max} vs plain ${plainHist.max}")
      assert(saltedHist.max.toDouble / n <= 0.2,
        s"one task still holds ${saltedHist.max * 100 / n}% of the join")
      assert(saltedHist.count(_ > 0) >= 16,
        s"expected wide fan-out, got ${saltedHist.count(_ > 0)} busy tasks")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  test("PlanCache.invalidate drops entries for the named dir only") {
    val dirA = java.nio.file.Files.createTempDirectory("graft-pc-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-pc-b").toString
    Tables.nation(spark, sf).limit(3).write.mode("overwrite").parquet(dirA)
    Tables.nation(spark, sf).limit(5).write.mode("overwrite").parquet(dirB)
    var builds = 0
    def cachedCount(d: String): Long =
      PlanCache.cached("pc_test", spark, d) {
        builds += 1; spark.read.parquet(d)
      }.count()
    assert(cachedCount(dirA) == 3 && cachedCount(dirB) == 5)
    assert(builds == 2)
    cachedCount(dirA)
    assert(builds == 2, "second read must be a cache hit")
    // rewrite dirA, then invalidate: the entry must rebuild from the
    // new files; dirB's entry must survive untouched
    Tables.nation(spark, sf).limit(4).write.mode("overwrite").parquet(dirA)
    PlanCache.invalidate(dirA)
    assert(cachedCount(dirA) == 4, "invalidate must force a rebuild")
    assert(builds == 3)
    assert(cachedCount(dirB) == 5 && builds == 3, "other dirs keep their entries")
    PlanCache.invalidate(dirA); PlanCache.invalidate(dirB)
  }
}
