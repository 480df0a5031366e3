package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Distinct-count sketches for corpus statistics at scale. HLL is the
  * usual tool, but its hash is engine-specific; KMV (k minimum
  * values) over an md5-derived uniform hash is deterministic and
  * engine-portable, so the DuckDB oracle reproduces the estimate
  * bit-for-bit. Estimator: m distinct values hashed U(0,1) put the
  * k-th smallest hash at E[u_k] ≈ k/(m+1), so m̂ = (k-1)/u_k.
  */
object Sketches {

  /** Per-language distinct-token count: exact vs KMV(k=64) estimate.
    * The sketch path never holds more than k rows per group
    * (TopKPerGroup bounded heaps — no per-group sort, no window), so
    * the same plan sketches a trillion-token corpus; the exact
    * countDistinct rides along as the verification baseline.
    */
  def approxDistinctKmv(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), "\\s+")).as("token"))
      .distinct()
    // uniform hash in [0,1): first 8 md5 nibbles, parsed by the
    // native codegen'd graft_hex_long — exact in doubles at this
    // magnitude, digit-for-digit identical to the oracle's positional
    // nibble sum
    val hashed = toks
      .withColumn("u", graft.functions.HexExprs.uniformHash(col("token")))
    val kept = graft.plans.TopKPerGroup(
      hashed.select(col("lang"), col("u"), col("token")),
      Seq("lang"), Seq(("u", false), ("token", false)), k)
    val est = kept.groupBy("lang").agg(max("u").as("uk"), count(lit(1)).as("m"))
      .select(col("lang"),
        when(col("m") < k, col("m").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) / col("uk"), 6))
          .as("approx_distinct"))
    val exact = toks.groupBy("lang").agg(count(lit(1)).as("n_exact"))
    exact.join(est, "lang")
      .select(col("lang"), col("n_exact"), col("approx_distinct"))
      .orderBy("lang")
  }

  /** The same per-language KMV estimate through the native
    * [[graft.functions.KmvSketchAgg]] aggregate — the production
    * shape: per-group state is a bounded k-long sketch, partial
    * buffers combine MAP-SIDE, and the shuffle moves one sketch per
    * (mapper, group) instead of the k candidate rows + a second
    * aggregation that the TopKPerGroup formulation needs. The
    * estimate is deterministic (same md5-nibble hash), so the DuckDB
    * oracle replays it exactly; the exact distinct rides along.
    */
  def approxDistinctKmvAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShim
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), "\\s+")).as("token"))
    val h = graft.functions.HexExprs.hexPrefixLong(md5(col("token")), 8)
    val kmv = GraftShim.column(
      graft.functions.KmvSketchAgg(GraftShim.expression(h), 64)
        .toAggregateExpression())
    toks.groupBy("lang")
      .agg(kmv.as("approx_distinct"), countDistinct("token").as("n_exact"))
      .select("lang", "approx_distinct", "n_exact")
      .orderBy("lang")
  }

  /** Per-language distinct-token count via HyperLogLog(p=8), the
    * compositional formulation: register = top 8 bits of the 56-bit
    * md5-nibble hash, rank = 49 − bitlength of the low 48 bits, then
    * ONE (lang, register) max-aggregate followed by a per-lang fold —
    * all codegen'd column arithmetic (`bin`/`length`/`shiftleft`), no
    * UDF, no sketch library. The register table is ≤ 256 rows per
    * group no matter the corpus, so the second aggregate is
    * constant-size; the first is a map-side-combining groupBy on a
    * (lang, reg) key space of |langs|·256. Estimator math lives in
    * [[graft.functions.Hll]] (integer register sum — exact and
    * order-free) and the DuckDB oracle replays it digit-for-digit.
    * The exact countDistinct rides along as the verification
    * baseline, same contract as [[approxDistinctKmv]].
    */
  def approxDistinctHll(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), "\\s+")).as("token"))
    val h = toks
      .withColumn("reg", graft.functions.HexExprs.hexPrefixLong(md5(col("token")), 2))
      .withColumn("v", graft.functions.HexExprs.hexPrefixLong(
        substring(md5(col("token")), 3, 12), 12))
      .withColumn("rho", when(col("v") === 0L, lit(49))
        .otherwise(lit(49) - length(bin(col("v")))).cast("int"))
    val regs = h.groupBy("lang", "reg").agg(max("rho").as("mj"))
    val folded = regs.groupBy("lang").agg(
      count(lit(1)).as("n_present"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), 49 - mj)")).as("isum_present"))
    val est = folded.select(col("lang"), col("n_present"),
      (col("isum_present") +
        (lit(256L) - col("n_present")) * lit(graft.functions.Hll.scale))
        .as("isum"),
      (lit(256L) - col("n_present")).as("zeros"))
      .withColumn("e_raw",
        lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) * lit(256.0) *
          lit(256.0) * lit(562949953421312.0) / col("isum").cast("double"))
      .withColumn("hll_est", round(
        when(col("e_raw") <= 640.0 && col("zeros") > 0,
          lit(256.0) * log(lit(256.0) / col("zeros").cast("double")))
          .otherwise(col("e_raw")), 6))
    val exact = toks.distinct().groupBy("lang").agg(count(lit(1)).as("n_exact"))
    exact.join(est, "lang")
      .select(col("lang"), col("n_exact"), col("n_present").as("n_registers"),
        col("hll_est"))
      .orderBy("lang")
  }

  /** The same per-language HLL estimate through the native
    * [[graft.functions.HllSketchAgg]] aggregate — the production
    * shape and the constant-state counterpart to
    * [[approxDistinctKmvAgg]]: per-group state is exactly 256 BYTES
    * (KMV carries k boxed longs), partials combine map-side with a
    * bytewise max, and the shuffle moves one 256-byte sketch per
    * (mapper, group). Same [[graft.functions.Hll]] estimator, same
    * 56-bit md5-nibble hash, so the DuckDB oracle replays the
    * estimate exactly; the exact distinct rides along.
    */
  def approxDistinctHllAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShim
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), "\\s+")).as("token"))
    val h = graft.functions.HexExprs.hexPrefixLong(md5(col("token")), 14)
    val hll = GraftShim.column(
      graft.functions.HllSketchAgg(GraftShim.expression(h))
        .toAggregateExpression())
    toks.groupBy("lang")
      .agg(hll.as("hll_est"), countDistinct("token").as("n_exact"))
      .select("lang", "hll_est", "n_exact")
      .orderBy("lang")
  }

  /** Quantiles by deterministic hash sampling: exact percentiles on
    * a content-hash 10% sample vs the exact full-data percentiles,
    * with the absolute error alongside — the scalable-quantile
    * pattern when a full sort/exact-percentile pass is too expensive:
    * the sample is a pure map-side filter (no coordinated sampling
    * state, reproducible across runs and engines), and the exact
    * columns double as the built-in error verification, the same
    * sketch-vs-truth shape as [[heavyHittersCms]].
    */
  def approxQuantilesSampled(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.PlanCache.cached("aq_events", spark, dir) {
      Tables.events(spark, dir).select(
        col("event_type"), col("value"),
        graft.functions.HexExprs.uniformHash(col("event_id").cast("string")).as("u"))
    }
    val full = e.groupBy("event_type").agg(
      round(expr("percentile(value, 0.5)"), 6).as("p50_exact"),
      round(expr("percentile(value, 0.9)"), 6).as("p90_exact"),
      round(expr("percentile(value, 0.99)"), 6).as("p99_exact"))
    val samp = e.filter(col("u") < 0.1).groupBy("event_type").agg(
      count(lit(1)).as("n_sample"),
      round(expr("percentile(value, 0.5)"), 6).as("p50_est"),
      round(expr("percentile(value, 0.9)"), 6).as("p90_est"),
      round(expr("percentile(value, 0.99)"), 6).as("p99_est"))
    full.join(samp, "event_type")
      .withColumn("p50_err", round(abs(col("p50_est") - col("p50_exact")), 6))
      .withColumn("p90_err", round(abs(col("p90_est") - col("p90_exact")), 6))
      .orderBy("event_type")
  }

  /** The CMS bucket derivation — d rows per input row, bucket = first
    * 2 md5 hex chars of "row|token" (a STRING key, so the oracle
    * mirrors it with no numeric hex conversion).
    */
  def cmsBuckets(tokens: DataFrame, d: Int = 4): DataFrame =
    tokens
      .withColumn("row", explode(expr(s"sequence(0, ${d - 1})")))
      .withColumn("bucket",
        substring(md5(concat(col("row"), lit("|"), col("token"))), 1, 2))

  /** Count-Min-Sketch heavy hitters: the CMS estimate for the top-20
    * corpus tokens, with the exact count alongside as the baseline.
    * The sketch is d=4 hash rows × w=256 buckets; estimate = min over
    * rows of the bucket sum, which can only OVER-count (collisions
    * add), never under — `cms_est >= n_exact` is an invariant.
    *
    * Scale shape: the sketch is built from the per-token count
    * aggregate (d small rows per DISTINCT token, not per occurrence)
    * and is a FIXED d·w = 1024 rows regardless of corpus size — the
    * whole point of CMS: frequency queries over an unbounded stream
    * in constant space. The candidate probe joins 20·d rows against
    * it broadcast-style; nothing here grows with the data except the
    * one exact count aggregation used for verification — and that
    * aggregate is PlanCache'd because both the sketch branch and the
    * top-20 branch read it.
    */
  def heavyHittersCms(spark: SparkSession, dir: String): DataFrame = {
    val exact = graft.PlanCache.cached("cms_exact", spark, dir) {
      Tables.documents(spark, dir)
        .select(explode(split(col("text"), "\\s+")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n_exact"))
    }
    // d bucket rows per distinct token; bucket sums = occurrence mass
    val sketch = cmsBuckets(exact.select(col("token"), col("n_exact")))
      .groupBy("row", "bucket").agg(sum("n_exact").as("bsum"))
    val top = graft.functions.TopK.globalWithRank(
      exact, 20, col("n_exact").desc, col("token"))
    cmsBuckets(top.select(col("token"), col("n_exact"), col("rank")))
      .join(broadcast(sketch), Seq("row", "bucket")) // sketch is a fixed 1024 rows
      .groupBy("token", "n_exact", "rank")
      .agg(min("bsum").as("cms_est"))
      .select("rank", "token", "n_exact", "cms_est")
      .orderBy("rank")
  }

  /** KMV set ALGEBRA: coordinated k-minimum-value sketches support
    * union / intersection / Jaccard estimates between sets, not just
    * cardinalities — here the vocabulary-overlap matrix between every
    * language pair's distinct 3-word-shingle sets (the corpus-level
    * "how much do these slices share" number next to the per-doc
    * minhash dedup, on the SAME shingle unit). Because all sketches
    * share ONE hash, K(A∪B) is the k smallest of K(A) ∪ K(B), and
    * membership of a union-sketch value in A is equivalent to
    * membership in K(A):
    * ĵ = |K(A∪B) ∩ K(A) ∩ K(B)| / |K(A∪B)|, |A∪B|^ = (k−1)/u_k, and
    * |A∩B|^ = ĵ·|A∪B|^. The sketch path touches each (lang, shingle)
    * row once and everything past the per-group k-min heaps is
    * constant size (|langs|²·k); the exact columns ride along as the
    * verification baseline, same contract as [[approxDistinctKmv]] —
    * at corpus scale the exact member-join columns are the eval, the
    * sketches are the product.
    */
  def approxSetOverlapKmv(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val tu = graft.PlanCache.cached("kmv_overlap_tu", spark, dir) {
      Tables.documents(spark, dir)
        .withColumn("toks", split(col("text"), "\\s+"))
        .filter(size(col("toks")) >= 3)
        .select(col("lang").as("t"), explode(expr(
          "transform(sequence(1, size(toks)-2), i -> array_join(slice(toks, i, 3), ' '))"))
          .as("member"))
        .distinct()
    }
    // k smallest DISTINCT hash values per group (distinct first: ties
    // between colliding members would otherwise make the k-th value
    // order-dependent); bounded per-group heaps, no window
    val hashed = tu.withColumn("u",
      graft.functions.HexExprs.uniformHash(col("member")))
    val sk = graft.PlanCache.cached("kmv_overlap_sketch", spark, dir) {
      graft.plans.TopKPerGroup(
        hashed.select(col("t"), col("u")).distinct(), Seq("t"), Seq(("u", false)), k)
    }
    val types = sk.select("t").distinct()
    val pairs = types.select(col("t").as("t1"))
      .crossJoin(broadcast(types.select(col("t").as("t2"))))
      .filter(col("t1") < col("t2"))
    // union sketch per pair: k smallest of the two member sketches
    // (shared hash ⇒ same user contributes one value; distinct dedups)
    val pairRows = pairs.join(broadcast(sk),
        sk("t") === col("t1") || sk("t") === col("t2"))
      .select(col("t1"), col("t2"), col("u")).distinct()
    val unionK = graft.plans.TopKPerGroup(
      pairRows, Seq("t1", "t2"), Seq(("u", false)), k)
    val skA = sk.select(col("t").as("t1"), col("u"), lit(1).as("in_a"))
    val skB = sk.select(col("t").as("t2"), col("u"), lit(1).as("in_b"))
    val est = unionK
      .join(broadcast(skA), Seq("t1", "u"), "left")
      .join(broadcast(skB), Seq("t2", "u"), "left")
      .groupBy("t1", "t2")
      .agg(count(lit(1)).as("m"), max("u").as("uk"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
          .as("hits"))
      .withColumn("union_est",
        when(col("m") < k, col("m").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) / col("uk"), 6)))
      .withColumn("jaccard_est", round(col("hits").cast("double") / col("m"), 6))
      .withColumn("inter_est", round(col("jaccard_est") * col("union_est"), 6))
    // exact baseline: per-group distinct counts + pairwise
    // intersection (one self-equi-join on the member — linear in the
    // membership table)
    val nT = tu.groupBy("t").agg(count(lit(1)).as("n"))
    val inter = tu.select(col("t").as("t1"), col("member"))
      .join(tu.select(col("t").as("t2"), col("member")), "member")
      .filter(col("t1") < col("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("inter_exact"))
    est
      .join(broadcast(nT.select(col("t").as("t1"), col("n").as("n_a_exact"))), "t1")
      .join(broadcast(nT.select(col("t").as("t2"), col("n").as("n_b_exact"))), "t2")
      .join(inter, Seq("t1", "t2"), "left")
      .withColumn("inter_exact", coalesce(col("inter_exact"), lit(0L)))
      .withColumn("jaccard_exact", round(col("inter_exact").cast("double") /
        (col("n_a_exact") + col("n_b_exact") - col("inter_exact")), 6))
      .select(col("t1"), col("t2"), col("n_a_exact"), col("n_b_exact"),
        col("inter_exact"), col("jaccard_exact"),
        col("union_est"), col("inter_est"), col("jaccard_est"))
      .orderBy("t1", "t2")
  }

  /** Approximate query processing by deterministic Bernoulli sample
    * (the BlinkDB/TABLESAMPLE read-out): a 10% content-hash sample of
    * the fact table answers "total revenue" with an expansion
    * estimate and a 95% CI, next to the exact answer and the
    * realized relative error — the accuracy contract an AQP layer
    * publishes. The sample is the engine's md5 uniform-hash
    * discipline (row-content seeded), so it is retry/partitioning
    * -stable and the oracle draws the IDENTICAL sample.
    *
    * Scale shape: one pass computes BOTH aggregates (the sample
    * branch is a conditional aggregate, not a second scan); the
    * estimator math is a one-row projection. At 100 TB only the
    * sample aggregate would run (the exact side is the comparison
    * harness), and the scan cost is the sample fraction.
    */
  def tableEstimate(spark: SparkSession, dir: String,
                    p: Double = 0.1): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val l = Tables.lineitem(spark, dir)
      .withColumn("rev", rev)
      .withColumn("inS", (graft.functions.HexExprs.uniformHash(
        concat(col("l_orderkey"), lit(":"), col("l_linenumber"),
          lit("#aqp"))) < p).cast("int"))
    val agg = l.agg(
      count(lit(1)).as("n_exact"),
      sum("rev").as("rev_exact"),
      sum(col("inS").cast("long")).as("n_sample"),
      sum(when(col("inS") === 1, col("rev")).otherwise(0.0)).as("sr"),
      sum(when(col("inS") === 1, col("rev") * col("rev")).otherwise(0.0))
        .as("sr2"))
    val mean = col("sr") / col("n_sample")
    val variance = col("sr2") / col("n_sample") - mean * mean
    val nHat = col("n_sample") / lit(p)
    val revEst = col("sr") / lit(p)
    val seTotal = sqrt(variance / col("n_sample")) * nHat
    agg.select(
      col("n_sample"), col("n_exact"),
      round(nHat).cast("long").as("n_est"),
      round(revEst, 2).as("rev_est"),
      round(col("rev_exact"), 2).as("rev_exact"),
      round(revEst - lit(1.96) * seTotal, 2).as("ci_lo"),
      round(revEst + lit(1.96) * seTotal, 2).as("ci_hi"),
      round(abs(revEst - col("rev_exact")) / col("rev_exact"), 6)
        .as("rel_err"),
      (col("rev_exact") >= revEst - lit(1.96) * seTotal &&
        col("rev_exact") <= revEst + lit(1.96) * seTotal)
        .cast("int").as("within_ci"))
  }
}
