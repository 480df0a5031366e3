package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic corpus sampling for training-data curation.
  *
  * `rand()`-based sampling is unstable under retries, re-partitioning
  * and speculative execution — a re-run selects a different corpus.
  * Hash-threshold sampling (keep a row iff a uniform hash of its
  * CONTENT falls under the rate) is reproducible across runs and
  * engines, deduplicates for free (identical texts share a fate), and
  * needs no shuffle — it is a map-side filter that fuses into the
  * scan at any scale.
  */
object Sampling {

  /** Stratified hash sampling: per-language target rates (en kept at
    * 50%, the long tail at 10% — the up/down-sampling mix used when
    * rebalancing a multilingual corpus). Output is every kept doc
    * with its hash, so downstream stages can re-threshold WITHOUT
    * rescanning: any rate r' < r is a filter on `u`.
    */
  /** Weighted sampling WITHOUT replacement, deterministically: the
    * Efraimidis–Spirakis priority trick (priority = u^(1/w), keep the
    * top-k) with u the content-hash uniform — inclusion probability
    * proportional to weight (here n_chars: longer docs carry more
    * training signal), yet the sample is a pure function of the data.
    * This is the one-pass, shuffle-light way to draw a weighted
    * sample at any scale: priorities are map-side, selection is
    * TakeOrdered heaps — no sequential reservoir, no rand().
    */
  def samplePriority(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    // RANK on ln(u)/w (same order as u^(1/w), monotone in it), not on
    // the rounded priority: u^(1/w) collapses toward 1.0 as w grows
    // (at w = 1e5 a 6-decimal round leaves ~46 distinct values), so
    // rounding THAT key would degrade selection among heavy docs to
    // doc_id order. ln(u)/w keeps full dynamic range; its round-12 is
    // presentation-grade for the ordering while pinning both engines.
    val d = Tables.documents(spark, dir)
      .withColumn("u", graft.functions.HexExprs.uniformHash(col("text")))
      .withColumn("key",
        round(log(col("u")) / col("n_chars").cast("double"), 12))
      .withColumn("priority",
        round(pow(col("u"), lit(1.0) / col("n_chars").cast("double")), 6))
      .select("doc_id", "n_chars", "priority", "key")
    graft.functions.TopK.globalWithRank(d, k,
        col("key").desc, col("doc_id"))
      .drop("key")
  }

  /** Quality-ranked selection under a token budget: keep the
    * best-scoring documents (score = 1 − stopword ratio, tie →
    * smallest doc_id) while the running token total BEFORE each doc
    * is still under `frac` of the corpus — "fill 25% of the budget
    * with the best data", the greedy selection step of
    * quality-filtered pretraining mixes.
    *
    * Scale shape: the naive formulation is a GLOBAL cumulative-sum
    * window (one partition holding the whole corpus — the #1
    * scale-killer). Instead the score axis is bucketed into ≤65
    * fixed-width bins: per-bin token totals aggregate map-side, the
    * bin-level prefix sum is a ≤65×65 broadcast self-join, and only
    * the WITHIN-bin running sum needs a window — PARTITIONED by bin,
    * so its state is one bin's docs, not the corpus. Every doc's
    * global prefix = its bin's prefix + its within-bin prefix, which
    * equals the single-window answer exactly (bins are monotone in
    * score, and within-bin order extends the global (score, doc_id)
    * order).
    */
  def sampleTokenBudget(spark: SparkSession, dir: String,
                        frac: Double = 0.25): DataFrame = {
    val stop = Seq("the", "a", "or", "and")
    val scored = graft.PlanCache.cached("budget_scored", spark, dir) {
      Tables.documents(spark, dir)
        .withColumn("t", split(col("text"), "\\s+"))
        .withColumn("n_tokens", size(col("t")).cast("long"))
        .withColumn("n_stop", expr(
          s"size(filter(t, x -> x IN (${stop.map("'" + _ + "'").mkString(",")})))").cast("long"))
        // score stays UNROUNDED: the ordering key must be the same
        // exact double in every engine; rounding is presentation
        .withColumn("score",
          lit(1.0) - col("n_stop").cast("double") / col("n_tokens").cast("double"))
        .select(col("doc_id"), col("n_tokens"), col("score"),
          floor(col("score") * 64).cast("int").as("bin"))
    }
    val budgetRow = scored.agg((lit(frac) * sum("n_tokens")).as("budget"))
    val binTotals = scored.groupBy("bin").agg(sum("n_tokens").as("bin_tokens"))
    val higher = binTotals.select(col("bin").as("hbin"), col("bin_tokens").as("htok"))
    // tokens in all strictly-better bins — a bounded (≤65 rows/side)
    // non-equi broadcast join, NOT a global window
    val binBefore = binTotals.join(broadcast(higher), col("hbin") > col("bin"), "left")
      .groupBy("bin").agg(coalesce(sum("htok"), lit(0L)).as("bin_before"))
    val withinW = Window.partitionBy("bin")
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    scored.join(broadcast(binBefore), "bin")
      .withColumn("within", coalesce(sum("n_tokens").over(withinW), lit(0L)))
      .crossJoin(broadcast(budgetRow))
      .filter(col("bin_before") + col("within") < col("budget"))
      .select(col("doc_id"), col("n_tokens"), round(col("score"), 6).as("score"))
      .orderBy("doc_id")
  }

  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    // native codegen'd hex-prefix hash (graft_hex_long) — the
    // interpreted aggregate-lambda formulation costs ~10x per row
    val d = Tables.documents(spark, dir)
      .withColumn("u", graft.functions.HexExprs.uniformHash(col("text")))
      .withColumn("rate", when(col("lang") === "en", 0.5).otherwise(0.1))
    d.filter(col("u") < col("rate"))
      .select(col("doc_id"), col("lang"), round(col("u"), 6).as("u"))
      .orderBy("doc_id")
  }

  /** Token-budget data mixing: sample each source down to an equal
    * token budget (the smallest source's token count), the
    * equal-allocation form of the source-weighting step that decides
    * a training mix. Two aggregations (per-source token totals →
    * per-source keep rates, broadcast back — source cardinality is
    * bounded), then the same deterministic content-hash filter as
    * [[sampleStratified]]: map-side, reproducible, re-thresholdable
    * via the emitted hash without rescanning.
    */
  def sampleWeightedMix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), "\\s+")).cast("long"))
    val bySource = d.groupBy("source").agg(sum("n_tokens").as("tok_s"))
    // budget as a broadcast one-row cross join (scalar-subquery
    // pattern) — no driver-side eager action mid-plan
    val budget = bySource.agg(min("tok_s").as("budget"))
    val rates = bySource.crossJoin(broadcast(budget)).select(col("source"),
      round(least(lit(1.0),
        col("budget").cast("double") / col("tok_s").cast("double")), 6).as("rate"))
    d.join(broadcast(rates), "source")
      .withColumn("u", graft.functions.HexExprs.uniformHash(col("text")))
      .filter(col("u") < col("rate"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("rate"),
        round(col("u"), 6).as("u"))
      .orderBy("doc_id")
  }

  /** Epoch-repeat mixture weights (the data-constrained scaling
    * recipe): every source is repeated toward the LARGEST source's
    * token budget, capped at 4 epochs (returns on repeated data decay
    * fast past ~4 — the public data-constrained-LM result), so small
    * high-value sources up-weight without unbounded duplication.
    * epochs = min(4, ceil(T/n)) in EXACT integer arithmetic
    * ((T + n − 1) div n — float ceil would tie-break differently per
    * engine); one grouped pass, two broadcast one-row scalars.
    */
  def sampleMixtureEpochs(spark: SparkSession, dir: String): DataFrame = {
    val bySource = Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), "\\s+")).cast("long"))
      .groupBy("source").agg(sum("n_tokens").as("n_tokens"))
    val target = bySource.agg(max("n_tokens").as("t"))
    val withEpochs = bySource.crossJoin(broadcast(target))
      .withColumn("epochs",
        least(lit(4L), expr("(t + n_tokens - 1) div n_tokens")))
      .withColumn("effective_tokens", col("n_tokens") * col("epochs"))
    val total = withEpochs.agg(sum("effective_tokens").as("tot"))
    withEpochs.crossJoin(broadcast(total))
      .select(col("source"), col("n_tokens"), col("epochs"),
        col("effective_tokens"),
        round(col("effective_tokens").cast("double") / col("tot"), 6).as("share"))
      .orderBy("source")
  }

  /** Materialization of [[sampleMixtureEpochs]]' plan: every document
    * emitted once per epoch its source earned, with the epoch index —
    * the actual repeated-data table a trainer shuffles into batches.
    * One broadcast join of the tiny per-source plan + a bounded
    * sequence explode (≤ 4 rows per doc); row count equals
    * Σ n_docs(source) · epochs(source) exactly.
    */
  def sampleEpochExpand(spark: SparkSession, dir: String): DataFrame = {
    val plan = sampleMixtureEpochs(spark, dir)
      .select(col("source"), col("epochs"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(broadcast(graft.functions.Unordered(plan)), "source")
      .withColumn("epoch_idx", explode(expr("sequence(1, epochs)")))
      .select(col("doc_id"), col("source"), col("epoch_idx").cast("long").as("epoch_idx"))
      .orderBy("doc_id", "epoch_idx")
  }

  /** Exactly-k-per-group sample: the k docs with the smallest content
    * hash per language — a deterministic distributed reservoir
    * (hash order IS a uniform random order, but reproducible). Runs
    * on the TopKPerGroup custom exec: bounded per-group heaps, no
    * per-group sort — rebalancing a trillion-doc corpus to n-per-class
    * never materializes more than k rows per group per task.
    */
  def samplePerGroup(spark: SparkSession, dir: String): DataFrame = {
    val k = 10
    val d = Tables.documents(spark, dir)
      .withColumn("u", graft.functions.HexExprs.uniformHash(col("text")))
      .select(col("lang"), col("doc_id"), col("u"))
    graft.plans.TopKPerGroup(d, Seq("lang"), Seq(("u", false), ("doc_id", false)), k)
      .select(col("lang"), col("doc_id"), round(col("u"), 6).as("u"))
      .orderBy("lang", "u", "doc_id")
  }

  /** Sequence packing: assign docs to fixed token-budget bins (the
    * pre-training step that concatenates documents into fixed-length
    * training sequences). Docs are packed greedily in doc_id order
    * within a (lang, shard) partition: bin = floor(cumulative
    * tokens / budget), offset = tokens before the doc in its
    * partition — enough for a writer to materialize each bin by
    * grouping on (lang, shard, bin).
    *
    * Scale shape: the running sum is a window PARTITIONED by
    * (lang, shard) — shard = doc_id mod 8 splits each language's
    * stream so no partition (and no executor) ever holds a whole
    * language; widen the shard count with the cluster, never the
    * window. Token counts are map-side; nothing global anywhere.
    * Cross-shard bins stay independent by construction — a trainer
    * reads (lang, shard, bin) groups in any order.
    */
  def packSequences(spark: SparkSession, dir: String, budget: Int = 2048): DataFrame = {
    val w = Window.partitionBy("lang", "shard")
      .orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        pmod(col("doc_id"), lit(8)).cast("int").as("shard"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("bin", ((col("cum_tokens") - col("n_tokens")) / budget)
        .cast("long"))
      .withColumn("start_offset", col("cum_tokens") - col("n_tokens"))
      .select("doc_id", "lang", "shard", "n_tokens", "bin", "start_offset")
      .orderBy("doc_id")
  }

  /** Temperature-scaled language mixing (the mT5/XLM-R rebalancing
    * step): sampling probability per language ∝ n_lang^alpha with
    * alpha = 0.3, so low-resource languages are boosted relative to
    * their natural share, then a 50%-of-corpus target converts the
    * distribution into per-language keep rates. Two tiny aggregations
    * (per-language counts → one scalar row), both broadcast back;
    * membership is the same deterministic content-hash threshold as
    * [[sampleStratified]] — map-side, reproducible, no sampling state.
    */
  def sampleTemperature(spark: SparkSession, dir: String, alpha: Double = 0.3): DataFrame = {
    val d = Tables.documents(spark, dir)
    val byLang = d.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("p_raw", pow(col("n_docs").cast("double"), alpha))
    val totals = byLang.agg(
      sum("n_docs").cast("double").as("total_docs"), sum("p_raw").as("p_sum"))
    val rates = byLang.crossJoin(broadcast(totals))
      .select(col("lang"),
        round(least(lit(1.0),
          col("p_raw") / col("p_sum") * col("total_docs") * lit(0.5)
            / col("n_docs").cast("double")), 6).as("keep_rate"))
    d.join(broadcast(rates), "lang")
      .withColumn("u", graft.functions.HexExprs.uniformHash(col("text")))
      .filter(col("u") < col("keep_rate"))
      .select(col("doc_id"), col("lang"), col("keep_rate"), round(col("u"), 6).as("u"))
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test split assignment (80/10/10) by
    * content hash — the split step of every training pipeline, done
    * so membership is a pure function of the DOCUMENT: stable across
    * runs, engines and repartitioning (rand() is none of those), and
    * exact duplicates land in the same split, so near-dup leakage
    * across the eval boundary can't enter through the splitter
    * itself. Map-side only — the assignment fuses into the scan; the
    * emitted hash makes any other ratio a re-filter, not a rescan.
    */
  def sampleHashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("u", graft.functions.HexExprs.uniformHash(col("text")))
      .withColumn("split",
        when(col("u") < 0.8, "train")
          .when(col("u") < 0.9, "val")
          .otherwise(lit("test")))
      .select(col("doc_id"), col("split"), round(col("u"), 6).as("u"))
      .orderBy("doc_id")

  /** Deterministic global shuffle into training shards — the step
    * between curation and the trainer: every doc draws a
    * content-keyed pseudo-random position (md5 with a shuffle salt,
    * DECORRELATED from [[sampleHashSplit]]'s split hash so shard
    * order never leaks split structure), shard = ⌊u·S⌋ balances by
    * construction, and within-shard order is the (u, doc_id) sort —
    * byte-identical shards across runs, engines, and partitionings,
    * with no rand() and no global coordination.
    *
    * Scale shape: the only window is PARTITIONED BY SHARD, and the
    * shard count is the scale knob (S ≈ corpus_bytes / target shard
    * size at 100 TB — thousands of shards, each one bounded task of
    * window state); assignment itself is a map-side projection.
    * u = k/2³² with k < 2³² exactly representable, so ⌊u·S⌋ and the
    * sort order are bit-identical in any IEEE engine.
    */
  def sampleShardShuffle(spark: SparkSession, dir: String,
                         shards: Int = 8): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(col("u"), col("doc_id"))
    // content-salted uniform hash, shard = ⌊u·S⌋
    Tables.documents(spark, dir)
      .withColumn("u", graft.functions.HexExprs.uniformHash(
        concat(col("text"), lit("#shuffle"))))
      .withColumn("shard", floor(col("u") * shards).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"),
        round(col("u"), 6).as("u"))
      .orderBy("shard", "pos")
  }

  /** SOFT deduplication: instead of electing one canonical member per
    * exact-duplicate family (hard dedup, [[graft.operators.Dedup]]),
    * keep each member independently with probability 1/|family| — the
    * expected surviving mass per family is exactly one document, but
    * naturally-frequent content keeps proportional representation in
    * the sampling RANDOMNESS rather than always the same canonical
    * row (the frequency-aware middle ground some pipelines prefer over
    * hard dedup's distribution shift).
    *
    * Deterministic: membership u is the content hash salted with
    * doc_id (so family members draw independently), the family size
    * rides the hash groupBy back via one broadcast-eligible join.
    * Map-side filter; re-thresholdable; no rand().
    */
  def sampleSoftDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("h", md5(col("text")))
    val fam = d.groupBy("h").agg(count(lit(1)).as("n_family"))
    d.join(fam, "h")
      .withColumn("u", graft.functions.HexExprs.uniformHash(
        concat(col("h"), lit("#soft"), col("doc_id"))))
      .withColumn("keep", col("u") * col("n_family") < 1.0)
      .select(col("doc_id"), col("h").as("family"), col("n_family"),
        round(col("u"), 6).as("u"), col("keep"))
      .orderBy("doc_id")
  }

  /** Length-based curriculum staging (the classic short→long training
    * schedule): every document is assigned to one of 4 stages by its
    * word-count quartile WITHIN its source (per-source ECDF, so a
    * verbose source doesn't push a terse one's docs into late
    * stages), plus a deterministic content-hash shuffle key for
    * within-stage ordering.
    *
    * Scale shape: the quartile boundaries come from the EXACT integer
    * length grid — per-(source, length) counts, one cumulative window
    * over GRID rows (bounded by distinct lengths × sources, never
    * corpus rows: the part_weighted_median ECDF block discipline) —
    * and broadcast back onto the corpus as a (source, length) →
    * stage map; docs sharing a length share a stage, so no per-doc
    * window or global sort exists anywhere. The shuffle key is the
    * usual md5 uniform hash: retry/engine/partitioning-stable, no
    * rand().
    */
  def sampleCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("n_words",
        size(split(col("text"), "\\s+")).cast("long"))
    val grid = d.groupBy("source", "n_words").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy("n_words")
    val g2 = grid.withColumn("cum_before", coalesce(
      sum("c").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = grid.groupBy("source").agg(sum("c").as("n_src"))
    val stages = g2.join(tot, "source")
      .withColumn("stage",
        least(lit(4L), lit(1L) + expr("(4 * cum_before) div n_src")))
      .select("source", "n_words", "stage")
    d.join(broadcast(stages), Seq("source", "n_words"))
      .withColumn("shuffle_u", round(graft.functions.HexExprs.uniformHash(
        concat(col("text"), lit("#curriculum"))), 6))
      .select(col("doc_id"), col("source"), col("n_words"), col("stage"),
        col("shuffle_u"))
      .orderBy("doc_id")
  }

  /** Deterministic k-fold (k=5) cross-validation assignment with the
    * per-source balance audit: every doc routes to fold
    * ⌊5·u(doc_id)⌋ off the content-hash uniform (retry/engine/
    * partitioning-stable — the same no-rand() discipline as every
    * sampler here), and the output is the (fold × source) allocation
    * table with each cell's share of its source and the χ² term
    * against the ideal 1/5 — the check that CV folds are not
    * accidentally source-skewed (which would leak domain identity
    * into fold identity). The grid is COMPLETE: empty cells surface
    * as explicit zero rows, not absences.
    *
    * Scale shape: one map-side-combined (fold, source) aggregate +
    * one per-source aggregate broadcast back over the ≤ 5·|sources|
    * row grid. Output size is the source count × 5, independent of
    * corpus size.
    */
  def sampleKfold(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("fold", floor(graft.functions.HexExprs.uniformHash(
        concat(col("doc_id").cast("string"), lit("#fold"))) * 5)
        .cast("long"))
    val cell = d.groupBy("fold", "source").agg(count(lit(1)).as("n"))
    val bySource = d.groupBy("source").agg(count(lit(1)).as("n_source"))
    val folds = spark.range(0, 5).select(col("id").as("fold"))
    folds.crossJoin(bySource)
      .join(cell, Seq("fold", "source"), "left")
      .na.fill(0L, Seq("n"))
      .select(col("fold"), col("source"), col("n"), col("n_source"),
        round(col("n").cast("double") / col("n_source"), 6)
          .as("share_of_source"),
        round((col("n").cast("double") - col("n_source") / 5.0)
          * (col("n").cast("double") - col("n_source") / 5.0)
          / (col("n_source") / 5.0), 6).as("chi2_term"))
      .orderBy("fold", "source")
  }

  /** Train/test leakage audit of the split POLICY — the measured case
    * for content-keyed splits: under an id-keyed split (hash of
    * doc_id), exact-duplicate documents can straddle the train/test
    * boundary (the classic eval contamination); under the
    * content-keyed split [[sampleHashSplit]] actually uses (hash of
    * text), duplicates land together BY CONSTRUCTION. Reported per
    * policy: duplicate pairs total, pairs crossing any split
    * boundary, and the leaked share — the id-keyed row is the bug
    * this audit exists to catch, the content-keyed row its proof of
    * fix (structurally 0).
    *
    * Scale shape: duplicate families come from the digest groupBy
    * (shuffles 16-byte hashes); the pair join is an equi-join ON THE
    * HASH restricted to multi-member families, so candidates are
    * bounded by family sizes, never corpus all-pairs; the roll-up is
    * a 2-key aggregate. 2 rows out.
    */
  def sampleSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"),
        graft.functions.HexExprs.uniformHash(col("text")).as("u_text"),
        graft.functions.HexExprs.uniformHash(
          concat(col("doc_id").cast("string"), lit("#split"))).as("u_id"))
    def splitOf(u: org.apache.spark.sql.Column) =
      when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
    val assigned = d.select(col("doc_id"), col("h"),
      splitOf(col("u_text")).as("split_content"),
      splitOf(col("u_id")).as("split_id"))
    // multi-member families only: the join key list for pair building
    val dupHashes = assigned.groupBy("h").agg(count(lit(1)).as("k"))
      .filter(col("k") >= 2).select("h")
    val members = assigned.join(dupHashes, "h")
    val pairs = members.as("a")
      .join(members.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(
        (col("a.split_id") =!= col("b.split_id")).cast("long")
          .as("cross_id"),
        (col("a.split_content") =!= col("b.split_content")).cast("long")
          .as("cross_content"))
    val agg = pairs.agg(count(lit(1)).as("n_dup_pairs"),
      sum("cross_id").as("leak_id"), sum("cross_content").as("leak_content"))
    val byPolicy = agg.select(lit("id_keyed").as("policy"),
        col("n_dup_pairs"), col("leak_id").as("n_cross_split"))
      .unionAll(agg.select(lit("content_keyed").as("policy"),
        col("n_dup_pairs"), col("leak_content").as("n_cross_split")))
    byPolicy.select(col("policy"), col("n_dup_pairs"), col("n_cross_split"),
        round(when(col("n_dup_pairs") > 0,
          col("n_cross_split").cast("double") / col("n_dup_pairs"))
          .otherwise(0.0), 6).as("leak_share"))
      .orderBy("policy")
  }
}
