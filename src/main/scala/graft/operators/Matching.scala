package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Entity matching — the reference's core stage
  * (scripts/matching/entity_matching.py,
  * entity_matching_optimized.py, entity_matching_tfidf.py),
  * re-expressed as blocked distributed joins:
  *
  *  - candidate generation is always an equi-join on a blocking key
  *    (never a cartesian), so candidate count is bounded per block;
  *  - scoring is codegen'd column math (levenshtein on sorted-token
  *    names; tf-idf sparse dot via an inverted-index join);
  *  - "best match per record" (entity_matching.py:29-41) is an
  *    argmax aggregation max(struct(rounded score, -key)) — partial-
  *    aggregated map-side (a window would sort the whole candidate
  *    stream), rounded first so cross-engine float drift can't flip
  *    ranks.
  *
  * At 100 TB the same plans hold: the block key bounds each join
  * task, the df table is small→broadcast, skewed tokens are pruned
  * with a max-df cap (mirrors TfidfVectorizer(max_df) in
  * entity_matching_optimized.py:141-147).
  */
object Matching {

  /** Exact-regime pair budget for the top-k matcher family — the
    * crossover between the two measured regimes at sf1 (50k docs,
    * 6.25e8 pairs): the dense broadcast-NLJ scores ~2e7 pairs/s
    * (bm25 30s, tfidf 27s, r8 sf1 run), while the impact-capped
    * candidate path is ~flat ~150s regardless of corpus size (pair
    * materialization + distinct dominate, bounded by its own 5e7
    * admitted-pair cap). Dense-exact is therefore FASTER up to
    * ~150s × 2e7 ≈ 3e9 pairs; beyond that (sf10's 6.25e10 est and
    * every cluster-scale corpus) the capped path wins and keeps the
    * operator flat-cost. Gate decisions log via [[graft.GateLog]].
    */
  val ExactPairBudget: Double = 3e9

  /** Admitted-pair cap INSIDE the capped regime ([[impactCappedPairs]]):
    * the scoring stage materializes and scores this many candidate
    * pairs, so it is sized for the pair-join shuffle (~16B/pair
    * narrow stream), NOT the in-place dense scan the crossover budget
    * above is sized for. Kept separate on purpose — raising the
    * crossover must not widen the capped regime's own work. When a
    * caller forces a lower exactPairBudget the admit cap follows it
    * down (specs force tiny budgets to pin the gate flip).
    */
  val CappedAdmitPairs: Double = 5e7

  /** Vocab-aware scale on the admitted-pair cap: a PRUNED vocabulary
    * at or under `VocabSmallMax` multiplies the admit budget by
    * `VocabSmallBudgetScale` — but ONLY when the scaled budget can
    * reach `DepthFloorFrac` of the corpus per query. Small shared
    * vocabularies are exactly where capped top-1 fidelity collapses
    * (every doc shares most tokens, so thousands of near-ties sit at
    * the argmax and shallow champion lists break them differently
    * than the exact scan), and the r11 sampled-truth protocol
    * measured fidelity to track PER-QUERY ADMITTED DEPTH AS A
    * CORPUS FRACTION, not the absolute budget: at sf1 (25k corpus)
    * the 4× scale gives depth 8000/query = 32% of the corpus and
    * 0.540 → 0.926 top-1 agreement (0.994 at 4× more); at sf10
    * (250k corpus) the same 4× reaches 0.3% depth and agreement is
    * 0.022 — identical to the unscaled budget, at 2.5× the cost. On
    * a near-tie corpus NO sublinear candidate scheme preserves
    * argmax (the same reason WAND-style exact pruning degrades to a
    * full scan there), so above the reachable-depth floor the right
    * spend is zero: keep the base budget, log that fidelity is not
    * budget-recoverable, and let RECALL_EVAL's regret distribution
    * quantify what the capped answer loses (sf10: regret p50 18%).
    * tfidf's ~1600-token vocab never triggers the scale and holds
    * 0.979 at 1×.
    */
  val VocabSmallMax: Long = 1024L
  val VocabSmallBudgetScale: Double = 4.0
  val DepthFloorFrac: Double = 0.25

  private[operators] def admitBudgetFor(vocab: Long, base: Double,
      nQueries: Long, nCorpus: Long): Double = {
    val scaled = base * VocabSmallBudgetScale
    val depthFrac = scaled / math.max(nQueries, 1L) / math.max(nCorpus, 1L)
    if (vocab <= VocabSmallMax && depthFrac >= DepthFloorFrac) scaled else base
  }

  /** Query-side membership for the even/odd matchers, with optional
    * 1-in-`querySample` thinning of the QUERY half only (corpus half,
    * df/idf/avgdl stats, and vocabulary pruning untouched — so a
    * sampled query's exact top-1 equals its top-1 in the unsampled
    * run). This is the sampled-truth hook RecallEval's second-decade
    * protocol uses: at an SF where full exact truth is unaffordable,
    * exact scoring of a deterministic 1-in-K query subset against the
    * FULL corpus is truth for exactly those queries. querySample <= 1
    * returns the production predicate unchanged.
    */
  private[operators] def querySide(idCol: String, querySample: Long): Column = {
    val base = col(idCol) % 2 === 0
    if (querySample <= 1) base
    else base && expr(s"($idCol div 2) % $querySample") === 0
  }

  /** lower/trim + token-sort canonicalization
    * (entity_matching.py:20-24 normalize_name + token_sort_ratio's
    * sort step).
    */
  def normName(c: Column): Column =
    array_join(array_sort(split(lower(trim(c)), "\\s+")), " ")

  /** Similarity in [0,1]: 1 - levenshtein/maxlen over token-sorted
    * names — the engine-portable stand-in for rapidfuzz
    * token_sort_ratio (entity_matching.py:33).
    */
  def tokenSortSim(a: Column, b: Column): Column =
    lit(1.0) - levenshtein(a, b).cast("double") /
      greatest(length(a), length(b)).cast("double")

  /** Exact-key match after cleaning: valid active ABR entities joined
    * to a second source on the 11-digit key (the reference's UNIQUE
    * abn join, loadingcsv upsert key). Supplier side is tiny →
    * broadcast.
    */
  def matchExact(spark: SparkSession, dir: String): DataFrame = {
    val abr = Cleaning.cleanAbr(spark, dir)
    val cc = Tables.supplier(spark, dir).select(
      format_string("%011d", col("s_suppkey")).as("abn"),
      col("s_name"))
    abr.join(broadcast(cc), "abn")
      .select(col("abn"), col("entity_name"), col("s_name").as("matched_name"),
        lit("exact").as("method"), lit(1.0).as("score"))
      .orderBy("abn")
  }

  /** The fuzzy matcher's NAME-derived multi-pass block keys, shared by
    * [[matchFuzzyBlocked]] and [[matchBlockingEval]] so the eval always
    * judges the block the matcher actually runs:
    *
    *  - pass "p:" = first 2 chars of the normalized name — the
    *    reference's block verbatim (entity_matching_optimized.py:43
    *    `create_blocks(block_size=2)`);
    *  - pass "s:" = last 4 chars — the standard multi-pass union
    *    widening (each pass is a cheap equi-join; candidates are the
    *    union), which carries recall on registers whose discriminating
    *    variation sits in a name suffix (serial-numbered or
    *    branch-numbered entities), where a prefix-only block is either
    *    degenerate (one giant block per template) or empty (templates
    *    never share a prefix).
    *
    * Selectivity scales WITH the data: key cardinality grows as the
    * register grows (prefix: alphabet² × the name distribution;
    * suffix: the full tail space), so per-block candidate counts stay
    * bounded as N does — unlike the fixed-25-value nationkey block
    * this replaced, whose per-block volume grew as (N/25)·(M/25) and
    * was measured as the one sf10 kill (>34 min) in r8.
    */
  private def fuzzyBlockKeys(df: DataFrame, normCol: String): DataFrame =
    df.withColumn("blk", explode(array(
      concat(lit("p:"), substring(col(normCol), 1, 2)),
      concat(lit("s:"), expr(s"right($normCol, 4)")))))

  /** Blocked fuzzy match: customer×supplier candidates share a
    * name-derived block key (reference 2-char prefix pass ∪ 4-char
    * suffix pass — see [[fuzzyBlockKeys]]), scored with tokenSortSim,
    * thresholded, best-per-customer. A pair hitting both passes needs
    * no distinct: its duplicate (score, key) tuples collapse inside
    * the argmax aggregate, so the union costs no extra shuffle.
    */
  def matchFuzzyBlocked(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("match_fuzzy_blocked", spark, dir) {
      matchFuzzyBlockedImpl(spark, dir)
    }

  private[graft] def matchFuzzyBlockedImpl(spark: SparkSession, dir: String): DataFrame = {
    val c = fuzzyBlockKeys(Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"),
        normName(col("c_name")).as("c_norm")), "c_norm")
    val s = fuzzyBlockKeys(Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_name"),
        normName(col("s_name")).as("s_norm")), "s_norm")
    // banded native similarity: exact for every pair that can clear
    // the 0.5 threshold; provably-below pairs abandon early
    val scored = c.join(broadcast(s), "blk")
      .withColumn("score", round(
        graft.functions.BoundedLev.sim(col("c_norm"), col("s_norm"), 0.5), 6))
      .filter(col("score") >= 0.5)
    // best-per-customer as a partial-aggregating argmax (score desc,
    // suppkey asc) — no window sort over the candidate stream
    scored.groupBy("c_custkey", "c_name")
      .agg(max(struct(col("score"), (-col("s_suppkey")).as("nk"), col("s_name"))).as("m"))
      .select(col("c_custkey"), col("c_name"), (-col("m.nk")).as("s_suppkey"),
        col("m.s_name").as("s_name"), col("m.score").as("score"))
      .orderBy("c_custkey")
  }

  /** Budget-bounded candidate generation for the exact top-1 matchers'
    * above-budget regime: when the exact pair volume (every query ×
    * every corpus doc, or the prefix join's near-equivalent on a
    * shared-vocabulary corpus) exceeds the pair budget, candidates
    * come from IMPACT-ORDERED postings instead — each doc keeps its
    * `topPerDoc` highest-impact tokens (weight desc — high weight =
    * rare = selective), and each token then keeps its top-K corpus
    * postings by impact (champion lists), K solved against the budget
    * so total candidate volume is ≤ budget BY CONSTRUCTION — with one
    * deliberate exception: K never drops below 1, so when even K=1
    * exceeds the budget the operator proceeds over budget rather than
    * dropping whole queries (structural coverage outranks the cap;
    * the gate's chosen value carries an `!over_budget` suffix when
    * this fires, so specs can pin it). Scoring of admitted candidates
    * stays EXACT; only the candidate set is reduced — below the budget the
    * operators are pinned hash-equal to the exact formulation, above
    * it they trade bounded recall for a linear plan (the regime
    * web-scale sparse retrieval actually runs).
    *
    * Plan shape: per-doc top-P is a doc-partitioned row_number; the
    * champion cut is a token-partitioned row_number over the already
    * doc-truncated postings; K comes from ~log₂(max postings)
    * bounded single-row aggregates over the persisted vocab-sized
    * census (the bounded-scalar-gate discipline); the pair join is
    * one equi-join on token.
    */
  private[operators] def impactCappedPairs(left: DataFrame, right: DataFrame,
      budget: Double, topPerDoc: Int = 8, gate: String = "impact_capped",
      dir: String = "-"): DataFrame = {
    def topP(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("id").orderBy(col("imp").desc, col("token"))
      df.withColumn("rn", row_number().over(w)).filter(col("rn") <= topPerDoc)
    }
    val l = topP(left).select("id", "token")
    val r = topP(right).select("id", "token", "imp")
    // Per-token CHAMPION-LIST truncation (impact-ordered postings,
    // Persin et al. '96 pruning shape): every token keeps its top-K
    // corpus postings by impact, K global, found by bisection on the
    // vocab-bounded census so Σ_t ln_t·min(rn_t, K) ≤ budget BY
    // CONSTRUCTION (modulo the same K=1 floor as above: when even
    // K=1 is over budget, the admit proceeds over budget rather than
    // dropping queries). Rare tokens (rn_t ≤ K) keep their FULL posting
    // list — this strictly generalizes the r9 cheapest-token-first
    // whole-token admit, whose failure mode RECALL_EVAL.json measured:
    // on bm25's 40-token vocabulary, most queries' tokens were never
    // admitted at all (query coverage 0.485, top-1 agreement 0.464 at
    // forced-cap sf1). With K ≥ 1, every query holding ANY corpus
    // token gets candidates, so coverage is structural, not lucky.
    val census = graft.PlanCache.materialize(
      l.groupBy("token").agg(count(lit(1)).as("ln"))
        .join(r.groupBy("token").agg(count(lit(1)).as("rn")), "token"))
    def volume(k: Long): Double = {
      val v = census.agg(sum(col("ln") * least(col("rn"), lit(k)))).head()
      if (v.isNullAt(0)) 0.0 else v.getLong(0).toDouble
    }
    val maxRn = {
      val m = census.agg(max("rn")).head()
      if (m.isNullAt(0)) 1L else m.getLong(0)
    }
    var lo = 1L; var hi = maxRn
    if (volume(maxRn) <= budget) lo = maxRn
    else while (lo < hi) { // largest K with volume(K) <= budget, floor 1
      val mid = (lo + hi + 1) / 2
      if (volume(mid) <= budget) lo = mid else hi = mid - 1
    }
    val k = math.max(lo, 1L)
    val vol = volume(k)
    graft.PlanCache.release(census)
    // (A global-mass champion side-channel — top docs by Σ_t imp
    // joined to every query, WAND-upper-bound style — was measured
    // and REJECTED: at an 80/20 budget split it lowered tfidf top-1
    // agreement 0.979 → 0.918 and did not help bm25 (0.540 → 0.513);
    // the budget buys more from per-token champion depth than from a
    // query-independent doc prior. RECALL_EVAL.json carries the
    // score-regret evidence for what the champion cut actually
    // costs.)
    // dir threads from the caller so this decision lands in
    // GateLog.decisionsFor(dir) / the per-dir PLANS dump like every
    // other gate (the r10 "-" literal kept these out of exactly the
    // observability surface GateLog exists for). The over-budget
    // K=1-floor state rides the CHOSEN value, not just the detail, so
    // specs can pin it.
    graft.GateLog.decide(gate, dir,
      s"champion_k=$k" + (if (vol > budget) "!over_budget" else ""),
      f"admitted_pairs=$vol%.3g budget=$budget%.3g max_postings=$maxRn")
    val wTok = Window.partitionBy("token").orderBy(col("imp").desc, col("id"))
    val rTop = r.withColumn("rk", row_number().over(wTok))
      .filter(col("rk") <= k)
      .select(col("id").as("j"), col("token"))
    l.select(col("id").as("i"), col("token"))
      .join(rTop, "token")
      .select("i", "j").distinct()
  }

  /** TF-IDF cosine top-1 match between the even and odd halves of the
    * documents corpus (entity_matching_tfidf.py /
    * entity_matching.py:44-60). Sparse inverted-index join on token;
    * idf and norms are computed once and broadcast-joined back.
    */
  def matchTfidfTopk(spark: SparkSession, dir: String): DataFrame =
    matchTfidfTopk(spark, dir, denseVocabMax = 4096)

  /** denseVocabMax exposed so tests can force the sparse path;
    * prefixFilter=false disables candidate pruning entirely (the
    * brute-force reference formulation); denseBroadcastMaxBytes caps
    * the estimated broadcast-side vector-table size (docs × vocab ×
    * 8B) above which the dense path is refused even for a narrow
    * vocabulary. All variants must produce identical rounded results
    * — the prefix bound is lossless and both regimes score exactly.
    *
    * Cap default (512 MB): sized from the r8 sf1 measurement. On this
    * templated corpus the prefix filter admits ~76% of all pairs, so
    * the sparse fallback is effectively the quadratic token join — at
    * sf1 (50k docs) it admitted ~475M candidate pairs and measured
    * 2354 s, while the dense half-corpus vector table is ~385 MB and
    * scores the same pairs as one codegen'd dot scan in tens of
    * seconds. 512 MB is comfortably executor-safe on any cluster this
    * would run on; beyond it the sparse path is genuinely the right
    * regime (wide vocabulary → rare terms → short posting lists), and
    * at web scale exact all-pairs cosine is the wrong operator
    * anyway — the knn / minhash-dedup family is the scale path.
    */
  def matchTfidfTopk(spark: SparkSession, dir: String, denseVocabMax: Int,
      prefixFilter: Boolean = true,
      denseBroadcastMaxBytes: Long = 512L << 20,
      exactPairBudget: Double = Matching.ExactPairBudget,
      admitPairBudget: Double = Matching.CappedAdmitPairs,
      querySample: Long = 1L,
      simThreshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // 1-2-gram vocabulary, mirroring TfidfVectorizer(ngram_range=(1,2))
    // in entity_matching_optimized.py:146-149 — bigram features let
    // multi-word names outweigh their common constituent words.
    // Total gram count per doc is 2·|tokens|-1, known map-side before
    // the explode — carrying it through the tf aggregation saves the
    // doc-length shuffle join an explode→count→join formulation pays.
    val withT = docs.withColumn("t", split(col("text"), "\\s+"))
      .withColumn("len", (size(col("t")) * 2 - 1).cast("long"))
    val uni = withT.select(col("doc_id"), col("len"), explode(col("t")).as("token"))
    val big = withT
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("len"), explode(expr(
        "transform(sequence(1, size(t)-1), i -> concat(element_at(t, i), ' ', element_at(t, i+1)))"))
        .as("token"))
    val tokens = uni.unionByName(big)
    // cached (not bare persist): vocab count and the weight pipeline
    // both read tf, and PlanCache ownership means clear()/invalidate
    // reclaims the blocks at run end instead of leaking them for the
    // session lifetime
    val tf = graft.PlanCache.cached("tfidf_tf", spark, dir) {
      tokens.groupBy("doc_id", "len", "token").agg(count(lit(1)).as("cnt"))
        .withColumn("tf", col("cnt").cast("double") / col("len").cast("double"))
    }
    val nDocs = docs.count()
    // Vocabulary pruning, mirroring TfidfVectorizer(max_df=0.95,
    // max_features=10000) in entity_matching_optimized.py:146-149:
    // stopword-grade tokens (df ≥ 95% of docs) explode the
    // inverted-index join while carrying near-zero idf, and the
    // max_features cap bounds the broadcast vocabulary. The cap is a
    // TakeOrderedAndProject (per-partition heaps), not a global window.
    // tf is already one row per (doc, token), so df is a plain count.
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") < lit(0.95 * nDocs))
      .orderBy(col("df").desc, col("token")).limit(10000)
    val weights = graft.PlanCache.cached("tfidf_weights", spark, dir) {
      tf.join(broadcast(dfreq), "token")
        .withColumn("w", col("tf") * log(lit(nDocs.toDouble) / col("df").cast("double")))
    }
    val vocab = dfreq.count()
    // Prefix-filtered candidate generation — a LOSSLESS PPJoin bound,
    // sized from the cosine threshold rather than a fixed top-k: per
    // query doc, terms are ordered by descending weight and a term
    // stays in the prefix while the L2 norm of the remaining suffix
    // (term included) is still >= t·||doc||. If a corpus doc shares
    // NO prefix term of the query, then by Cauchy-Schwarz
    // cosine <= ||suffix||/||doc|| < t, so no pair with cosine >= t
    // can be dropped — the filter only prunes provably-sub-threshold
    // pairs, unlike a fixed top-8 (which silently loses a true match
    // whose overlap avoids both top-8s). With a 1-2-gram vocabulary
    // over templated text the raw token join is quadratic (every doc
    // shares common grams with every doc — measured 22s at sf0.1);
    // the prefix join stays near-linear because high-weight terms are
    // high-idf (rare) terms with short posting lists. The window is
    // PARTITIONED (per doc) with a running frame — bounded state, no
    // global sort. Ranked on the ROUNDED weight (project rule: never
    // rank on raw doubles) with a 2e-6 threshold margin absorbing the
    // round-6 applied to the final cosine.
    // prefix bound keyed to the FINAL threshold (clamped into [0,
    // 0.5]): a lowered simThreshold (RecallEval's below-threshold
    // diagnosis) must weaken the lossless prune in step, never let
    // it drop a pair the weaker final filter would keep
    val simT = math.max(0.0, math.min(0.5, simThreshold))
    val wOrd = Window.partitionBy("doc_id")
      .orderBy(col("wr").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = weights
      .select(col("doc_id"), col("token"), round(col("w"), 6).as("wr"),
        (col("w") * col("w")).as("w2"))
      .withColumn("n2", sum(col("w2")).over(Window.partitionBy("doc_id")))
      .withColumn("cumExc", coalesce(sum(col("w2")).over(wOrd), lit(0.0)))
      .filter(col("n2") - col("cumExc") >=
        lit((simT - 2e-6) * (simT - 2e-6)) * col("n2"))
      .select("doc_id", "token")
    // probe side = query prefixes; build side = the corpus half's FULL
    // (max_df-pruned) postings — prefix-vs-prefix without a shared
    // global ordering would be lossy again (a qualifying token can sit
    // in one doc's prefix and the other's suffix)
    val probe =
      if (prefixFilter) prefix
      else weights.select("doc_id", "token")
    val cand = probe.filter(Matching.querySide("doc_id", querySample))
        .select(col("doc_id").as("i"), col("token"))
      .join(weights.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id").as("j"), col("token")), "token")
      .select("i", "j").distinct()
    // Two physical plans, one logical result (scores only compared
    // after round-6): a dense-vector path when the (pruned) vocabulary
    // fits a per-doc array — per-candidate scoring is then ONE native
    // codegen'd dot, with no per-token row explosion (the sparse join
    // on this heavily-shared vocabulary shuffles |cand|·|tokens| rows:
    // measured 14.8s vs 2s dense at sf0.1) — and the
    // candidate-restricted sparse inverted-index join for vocabularies
    // too wide to densify, where rare terms bound the posting lists.
    // Dense-regime guard: vocabulary width alone does not bound the
    // broadcast — the broadcast side is one corpus half's VECTORS, so
    // its size scales with docs × vocab × 8B. A huge corpus with a
    // small shared vocabulary must still take the sparse path (the
    // escape hatch the densification depends on), so gate on the
    // estimated vector-table size too, not only on vocab width.
    val denseBytes = (nDocs / 2 + 1) * (vocab * 8L + 64L)
    // Exact-regime pair budget: both exact physical plans (dense NLJ,
    // prefix-candidate sparse) score a pair stream that is quadratic
    // on a shared-vocabulary corpus ((n/2)² — measured: the prefix
    // filter still admits ~76% of pairs on this templated text).
    // Above the budget, candidates come from impact-capped postings
    // ([[impactCappedPairs]]) and only those pairs are scored exactly.
    val exactPairsEst = (nDocs / 2.0) * (nDocs / 2.0) / querySample
    val overBudget = exactPairsEst > exactPairBudget
    graft.GateLog.decide("match_tfidf_topk.regime", dir,
      if (overBudget) "capped"
      else if (vocab <= denseVocabMax && denseBytes <= denseBroadcastMaxBytes)
        "dense" else "sparse",
      f"est_pairs=$exactPairsEst%.3g budget=$exactPairBudget%.3g " +
        s"vocab=$vocab denseBytes=$denseBytes")
    // Champion impact is the NORMALIZED weight w/||d|| — the doc's
    // actual cosine contribution for that token (the query-side
    // factor w_qt/||q|| is common to every candidate of the query, so
    // per-token contribution order IS w_dt/||d|| order). The r11
    // unnormalized ranking favored long/high-tf docs whose cosine is
    // diluted by their own norm: at sf10 half the sampled queries'
    // admitted candidates all scored under the 0.5 threshold
    // (RECALL_EVAL sf10_production coverage 0.502) while bm25 — whose
    // corpus impact c already IS the score contribution — measured
    // 1.0 on the same corpus. Per-doc top-P ordering is unchanged
    // (dividing one doc's weights by its own norm permutes nothing),
    // so only the cross-doc champion cut moves.
    val candEff =
      if (overBudget) {
        val normsOdd = weights.filter(col("doc_id") % 2 === 1)
          .groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
        impactCappedPairs(
          weights.filter(Matching.querySide("doc_id", querySample))
            .select(col("doc_id").as("id"), col("token"), col("w").as("imp")),
          weights.filter(col("doc_id") % 2 === 1).join(normsOdd, "doc_id")
            .select(col("doc_id").as("id"), col("token"),
              (col("w") / col("nrm")).as("imp")),
          Matching.admitBudgetFor(vocab,
            math.min(exactPairBudget, admitPairBudget),
            nDocs / 2 / math.max(querySample, 1L), nDocs / 2),
          gate = "match_tfidf_topk.capped_k", dir = dir)
      }
      else cand
    val cos =
      if (!overBudget && vocab <= denseVocabMax && denseBytes <= denseBroadcastMaxBytes) {
        // Densifiable (shared-vocabulary) regime: per-doc dense
        // vectors + a broadcast nested-loop scan of the corpus half.
        // When the vocabulary is small relative to the corpus, nearly
        // every pair shares high-weight grams — measured at sf0.1 the
        // lossless prefix filter still admits 76% of all pairs — so
        // candidate generation (token join + multi-million-row
        // distinct) costs more than it saves. Scoring every pair in
        // place is cheaper: no candidate shuffle, no distinct, one
        // native codegen'd dot per pair. The broadcast side is one
        // half's vectors, bounded by max_features·8B per doc (~19 MB
        // at sf0.1); for corpora whose vector table outgrows a
        // broadcast the sparse path below is the plan — rare terms
        // bound its posting lists precisely when the vocabulary is
        // large, the regime where the prefix filter actually prunes.
        // the regime gate above PROVED vocab <= denseVocabMax, but a
        // static plan reader (PlanLint) cannot see a measured count —
        // the no-op limit puts that bound IN the plan, so the global
        // row_number is visibly over a constant-bounded input
        val ranked = dfreq.limit(denseVocabMax).withColumn("r",
          row_number().over(Window.orderBy("token")))
        // one cached sparse form per doc, rank-SORTED so every
        // accumulation below runs in ascending-index order; the dense
        // side is scattered from it map-side (primitive double[vocab]
        // per odd doc — native codegen; the transform(sequence(1,n),
        // r -> m[r]) formulation probes an O(entries) Spark map per
        // slot, interpreted, n·nnz work per doc)
        val sparse = graft.PlanCache.cached("tfidf_sparse", spark, dir) {
          weights.join(broadcast(ranked.select("token", "r")), "token")
            .groupBy("doc_id")
            .agg(sort_array(collect_list(struct(col("r"), col("w")))).as("rw"),
              sum(col("w") * col("w")).as("n2"))
            .select(col("doc_id"),
              expr("transform(rw, x -> x.r)").as("ri"),
              expr("transform(rw, x -> x.w)").as("wi"),
              sqrt(col("n2")).as("norm"))
        }
        // probe stays SPARSE: per-pair scoring is Σ w[k]·v[idx[k]]
        // over the probe's nnz (~126 grams/doc at sf1) instead of a
        // vocab-wide (~1900) dense-dense scan — a ~15x FLOP cut on
        // the quadratic stage, bit-identical because the sparse walk
        // visits the same indices ascending and the dense scan's
        // extra terms are exact +0.0 no-ops (measured sf1: 130 s
        // dense-dense → see BASELINE.md scaling table)
        val evens = sparse.filter(Matching.querySide("doc_id", querySample))
          .select(col("doc_id").as("i"), col("ri"), col("wi"),
            col("norm").as("ni"))
        val odds = sparse.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id").as("j"),
            graft.functions.VectorExprs.denseScatter(
              col("ri"), col("wi"), vocab.toInt).as("vj"),
            col("norm").as("nj"))
        // spread the NLJ stream side explicitly — its per-row work is
        // (nDocs/2) dots, so task count bounds the scan's parallelism
        // and AQE's byte-sized coalesce under-partitions it whenever
        // the query half is small (see the bm25 twin's note)
        evens.repartition(spark.sparkContext.defaultParallelism)
          .crossJoin(broadcast(odds))
          .withColumn("dot", graft.functions.VectorExprs.sparseDenseDot(
            col("ri"), col("wi"), col("vj")))
          .withColumn("cosine", round(col("dot") / (col("ni") * col("nj")), 6))
          .select("i", "j", "cosine")
      } else if (overBudget) {
        // Capped-regime scorer: candidate pairs join each side's
        // rank-sorted sparse vector ONCE and score with a single
        // native merge-walk dot ([[graft.functions.VectorExprs
        // .sparseSparseDot]]) — the token-join formulation explodes
        // |cand|·nnz rows through a (token, j) shuffle (measured
        // 379 s at sf1 with the budget forced low; this path scores
        // the same pairs bit-identically via the same ascending-rank
        // accumulation order as the dense scan). The candidate stream
        // shuffles NARROW by j; the query-half vectors ride a
        // broadcast when their measured nnz fits, a co-partitioned
        // join otherwise — correct at any size, decision logged.
        val rankedAll = dfreq.select("token")
          .withColumn("r", row_number().over(Window.orderBy("token")))
        val sparseAll = graft.PlanCache.cached("tfidf_sparse_all", spark, dir) {
          weights.join(broadcast(rankedAll), "token")
            .groupBy("doc_id")
            .agg(sort_array(collect_list(struct(col("r"), col("w")))).as("rw"),
              sum(col("w") * col("w")).as("n2"))
            .select(col("doc_id"),
              expr("transform(rw, x -> x.r)").as("ri"),
              expr("transform(rw, x -> x.w)").as("wi"),
              sqrt(col("n2")).as("norm"))
        }
        val evens = sparseAll.filter(Matching.querySide("doc_id", querySample))
          .select(col("doc_id").as("i"), col("ri"), col("wi"),
            col("norm").as("ni"))
        val odds = sparseAll.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id").as("j"), col("ri").as("rj"),
            col("wi").as("wj"), col("norm").as("nj"))
        val nnzEven = weights.filter(Matching.querySide("doc_id", querySample)).count()
        val evFits = nnzEven * 16L + (nDocs / 2 + 1) * 80L <=
          denseBroadcastMaxBytes
        graft.GateLog.decide("match_tfidf_topk.capped_query_side", dir,
          if (evFits) "broadcast" else "shuffle",
          s"nnz=$nnzEven est=${nnzEven * 16L + (nDocs / 2 + 1) * 80L}B " +
            s"max=${denseBroadcastMaxBytes}B")
        candEff.join(odds, "j")
          .join(if (evFits) broadcast(evens) else evens, "i")
          .withColumn("dot", graft.functions.VectorExprs.sparseSparseDot(
            col("ri"), col("wi"), col("rj"), col("wj")))
          .withColumn("cosine", round(col("dot") / (col("ni") * col("nj")), 6))
          .select("i", "j", "cosine")
      } else {
        val norms = weights.groupBy("doc_id")
          .agg(sqrt(sum(col("w") * col("w"))).as("norm"))
        val left = weights.filter(Matching.querySide("doc_id", querySample))
          .select(col("doc_id").as("i"), col("token"), col("w").as("wi"))
        val right = weights.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id").as("j"), col("token"), col("w").as("wj"))
        candEff.join(left, "i")
          .join(right, Seq("token", "j"))
          .groupBy("i", "j").agg(sum(col("wi") * col("wj")).as("dot"))
          .join(norms.select(col("doc_id").as("i"), col("norm").as("ni")), "i")
          .join(norms.select(col("doc_id").as("j"), col("norm").as("nj")), "j")
          .withColumn("cosine", round(col("dot") / (col("ni") * col("nj")), 6))
          .select("i", "j", "cosine")
      }
    // threshold first (argmax is unchanged when the max passes it),
    // then argmax via max(struct) — partial-aggregated map-side, so
    // the |L|x|R| pair stream never shuffles wholesale. The optimizer
    // pushes the threshold into the broadcast-NLJ join condition,
    // which double-evaluates the dot — measured a wash against the
    // smaller aggregate input the early filter buys (2.6s vs 2.9s),
    // so the selective-filter-first form stays.
    // graft_argmax (ObjectHashAggregate) instead of max(struct)
    // (SortAggregate): no per-partition sort of the pair stream —
    // the same sf1 lesson as [[matchBm25Topk]]
    cos.filter(col("cosine") >= simThreshold)
      .groupBy("i")
      .agg(graft.functions.ArgMaxAgg.of(col("cosine"), -col("j")).as("m"))
      .select(col("i"), (-col("m.k")).as("j"), col("m.s").as("cosine"))
      .orderBy("i")
  }

  /** Phonetic/fingerprint-blocked match over real-word names (part
    * names): block key = consonant skeleton of the token-sorted name
    * (first char + tail with vowels removed — a portable
    * Soundex-lite both engines compute identically), so vowel- and
    * word-order-variant spellings land in the same block without
    * sharing exact tokens. The full-name skeleton keeps blocks
    * near-unique — candidate pairs are actual near-variants, not a
    * first-letter bucket cartesian (a first-WORD key measured 17s at
    * sf0.1; this shape is ~100x more selective). Scoring/argmax as in
    * the fuzzy matcher.
    *
    * Scale shape — score DISTINCT NORMS, not rows: real registers
    * repeat names (this corpus's 10x step replicates part names
    * verbatim), and the edit distance is a function of the two norms
    * alone, so row-level pairs re-score the same string pair
    * |copies|² times. Both sides reduce to distinct norms first (the
    * right side keeping its min-key representative — exactly the row
    * the row-level argmax tie-break would pick), pairs are scored
    * once per norm pair, and the per-key result re-expands by an
    * equi-join. Measured at sf1 (10 copies of every name):
    * 72.8s → 0.7s phonetic, 32.9s → 1.1s jaro, identical output —
    * and the norm-level pair volume is now invariant to register
    * duplication depth, the axis on which name registers actually
    * grow.
    */
  def matchPhonetic(spark: SparkSession, dir: String): DataFrame = {
    def skeleton(c: Column): Column = concat(
      substring(c, 1, 1),
      regexp_replace(substring(c, 2, 1000000), "[aeiou]", ""))
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), normName(col("p_name")).as("norm"))
      .withColumn("blk", skeleton(col("norm")))
    val left = p.filter(col("p_partkey") % 2 === 0)
      .select(col("p_partkey").as("l_key"), col("blk"), col("norm").as("l_norm"))
    // one row per distinct right norm: min(struct) keeps the smallest
    // key and ITS name — the row the row-level (score, -r_key)
    // tie-break selects, since score is constant within a norm
    val rgrp = p.filter(col("p_partkey") % 2 === 1)
      .groupBy(col("blk"), col("norm").as("r_norm"))
      .agg(min(struct(col("p_partkey"), col("p_name"))).as("rm"))
      .select(col("blk"), col("r_norm"),
        col("rm.p_partkey").as("r_key"), col("rm.p_name").as("r_name"))
    val best = left.select("blk", "l_norm").distinct()
      .join(rgrp, "blk")
      .withColumn("score", round(
        graft.functions.BoundedLev.sim(col("l_norm"), col("r_norm"), 0.5), 6))
      .filter(col("score") >= 0.5)
      .groupBy("l_norm")
      .agg(max(struct(col("score"), (-col("r_key")).as("nk"), col("r_name"))).as("m"))
    left.join(best, "l_norm")
      .select(col("l_key"), (-col("m.nk")).as("r_key"),
        col("m.r_name").as("r_name"), col("m.score").as("score"))
      .orderBy("l_key")
  }

  /** Jaro-Winkler best match: the transposition-tolerant short-name
    * metric (typo-style noise: swapped letters, shared prefixes)
    * alongside the edit-distance family — scored by the native
    * codegen [[graft.functions.JaroWinkler]] expression, whose
    * semantics are pinned to DuckDB's jaro_winkler_similarity so the
    * oracle checks every pair exactly. Same scale shape as
    * [[matchPhonetic]]: selective consonant-skeleton block, per-pair
    * native scoring over DISTINCT norm pairs (see the phonetic twin's
    * scale note), one argmax aggregation (map-side combined) — no
    * window over the pair stream.
    */
  def matchJaro(spark: SparkSession, dir: String): DataFrame = {
    def skeleton(c: Column): Column = concat(
      substring(c, 1, 1),
      regexp_replace(substring(c, 2, 1000000), "[aeiou]", ""))
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), normName(col("p_name")).as("norm"))
      .withColumn("blk", skeleton(col("norm")))
    val left = p.filter(col("p_partkey") % 2 === 0)
      .select(col("p_partkey").as("l_key"), col("blk"), col("norm").as("l_norm"))
    val rgrp = p.filter(col("p_partkey") % 2 === 1)
      .groupBy(col("blk"), col("norm").as("r_norm"))
      .agg(min(struct(col("p_partkey"), col("p_name"))).as("rm"))
      .select(col("blk"), col("r_norm"),
        col("rm.p_partkey").as("r_key"), col("rm.p_name").as("r_name"))
    val best = left.select("blk", "l_norm").distinct()
      .join(rgrp, "blk")
      .withColumn("score", round(
        graft.functions.JaroWinkler.sim(col("l_norm"), col("r_norm")), 6))
      .filter(col("score") >= 0.8)
      .groupBy("l_norm")
      .agg(max(struct(col("score"), (-col("r_key")).as("nk"), col("r_name"))).as("m"))
    left.join(best, "l_norm")
      .select(col("l_key"), (-col("m.nk")).as("r_key"),
        col("m.r_name").as("r_name"), col("m.score").as("score"))
      .orderBy("l_key")
  }

  /** BM25 top-1 match: even docs are queries, odd docs the corpus —
    * the probabilistic-IR upgrade of [[matchTfidfTopk]] (same
    * regime structure, different weighting). k1=1.2, b=0.75;
    * idf = ln((N-df+0.5)/(df+0.5) + 1) (Robertson/Sparck-Jones with
    * the +1 floor, as in Lucene). Query terms contribute once
    * (qtf-saturated); corpus statistics come from the corpus half
    * only.
    *
    * Two physical regimes, one logical result (scores compared after
    * round-6). On a SHARED small vocabulary (this corpus: a few
    * hundred distinct unigrams across 25k+ docs at sf1) the
    * inverted-index join degenerates to near-all-pairs: the
    * (i, j)-pair-token stream is Σ_t |Q_t|·|C_t| ≈ billions of rows
    * into a ~625M-group aggregation — at sf1 the bench squeaked
    * through under count()'s column pruning (48s) but the
    * materializing Verify path spilled >26 GB without finishing.
    * Since the BM25 term weight is query-independent (qtf saturated),
    * each corpus doc densifies to a weight vector over the pruned
    * vocabulary and each query is its sparse token-rank set with unit
    * weights: scoring is one sparse-probe × dense-build dot per pair
    * (graft_sparse_dense_dot), no candidate shuffle, no pair agg. A
    * pair with NO shared surviving term has dot exactly 0.0 (all
    * weights are strictly positive — the idf +1 floor), so
    * `dot > 0` reproduces the equi-join's candidate semantics
    * exactly. Wide-vocabulary corpora (the real-web regime, where
    * rare terms make posting lists short) keep the inverted-index
    * join; the gate mirrors [[matchTfidfTopk]]: vocab width + the
    * measured corpus-half vector-table bytes.
    */
  def matchBm25Topk(spark: SparkSession, dir: String): DataFrame =
    matchBm25Topk(spark, dir, denseVocabMax = 4096)

  def matchBm25Topk(spark: SparkSession, dir: String, denseVocabMax: Int,
      denseBroadcastMaxBytes: Long = 512L << 20,
      exactPairBudget: Double = Matching.ExactPairBudget,
      admitPairBudget: Double = Matching.CappedAdmitPairs,
      querySample: Long = 1L): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val tokens = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("token"))
    // read by len, df, and the scoring join; PlanCache-owned so the
    // blocks are reclaimable at run end
    val corpusTf = graft.PlanCache.cached("bm25_corpus_tf", spark, dir) {
      tokens.filter(col("doc_id") % 2 === 1)
        .groupBy(col("doc_id").as("j"), col("token"))
        .agg(count(lit(1)).as("tf"))
    }
    val docLen = corpusTf.groupBy("j").agg(sum("tf").as("len"))
    // corpus scalars (N, avgdl) as ONE broadcast one-row relation —
    // no driver-side count/head mid-plan. Explicit exact-int sum /
    // count (avg() accumulates in double — summation drift there
    // would desync the oracle).
    val stats = docLen.agg(
      count(lit(1)).cast("double").as("nd"),
      (sum("len").cast("double") / count(lit(1))).as("avgdl"))
    // max_df prune BEFORE the inverted-index join: stopword-grade
    // tokens sit in ~every posting list, so they dominate |Q|·|C|
    // join volume while BM25's idf already weights them ≈ 0 —
    // unpruned, this query is 10x slower for identical top-1s.
    val dfreq = corpusTf.groupBy("token").agg(countDistinct("j").as("df"))
      .crossJoin(broadcast(stats))
      .filter(col("df") < lit(0.95) * col("nd"))
    val queries = tokens.filter(Matching.querySide("doc_id", querySample))
      .select(col("doc_id").as("i"), col("token")).distinct()
    // With qtf saturated to 1, the whole BM25 term weight is
    // query-INDEPENDENT — compute it once per posting (|postings|
    // rows), so the |Q|·|C| pair stream only joins and sums. Folding
    // the idf/len math into the pair stream instead costs 4x.
    val postingW = corpusTf
      .join(docLen, "j")
      .join(broadcast(dfreq), "token")
      .withColumn("idf", log(
        (col("nd") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .select(col("token"), col("j"),
        (col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / col("avgdl")))).as("c"))
    // Regime gate: measured corpus-half count × pruned vocab width.
    // (The r3 note "dense does not win for BM25" was measured at
    // sf0.1 where the sparse join was 2.1s — at sf1 the same join is
    // the billions-of-rows degenerate case documented above; the
    // constant-factor comparison flips exactly when it matters.)
    val nd0 = docLen.count()
    val vocab = dfreq.count()
    val denseBytes = nd0 * (vocab * 8L + 64L)
    // Exact-regime pair budget (see [[impactCappedPairs]] and the
    // tfidf twin): both exact plans score every query × every corpus
    // doc that shares any term — near-(nq·nc) on a shared vocabulary.
    // Above the budget, candidates come from impact-capped postings
    // (query impact = rarity, i.e. -df; corpus impact = the BM25 term
    // weight c) and only those pairs are scored exactly.
    val nq = math.max(Tables.documents(spark, dir).count() - nd0, 0L)
    val exactPairsEst = nq.toDouble * nd0.toDouble / querySample
    val overBudget = exactPairsEst > exactPairBudget
    graft.GateLog.decide("match_bm25_topk.regime", dir,
      if (overBudget) "capped"
      else if (vocab <= denseVocabMax && denseBytes <= denseBroadcastMaxBytes)
        "dense" else "sparse",
      f"est_pairs=$exactPairsEst%.3g budget=$exactPairBudget%.3g " +
        s"vocab=$vocab denseBytes=$denseBytes")
    val scored =
      if (overBudget) {
        // vocab-aware admit budget (see [[Matching.admitBudgetFor]]):
        // this pruned-vocab census is the one the regime gate above
        // already measured — at bm25's 40-token sf1 vocabulary the 4×
        // scale is the measured 0.540 → 0.926 top-1 agreement point
        val cappedCand = impactCappedPairs(
          queries.join(broadcast(dfreq.select(col("token"), col("df"))), "token")
            .select(col("i").as("id"), col("token"),
              (-col("df")).cast("double").as("imp")),
          postingW.select(col("j").as("id"), col("token"), col("c").as("imp")),
          Matching.admitBudgetFor(vocab,
            math.min(exactPairBudget, admitPairBudget),
            nq / math.max(querySample, 1L), nd0),
          gate = "match_bm25_topk.capped_k", dir = dir)
        // pair-vector scorer (the tfidf twin's capped discipline):
        // candidates shuffle NARROW by j onto the corpus-side sparse
        // weight vectors, the query-side rank sets ride a broadcast
        // when the measured nnz fits, and one native merge-walk dot
        // scores each pair — no |cand|·|q-tokens| row explosion
        // through a (token, j) shuffle
        val rankedAll = dfreq.select("token")
          .withColumn("r", row_number().over(Window.orderBy("token")))
        val jSparse = graft.PlanCache.cached("bm25_sparse_all", spark, dir) {
          postingW.join(broadcast(rankedAll), "token")
            .groupBy("j")
            .agg(sort_array(collect_list(struct(col("r"), col("c")))).as("rw"))
            .select(col("j"), expr("transform(rw, x -> x.r)").as("rj"),
              expr("transform(rw, x -> x.c)").as("cj"))
        }
        val qSparse = queries.join(broadcast(rankedAll), "token")
          .groupBy("i")
          .agg(sort_array(collect_list(col("r"))).as("ri"))
          .withColumn("wi", expr("transform(ri, x -> CAST(1.0 AS DOUBLE))"))
        val nnzQ = queries.count()
        val qFits = nnzQ * 12L + nq * 80L <= denseBroadcastMaxBytes
        graft.GateLog.decide("match_bm25_topk.capped_query_side", dir,
          if (qFits) "broadcast" else "shuffle",
          s"nnz=$nnzQ est=${nnzQ * 12L + nq * 80L}B " +
            s"max=${denseBroadcastMaxBytes}B")
        cappedCand.join(jSparse, "j")
          .join(if (qFits) broadcast(qSparse) else qSparse, "i")
          .withColumn("dot", graft.functions.VectorExprs.sparseSparseDot(
            col("ri"), col("wi"), col("rj"), col("cj")))
          .filter(col("dot") > 0.0)
          .select(col("i"), col("j"), round(col("dot"), 6).as("bm25"))
      } else if (vocab <= denseVocabMax && denseBytes <= denseBroadcastMaxBytes) {
        // no-op limit (the gate proved vocab <= denseVocabMax) so the
        // global row_number is plan-visibly bounded — see the tfidf
        // twin and PlanLint's global-window rule
        val ranked = dfreq.select("token").limit(denseVocabMax)
          .withColumn("r", row_number().over(Window.orderBy("token")))
        // corpus half → dense weight vectors (rank-sorted scatter);
        // query half → sparse rank sets with unit weights. Scoring
        // order is rank-ascending on both paths' oracle scale, and
        // all weights are > 0, so dot==0 ⟺ no shared term.
        val vecs = graft.PlanCache.cached("bm25_vecs", spark, dir) {
          postingW.join(broadcast(ranked), "token")
            .groupBy("j")
            .agg(sort_array(collect_list(struct(col("r"), col("c")))).as("rw"))
            .select(col("j"), graft.functions.VectorExprs.denseScatter(
              expr("transform(rw, x -> x.r)"), expr("transform(rw, x -> x.c)"),
              vocab.toInt).as("vj"))
        }
        // the NLJ stream side carries nd0 dots PER ROW, so its task
        // count — not its byte size — bounds the scan's parallelism:
        // AQE sizes partitions by bytes and coalesces a few thousand
        // sampled queries onto ONE task (measured: the querySample
        // sf10 truth run pinned a single core for the whole 6.25e8-dot
        // scan). An explicit round-robin spread costs one tiny
        // shuffle of nq rows and keeps the scan full-width always.
        queries.join(broadcast(ranked), "token")
          .groupBy("i")
          .agg(sort_array(collect_list(col("r"))).as("ri"))
          .withColumn("wi", expr("transform(ri, x -> CAST(1.0 AS DOUBLE))"))
          .repartition(spark.sparkContext.defaultParallelism)
          .crossJoin(broadcast(vecs))
          .withColumn("dot", graft.functions.VectorExprs.sparseDenseDot(
            col("ri"), col("wi"), col("vj")))
          .filter(col("dot") > 0.0)
          .select(col("i"), col("j"), round(col("dot"), 6).as("bm25"))
      } else {
        queries.join(postingW, "token")
          .groupBy("i", "j")
          .agg(round(sum("c"), 6).as("bm25"))
      }
    // graft_argmax, not max(struct): the struct-max plans as
    // SortAggregate (struct buffers aren't hash-able) and sorts the
    // full pair stream per partition — at sf1 that sort dominated
    // the query; the typed-imperative argmax is ObjectHashAggregate
    // with 17B state per group, no sort (see ArgMaxAgg)
    scored.groupBy("i")
      .agg(graft.functions.ArgMaxAgg.of(col("bm25"), -col("j")).as("m"))
      .select(col("i"), (-col("m.k")).as("j"), col("m.s").as("bm25"))
      .orderBy("i")
  }

  /** RAG retrieval prep: BM25 top-3 PASSAGES (overlapping 64-token
    * chunks, stride 48 — the [[TextAnalysis.chunkOverlap]] layout)
    * per query document — the chunk-then-retrieve shape every
    * retrieval-augmented pipeline runs at ingestion, with the scoring
    * unit being the chunk (what gets stuffed into a context window),
    * not the whole document.
    *
    * Scale shape: same inverted-index discipline as
    * [[matchBm25Topk]] — max_df-pruned postings with the full BM25
    * weight precomputed posting-side — but ALL plan constants (chunk
    * count, average chunk length) ride broadcast one-row cross joins
    * instead of driver-side eager actions: the whole query is one
    * job. Top-3 per query via the TopKPerGroup exec (bounded
    * per-partition heaps), not a window over the full score stream.
    */
  /** The scored (query, chunk) BM25 relation behind
    * [[retrieveChunksBm25]], [[retrievalNdcg]] and
    * [[retrievalHardNegatives]] — PlanCache'd so the retriever, its
    * eval, and the training-pair builder all read the SAME scores
    * from one materialization (its DuckDB twin is the shared
    * ragScoredCtes val, same no-drift argument).
    */
  private[graft] def ragScored(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("rag_scored", spark, dir) {
      val (k1, b) = (1.2, 0.75)
      val docs = Tables.documents(spark, dir)
      val queries = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("i"),
          explode(split(col("text"), "\\s+")).as("token"))
        .distinct()
      val chunks = docs.filter(col("doc_id") >= 3)
        .select(col("doc_id"), split(col("text"), "\\s+").as("ts"))
        .withColumn("start",
          explode(sequence(lit(0), size(col("ts")) - 1, lit(48))))
        .select(col("doc_id"), (col("start") / 48).cast("int").as("chunk_id"),
          explode(slice(col("ts"), col("start") + 1, lit(64))).as("token"))
      val ctf = graft.PlanCache.cached("rag_chunk_tf", spark, dir) {
        chunks.groupBy("doc_id", "chunk_id", "token").agg(count(lit(1)).as("tf"))
      }
      val clen = ctf.groupBy("doc_id", "chunk_id").agg(sum("tf").as("len"))
      // chunk count and average length as ONE broadcast row — exact-int
      // sum / count (avg() accumulates in double; drift desyncs the
      // oracle), no eager .head mid-plan
      val stats = clen.agg(count(lit(1)).as("n"),
        (sum("len").cast("double") / count(lit(1))).as("a"))
      // ctf is one row per (chunk, token), so chunk-frequency is a
      // plain count; max_df pruning needs n → broadcast cross join
      val dfreq = ctf.groupBy("token").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(stats))
        .filter(col("df") < lit(0.95) * col("n"))
        .select("token", "df")
      val postingW = ctf
        .join(clen, Seq("doc_id", "chunk_id"))
        .join(broadcast(dfreq), "token")
        .crossJoin(broadcast(stats))
        .withColumn("idf", log(
          (col("n").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
        .select(col("token"), col("doc_id"), col("chunk_id"),
          (col("idf") * (col("tf") * (k1 + 1)) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / col("a")))).as("c"))
      queries.join(postingW, "token")
        .groupBy("i", "doc_id", "chunk_id")
        .agg(round(sum("c"), 6).as("bm25"))
    }

  def retrieveChunksBm25(spark: SparkSession, dir: String): DataFrame = {
    val scored = ragScored(spark, dir)
    val top = graft.plans.TopKPerGroup(scored, Seq("i"),
      Seq(("bm25", true), ("doc_id", false), ("chunk_id", false)), 3)
    top.withColumn("rank", row_number().over(
        Window.partitionBy("i")
          .orderBy(col("bm25").desc, col("doc_id"), col("chunk_id"))))
      .select("i", "doc_id", "chunk_id", "bm25", "rank")
      .orderBy("i", "rank")
  }

  /** Contrastive-training pair builder over the BM25 retriever: per
    * query, the top RELEVANT chunk (the positive anchor) plus the 5
    * highest-scoring NON-relevant chunks (lang AND source both
    * mismatch) — HARD negatives: lexically close enough to outscore
    * most of the corpus, semantically wrong, exactly the examples a
    * dual-encoder needs (the DPR / in-batch-negatives prep step).
    * Weak-truth relevance shares [[retrievalNdcg]]'s definition.
    *
    * Scale shape: reads the PlanCache-shared scored relation
    * ([[ragScored]] — one materialization serves retriever, eval and
    * this builder), one slim metadata join, then two bounded-heap
    * TopKPerGroup reads (1 positive, 5 negatives per query) and a
    * union. Output is \|queries\|·6 rows regardless of corpus size.
    */
  /** The weak-truth relevance judgment over the scored relation:
    * rel = (query-doc language match) + (source match) ∈ {0, 1, 2}.
    * ONE definition shared by [[retrievalNdcg]] (which judges the
    * retrieved top-k) and [[retrievalHardNegatives]] (which judges
    * the full candidate stream) — a future change to the truth
    * signal lands in both, matching the single ragJudgedCtes SQL
    * twin, so eval and training prep cannot desynchronize.
    */
  private def ragJudged(spark: SparkSession, dir: String): DataFrame = {
    val meta = Tables.documents(spark, dir).select("doc_id", "lang", "source")
    ragScored(spark, dir)
      .join(broadcast(meta.select(col("doc_id").as("i"),
        col("lang").as("q_lang"), col("source").as("q_source"))), "i")
      .join(meta, "doc_id")
      .withColumn("rel",
        (col("lang") === col("q_lang")).cast("long")
          + (col("source") === col("q_source")).cast("long"))
      .select("i", "doc_id", "chunk_id", "bm25", "rel")
  }

  def retrievalHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val judged = ragJudged(spark, dir)
    val pos = graft.plans.TopKPerGroup(judged.filter(col("rel") >= 1),
        Seq("i"), Seq(("bm25", true), ("doc_id", false), ("chunk_id", false)), 1)
      .withColumn("role", lit("positive"))
    val neg = graft.plans.TopKPerGroup(judged.filter(col("rel") === 0),
        Seq("i"), Seq(("bm25", true), ("doc_id", false), ("chunk_id", false)), 5)
      .withColumn("role", lit("negative"))
    pos.unionByName(neg)
      .withColumn("rank", row_number().over(
        Window.partitionBy("i", "role")
          .orderBy(col("bm25").desc, col("doc_id"), col("chunk_id"))))
      .select("i", "role", "rank", "doc_id", "chunk_id", "bm25", "rel")
      .orderBy("i", "role", "rank")
  }

  /** Retrieval-quality read-out over [[retrieveChunksBm25]]'s top-3:
    * graded relevance (query-doc language match + source match →
    * rel ∈ {0,1,2}, gain 2^rel−1), per query the relevant count,
    * precision@3, MRR (reciprocal rank of the first relevant hit)
    * and NDCG@3 — the offline eval card a retrieval stack gates
    * deployments on, next to [[Similarity]]'s knn_recall_eval.
    * NDCG normalizes against the ideal permutation of the RETRIEVED
    * set (exhaustive corpus judgments don't exist for weak-truth
    * relevance; the metric is ordering quality at the cutoff), with
    * the ideal rank's tie broken by retrieved rank so both engines
    * rank identically.
    *
    * Scale shape: everything downstream of the retriever runs on
    * |queries|·k rows — one equi-join onto the shared [[ragJudged]]
    * relevance relation, one ≤k-row-per-partition window for the
    * ideal ranking, one aggregate. The retriever itself is the
    * [[retrieveChunksBm25]] inverted-index plan, reused via the
    * PlanCache'd [[ragScored]] relation.
    */
  def retrievalNdcg(spark: SparkSession, dir: String): DataFrame = {
    val top = graft.functions.Unordered(retrieveChunksBm25(spark, dir))
    val judged = top
      .join(ragJudged(spark, dir).select("i", "doc_id", "chunk_id", "rel"),
        Seq("i", "doc_id", "chunk_id"))
      .withColumn("gain",
        when(col("rel") === 2, 3L).when(col("rel") === 1, 1L).otherwise(0L))
    val ideal = judged.withColumn("irank", row_number().over(
      Window.partitionBy("i").orderBy(col("gain").desc, col("rank"))))
    ideal.groupBy("i")
      .agg(
        sum(when(col("rel") >= 1, 1L).otherwise(0L)).as("n_rel"),
        max(when(col("rel") >= 1, lit(1.0) / col("rank")).otherwise(0.0))
          .as("mrr0"),
        sum(col("gain") / log2(col("rank") + 1.0)).as("dcg"),
        sum(col("gain") / log2(col("irank") + 1.0)).as("idcg"))
      .select(col("i"), col("n_rel"),
        round(col("n_rel") / 3.0, 6).as("prec_at3"),
        round(col("mrr0"), 6).as("mrr"),
        round(col("dcg"), 6).as("dcg_at3"),
        round(when(col("idcg") > 0, col("dcg") / col("idcg")).otherwise(0.0), 6)
          .as("ndcg_at3"))
      .orderBy("i")
  }

  /** Hybrid retrieval via reciprocal-rank fusion: the BM25 lexical
    * ranking ([[retrieveChunksBm25]]'s scored relation, rolled up to
    * doc level) fused with a dense cosine ranking (the query doc's
    * embedding against candidate docs) as Σ 1/(60+rank) over both
    * lists — the standard hybrid-search combiner (rank-based, so the
    * incomparable BM25 and cosine scales never meet). A doc missing
    * from one list contributes 0 from that ranker, not a NULL sum.
    *
    * Scale shape: the sparse side reuses the PlanCache'd inverted-
    * index scored relation (one per-(query, doc) max aggregate +
    * per-query top-20 heap); the dense side is a broadcast of the
    * 3-row query-vector set against the corpus (the knn_brute
    * baseline plan — at corpus scale the IVF-bucketed variant is the
    * drop-in, same downstream fusion); the fusion join and the final
    * top-5 run on two ≤20-row-per-query lists. 5·|queries| rows out.
    */
  def retrievalRrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val docBm = ragScored(spark, dir)
      .groupBy("i", "doc_id").agg(max("bm25").as("bm25"))
    val sTop = graft.plans.TopKPerGroup(docBm, Seq("i"),
        Seq(("bm25", true), ("doc_id", false)), 20)
      .withColumn("rank_sparse", row_number().over(
        Window.partitionBy("i").orderBy(col("bm25").desc, col("doc_id"))))
      .select("i", "doc_id", "rank_sparse")
    val e = Tables.embeddings(spark, dir).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("norm", expr(
        "sqrt(aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"))
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("i"), col("v").as("qv"),
        col("norm").as("qn"))
    val dScored = e.filter(col("vec_id") >= 3)
      .crossJoin(broadcast(q))
      .withColumn("cos", round(
        graft.functions.VectorExprs.dot(col("qv"), col("v"))
          / (col("qn") * col("norm")), 6))
      .select(col("i"), col("vec_id").as("doc_id"), col("cos"))
    val dTop = graft.plans.TopKPerGroup(dScored, Seq("i"),
        Seq(("cos", true), ("doc_id", false)), 20)
      .withColumn("rank_dense", row_number().over(
        Window.partitionBy("i").orderBy(col("cos").desc, col("doc_id"))))
      .select("i", "doc_id", "rank_dense")
    val fused = sTop.join(dTop, Seq("i", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("rank_sparse")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60.0) + col("rank_dense")), lit(0.0)))
    graft.plans.TopKPerGroup(fused, Seq("i"),
        Seq(("rrf", true), ("doc_id", false)), 5)
      .withColumn("rank", row_number().over(
        Window.partitionBy("i").orderBy(col("rrf").desc, col("doc_id")))
        .cast("int"))
      .select(col("i"), col("doc_id"), col("rank_sparse"),
        col("rank_dense"), round(col("rrf"), 6).as("rrf_score"),
        col("rank"))
      .orderBy("i", "rank")
  }

  /** Union of methods + pair dedup with exact winning over fuzzy —
    * the reference's concat + drop_duplicates combine step
    * (entity_matching.py:62-66).
    */
  def matchCombined(spark: SparkSession, dir: String): DataFrame = {
    val exact = matchExact(spark, dir)
      .select(col("abn").as("left_key"), col("matched_name").as("right_name"),
        col("method"), col("score"))
    val fuzzy = matchFuzzyBlocked(spark, dir)
      .select(format_string("%011d", col("c_custkey")).as("left_key"),
        col("s_name").as("right_name"), lit("fuzzy").as("method"), col("score"))
    val all = exact.unionByName(fuzzy)
    // keep-first by method ('exact' < 'fuzzy') as an argmin agg
    all.groupBy("left_key", "right_name")
      .agg(min(struct(col("method"), col("score"))).as("m"))
      .select(col("left_key"), col("right_name"),
        col("m.method").as("method"), col("m.score").as("score"))
      .orderBy("left_key", "right_name")
  }

  /** The reference's end product: the cleaned entity register
    * LEFT-enriched with every match either method found — one row per
    * (entity, matched name), unmatched entities kept with null
    * enrichment (the "firmable" combined-company table the whole
    * reference pipeline exists to produce). Entity side is
    * PlanCache-shared; the join key is the validated 11-digit
    * business key.
    */
  def entityEnriched(spark: SparkSession, dir: String): DataFrame = {
    val abr = Cleaning.cleanAbr(spark, dir)
    val matches = matchCombined(spark, dir).withColumnRenamed("left_key", "abn")
    abr.join(matches, Seq("abn"), "left")
      .select(col("abn"), col("entity_name"), col("entity_type"), col("postcode"),
        col("right_name").as("matched_name"), col("method"), col("score"))
      .orderBy("abn", "matched_name")
  }

  /** Deterministic stand-in for the LLM pair classifier
    * (LLM/llm_entity_matching_demo.py): same I/O contract —
    * {match, confidence, reason} per candidate pair — driven by
    * transparent features instead of a model call. The default
    * classifier is deterministic, so this IS oracle-expressible
    * (hash-gated since r8).
    */
  def matchLlmStub(spark: SparkSession, dir: String): DataFrame = {
    val pairs = matchFuzzyBlocked(spark, dir)
    pairs.select(
      col("c_custkey"), col("s_suppkey"),
      (col("score") >= 0.8).as("match"),
      round(least(lit(1.0), col("score") * 1.1), 6).as("confidence"),
      concat(lit("token-sort similarity "), col("score").cast("string"),
        when(col("score") >= 0.8, lit(" >= 0.8: same entity"))
          .otherwise(lit(" < 0.8: different entity"))).as("reason"))
      .orderBy("c_custkey")
  }

  /** Canonical entity ids over the match graph — the entity-resolution
    * CLOSURE step the reference stops short of: every matched
    * (customer, supplier) pair is an edge in a bipartite identity
    * graph (customer node = 2·key, supplier node = 2·key+1 — disjoint
    * id spaces), and each connected component becomes one canonical
    * entity (id = the component's min node id) via
    * [[Dedup.labelPropagate]]'s pointer-jumped label propagation.
    * On this best-match-per-customer graph components are
    * supplier-centered stars, but the machinery is the general
    * transitive closure: A≈B≈C merge into one entity even when A and
    * C never matched directly — exactly what a grouped-by-pair match
    * table cannot express.
    */
  def entityCanonical(spark: SparkSession, dir: String): DataFrame = {
    val edges = matchFuzzyBlocked(spark, dir)
      .select((col("c_custkey") * 2).as("src"),
        (col("s_suppkey") * 2 + 1).as("dst"))
    // labelPropagate returns its converged labels materialized; this
    // query is their only reader
    Dedup.labelPropagate(edges)
      .select(
        when(col("id") % 2 === 0, "customer").otherwise("supplier").as("node_type"),
        expr("id div 2").as("key"),
        col("component").as("entity_id"))
      .orderBy("node_type", "key")
  }

  /** Blocking-quality eval for the fuzzy matcher: pairs completeness
    * (blocking recall) of the nation block — what fraction of TRUE
    * fuzzy matches (score ≥ 0.7 over ALL cross pairs, no block —
    * 0.7 is where this corpus's genuine same-entity pairs sit; at
    * the matcher's 0.5 every cross pair "matches" and the eval
    * degenerates to the block's size share) the matcher's multi-pass
    * name block ([[fuzzyBlockKeys]]: prefix-2 ∪ suffix-4) admits,
    * next to the candidate volume the block pays (join rows through
    * the exploded key streams). THE record-linkage pre-flight: a block
    * that saves 99% of comparisons but drops 20% of true matches is
    * not a win, and nobody can know without this table.
    *
    * Scale note: the unblocked truth stream is the one quadratic in
    * this library, so BOTH sides are deterministically
    * content-hash-sampled — and the sampling fractions ADAPT to the
    * relation sizes under a fixed PAIR BUDGET (8M sampled pairs):
    * base fractions 20% of customers × 50% of suppliers, both
    * shrunk by √(budget/expected-pairs) once the expected sampled
    * cross volume would exceed the budget, so the verify cost is a
    * CONSTANT at any corpus scale (measured: fixed 20%×50% was 112 s
    * at sf1 and grows 100× per 10× data; budgeted, ~6 s flat). The
    * pairs-completeness estimate is symmetric in the two relations,
    * so sampling either side scales the numerator and denominator
    * together and the recall ratio stays unbiased at every budget;
    * the thresholds are quantized to 4 decimals so the DuckDB oracle
    * twin reproduces them bit-for-bit from the same counts. The
    * BLOCKED candidate volume is computed as Σ|block_c|·|block_s|
    * from two per-key counts over the FULL relations, never by
    * materializing candidates. The sampled supplier side is
    * broadcast only under a measured-count gate: a forced
    * `broadcast()` hint does not degrade — it builds the hashed
    * relation on the driver and OOMs — so above the cap the truth
    * join runs as a partitioned cartesian over the two samples
    * instead (budget-bounded verify work, executor-side).
    */
  def matchBlockingEval(spark: SparkSession, dir: String): DataFrame =
    matchBlockingEval(spark, dir, broadcastSuppliersMaxBytes = 64L << 20)

  def matchBlockingEval(spark: SparkSession, dir: String,
                        broadcastSuppliersMaxBytes: Long,
                        truthPairBudget: Double = 8e6): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), normName(col("c_name")).as("c_norm"))
    val s = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), normName(col("s_name")).as("s_norm"))
    // adaptive thresholds from the two measured counts (cheap key-only
    // scans); arithmetic ORDER mirrors the oracle SQL exactly so both
    // engines derive the identical quantized literal
    val nc = c.count(); val ns = s.count()
    val expPairs = 0.2 * nc * 0.5 * ns
    val shrink = if (expPairs > truthPairBudget)
      math.sqrt(truthPairBudget / expPairs) else 1.0
    def q4(x: Double): Double =
      new java.math.BigDecimal(x).setScale(4, java.math.RoundingMode.HALF_UP)
        .doubleValue()
    val thC = q4(0.2 * shrink); val thS = q4(0.5 * shrink)
    val cSample = c.filter(
      graft.functions.HexExprs.uniformHash(col("c_norm")) < thC)
    val sSample = graft.PlanCache.cached("blocking_eval_ssample", spark, dir) {
      s.filter(graft.functions.HexExprs.uniformHash(col("s_norm")) < thS)
    }
    // gate on the measured sampled-supplier count (sSample is
    // PlanCache'd, so the count materializes the cache the join
    // rereads — no extra pass); ~128B covers the two keys + the
    // normalized name in a hashed relation
    val nSS = sSample.count()
    val sFits = nSS * 128L <= broadcastSuppliersMaxBytes
    graft.GateLog.decide("match_blocking_eval.supplier_side", dir,
      if (sFits) "broadcast" else "shuffle",
      s"sampled=$nSS est=${nSS * 128L}B max=${broadcastSuppliersMaxBytes}B")
    // in-block ⟺ the multi-pass name block of [[fuzzyBlockKeys]]
    // admits the pair (either pass suffices)
    val truth = cSample.crossJoin(if (sFits) broadcast(sSample) else sSample)
      .withColumn("score", round(
        graft.functions.BoundedLev.sim(col("c_norm"), col("s_norm"), 0.7), 6))
      .filter(col("score") >= 0.7)
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(when(
          (substring(col("c_norm"), 1, 2) === substring(col("s_norm"), 1, 2)) ||
            (expr("right(c_norm, 4)") === expr("right(s_norm, 4)")), 1L)
          .otherwise(0L)).as("n_true_in_block"))
    // candidate volume in BOTH units (the two costs mean different
    // things and a dual-pass pair differs between them):
    // n_blocked_candidates = JOIN ROWS the exploded multi-pass key
    // streams pay (Σ_k |c@k|·|s@k| over the tagged key space — a pair
    // both passes admit is emitted once per pass, the shuffle/score
    // stream cost); n_blocked_pairs_distinct = DISTINCT admitted
    // pairs (what the downstream argmax actually scores after
    // duplicate admissions collapse) = join rows − |both-pass pairs|,
    // where the overlap is Σ over combined (prefix2, suffix4) keys of
    // |c@key|·|s@key| — per-key counts again, never materialized pairs
    val volume = fuzzyBlockKeys(c, "c_norm")
      .groupBy(col("blk").as("k")).agg(count(lit(1)).as("nc"))
      .join(fuzzyBlockKeys(s, "s_norm")
        .groupBy(col("blk").as("k")).agg(count(lit(1)).as("ns")), "k")
      .agg(coalesce(sum(col("nc") * col("ns")), lit(0L)).as("n_blocked_candidates"))
    val overlap = c
      .select(substring(col("c_norm"), 1, 2).as("p2"),
        expr("right(c_norm, 4)").as("s4"))
      .groupBy("p2", "s4").agg(count(lit(1)).as("nc"))
      .join(s.select(substring(col("s_norm"), 1, 2).as("p2"),
          expr("right(s_norm, 4)").as("s4"))
        .groupBy("p2", "s4").agg(count(lit(1)).as("ns")), Seq("p2", "s4"))
      .agg(coalesce(sum(col("nc") * col("ns")), lit(0L)).as("n_both"))
    truth.crossJoin(broadcast(volume)).crossJoin(broadcast(overlap))
      .select(col("n_true_pairs"), col("n_blocked_candidates"),
        (col("n_blocked_candidates") - col("n_both"))
          .as("n_blocked_pairs_distinct"),
        col("n_true_in_block"),
        round(col("n_true_in_block").cast("double") / col("n_true_pairs"), 6)
          .as("recall"))
  }

  /** Fellegi-Sunter probabilistic record linkage over the SAME
    * multi-pass name-blocked customer×supplier candidates the fuzzy
    * matcher scores ([[fuzzyBlockKeys]]: reference prefix-2 pass ∪
    * suffix-4 pass — the statistical successor to the reference's
    * single-score fuzzy threshold, entity_matching.py:33):
    * each pair gets a γ agreement PATTERN over three fields — name
    * similarity ≥ 0.5 (informative), acctbal-bucket equality and
    * key-last-digit equality (both uninformative by construction) —
    * and a log-likelihood weight Σ ln(m/u) / ln((1−m)/(1−u)).
    *
    * u-probabilities for the categorical fields are computed EXACTLY
    * as random-pair collision probabilities from the two sides' value
    * frequency tables (Σ_v P_c(v)·P_s(v) — two tiny aggregates on a
    * broadcast one-row cross join), so the FS machinery itself
    * demonstrates its point: the noise fields land near weight 0 while
    * the name field carries the decision. m-probabilities are fixed
    * documented constants (full EM estimation is out of scope). Output
    * is the bounded 8-row pattern summary (counts + weight + the
    * match / possible / non-match verdict at ±ln(8) thresholds) — the
    * per-pair stream never leaves its aggregation.
    *
    * Scale shape: equi-joins on the exploded name-block keys (whose
    * cardinality grows with the register, so per-block volume stays
    * bounded — the r8 nationkey form was quadratic, 52 s at sf1), one
    * pair-level dedup shuffle (a pair both passes admit must count
    * once in the γ census), per-pair codegen'd BoundedLev, map-side γ
    * arithmetic, an 8-key aggregate; the u tables are one-row
    * broadcasts over the FULL relations (u is a random-pair rate, not
    * a blocked-pair rate, so blocking does not touch it).
    */
  def matchFellegiSunter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"),
        normName(col("c_name")).as("c_norm"),
        floor(col("c_acctbal") / 1000.0).as("c_bkt"),
        (col("c_custkey") % 10).as("c_dig"))
    val s = Tables.supplier(spark, dir)
      .select(col("s_suppkey"),
        normName(col("s_name")).as("s_norm"),
        floor(col("s_acctbal") / 1000.0).as("s_bkt"),
        (col("s_suppkey") % 10).as("s_dig"))
    // exact random-pair collision probability per categorical field:
    // Σ_v (n_c(v)/N_c)·(n_s(v)/N_s) — frequency tables are tiny
    def collision(l: DataFrame, lv: String, r: DataFrame, rv: String): DataFrame = {
      val lf = l.groupBy(col(lv).as("v")).agg(count(lit(1)).as("nl"))
      val rf = r.groupBy(col(rv).as("v")).agg(count(lit(1)).as("nr"))
      lf.join(rf, "v")
        .agg(sum(col("nl") * col("nr")).as("hits"))
        .crossJoin(broadcast(l.agg(count(lit(1)).as("tl"))))
        .crossJoin(broadcast(r.agg(count(lit(1)).as("tr"))))
        .select((col("hits").cast("double") /
          (col("tl") * col("tr")).cast("double")).as("u"))
    }
    val uBkt = collision(c, "c_bkt", s, "s_bkt").select(col("u").as("u_bkt"))
    val uDig = collision(c, "c_dig", s, "s_dig").select(col("u").as("u_dig"))
    // name field: m/u fixed (documented) — the similarity threshold on
    // token-sorted names has no closed-form random-pair rate
    val mName = 0.9; val uName = 0.01
    val mBkt = 0.12; val mDig = 0.12 // noise fields: m ≈ u by design
    // 0.65 sits between the template floor (~0.56: any two names share
    // the 'Xxx#digits' scaffold) and digit-equal pairs (≥ 0.67) — the
    // field separates real key agreement from the shared template
    // γ is a pure function of the pair, so a pair admitted by several
    // block keys carries IDENTICAL γ under each — computing γ BEFORE
    // the pair-level dedup keeps the census exact while the dedup
    // shuffle carries (2 keys + 3 int flags) instead of both
    // normalized name strings; the trade is one BoundedLev evaluation
    // per block instance (≤2 per pair: prefix ∪ suffix keys) instead
    // of per pair, and the early-exit bound keeps that map-side cost
    // far below the string-shuffle bytes it saves
    val pairs = fuzzyBlockKeys(c, "c_norm")
      .join(broadcast(fuzzyBlockKeys(s, "s_norm")), "blk")
      .withColumn("g_name",
        (graft.functions.BoundedLev.sim(col("c_norm"), col("s_norm"), 0.65) >= 0.65)
          .cast("int"))
      .withColumn("g_bkt", (col("c_bkt") === col("s_bkt")).cast("int"))
      .withColumn("g_dig", (col("c_dig") === col("s_dig")).cast("int"))
      .select("c_custkey", "s_suppkey", "g_name", "g_bkt", "g_dig")
      .dropDuplicates("c_custkey", "s_suppkey")
    val byPattern = pairs.groupBy("g_name", "g_bkt", "g_dig")
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(uBkt)).crossJoin(broadcast(uDig))
      .withColumn("weight", round(
        (when(col("g_name") === 1, math.log(mName / uName))
          .otherwise(math.log((1 - mName) / (1 - uName)))) +
        (when(col("g_bkt") === 1, log(lit(mBkt) / col("u_bkt")))
          .otherwise(log((lit(1.0) - lit(mBkt)) / (lit(1.0) - col("u_bkt"))))) +
        (when(col("g_dig") === 1, log(lit(mDig) / col("u_dig")))
          .otherwise(log((lit(1.0) - lit(mDig)) / (lit(1.0) - col("u_dig"))))), 6))
      .withColumn("verdict",
        when(col("weight") >= math.log(8.0), "match")
          .when(col("weight") <= -math.log(8.0), "non_match")
          .otherwise("possible"))
    byPattern
      .select(col("g_name"), col("g_bkt"), col("g_dig"), col("n_pairs"),
        col("weight"), col("verdict"))
      .orderBy("g_name", "g_bkt", "g_dig")
  }

  /** Sorted-neighborhood blocking (the classic alternative to key
    * blocking, Hernández-Stolfo): records sorted by a lexicographic
    * key, candidates = pairs within a rank window w. Key blocking
    * misses pairs whose block keys disagree; sorted neighborhood
    * catches near-miss keys that still sort adjacently.
    *
    * Scale shape: the sort is NEVER global — records partition by the
    * key's first letter (the standard multi-pass prefix partition; at
    * 100 TB the prefix lengthens until partitions bound), rank is a
    * prefix-PARTITIONED row_number, and the w-band candidate join is
    * the binned band trick (join on (prefix, ⌊rank/w⌋) probing 2
    * buckets — no inequality cartesian). Pairs are scored with the
    * banded native BoundedLev and the best match per even-key part is
    * one argmax aggregate, directly comparable to [[matchPhonetic]]'s
    * key-blocked result on the same corpus.
    */
  def matchSortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    val w = 4
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), normName(col("p_name")).as("norm"))
      .withColumn("pfx", substring(col("norm"), 1, 1))
    val ranked = p.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("pfx").orderBy("norm", "p_partkey")).cast("long"))
    val buck = ranked.withColumn("bkt", floor(col("rank") / w))
    // each row probes its own and the NEXT bucket: together they cover
    // every pair with 0 < rank_r - rank_l <= w exactly once (l < r)
    val left = buck.select(col("p_partkey").as("l_key"), col("p_name").as("l_name"),
      col("norm").as("l_norm"), col("pfx"), col("rank").as("l_rank"),
      explode(array(col("bkt"), col("bkt") + 1)).as("bkt"))
    val right = buck.select(col("p_partkey").as("r_key"), col("p_name").as("r_name"),
      col("norm").as("r_norm"), col("pfx"), col("rank").as("r_rank"), col("bkt"))
    val cand = left.join(right, Seq("pfx", "bkt"))
      .filter(col("r_rank") - col("l_rank") > 0 && col("r_rank") - col("l_rank") <= w)
      // bipartite even×odd flavor, comparable to matchPhonetic
      .filter(col("l_key") % 2 === 0 && col("r_key") % 2 === 1)
    cand
      .withColumn("score", round(
        graft.functions.BoundedLev.sim(col("l_norm"), col("r_norm"), 0.5), 6))
      .filter(col("score") >= 0.5)
      .groupBy("l_key")
      .agg(max(struct(col("score"), (-col("r_key")).as("nk"), col("r_name"))).as("m"))
      .select(col("l_key"), (-col("m.nk")).as("r_key"),
        col("m.r_name").as("r_name"), col("m.score").as("score"))
      .orderBy("l_key")
  }

  /** pg_trgm-style trigram similarity matching (the Postgres fuzzy
    * matcher the reference's entity tables would use in production):
    * names decompose into padded word trigrams ("  w", " wo", …,
    * exactly pg_trgm's 2-front/1-back padding), similarity =
    * |shared trigrams| / |union|, matches at pg_trgm's conventional
    * ≥ 0.45 line, best candidate per left row. Even/odd partkey split
    * mirrors match_jaro's two-universe setup.
    *
    * Scale shape: candidate generation is RAREST-2 TRIGRAM blocking —
    * each name indexes only its two globally-rarest trigrams (global
    * df from one groupBy; ties → trigram order), so posting lists
    * stay short where a full pg_trgm GIN join would pay Σ df_l·df_r
    * on zipfy-hot trigrams. A pair is a candidate iff the two
    * rarest-2 sets intersect — identical and near-identical names
    * always qualify (their rarest trigrams coincide); the contract
    * gives up only pairs whose ONLY shared trigrams are common ones,
    * which sit far below the 0.45 line on realistic name lengths.
    * Exact similarity is then computed per candidate from the full
    * trigram arrays (one codegen'd array_intersect), never from
    * postings.
    */
  def matchTrigram(spark: SparkSession, dir: String): DataFrame = {
    // Score DISTINCT NAMES, not part rows — the skeleton-matcher
    // lesson (commit "Score distinct norms, not rows"): this corpus
    // has 20k parts over 64 distinct names, so part-level scoring
    // re-scores every name pair |copies|² times (measured 56s → ~1s).
    // All blocking/scoring state is name-determined (tg = f(nm)), so
    // the reformulation is EXACT: per even part, the old argmax over
    // candidate odd parts equals the argmax over candidate names
    // ordered by (sim desc, that name's MIN odd partkey asc).
    val parts = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"),
        lower(trim(col("p_name"))).as("nm"))
    val names = parts.groupBy("nm")
      .agg(count(lit(1)).as("copies"),
        sum(when(col("p_partkey") % 2 === 0, 1L).otherwise(0L))
          .as("n_even"))
      .withColumn("tg", expr(
        "array_distinct(flatten(transform(split(nm, ' '), w -> " +
          "transform(sequence(1, length(w) + 1), " +
          "i -> substring(concat('  ', w, ' '), i, 3)))))"))
    // trigram df still counts PARTS (copies-weighted), as before
    val posts = names.select(col("nm"), col("copies"),
      explode(col("tg")).as("t"))
    val dfc = posts.groupBy("t").agg(sum("copies").as("df"))
    val rare = graft.plans.TopKPerGroup(posts.join(dfc, "t"),
      Seq("nm"), Seq(("df", false), ("t", false)), 2)
    // the chosen representative of an odd-side name: its min partkey
    // (+ that part's raw p_name), via one argmin struct aggregate
    val oddMin = parts.filter(col("p_partkey") % 2 === 1)
      .groupBy("nm")
      .agg(min(struct(col("p_partkey"), col("p_name"))).as("m"))
      .select(col("nm").as("r_nm"), col("m.p_partkey").as("r_key"),
        col("m.p_name").as("r_name"))
    val evenNames = names.filter(col("n_even") > 0)
    val cand = rare.join(evenNames.select(col("nm"), col("tg").as("l_tg")),
        "nm")
      .select(col("nm").as("l_nm"), col("l_tg"), col("t"))
      .join(rare.select(col("nm").as("r_nm"), col("t")), "t")
      .select("l_nm", "l_tg", "r_nm").distinct()
      .join(oddMin, "r_nm")
      .join(names.select(col("nm").as("r_nm"), col("tg").as("r_tg")),
        "r_nm")
    val scored = cand
      .withColumn("shared",
        size(array_intersect(col("l_tg"), col("r_tg"))).cast("long"))
      .withColumn("sim", round(col("shared").cast("double")
        / (size(col("l_tg")) + size(col("r_tg")) - col("shared")), 6))
      .filter(col("sim") >= 0.45)
    val bestByName = graft.plans.TopKPerGroup(scored, Seq("l_nm"),
      Seq(("sim", true), ("r_key", false)), 1)
      .select(col("l_nm"), col("r_key"), col("r_name"), col("shared"),
        col("sim"))
    parts.filter(col("p_partkey") % 2 === 0)
      .select(col("p_partkey").as("l_key"), col("nm").as("l_nm"))
      .join(bestByName, "l_nm")
      .select(col("l_key"), col("r_key"), col("r_name"), col("shared"),
        col("sim"))
      .orderBy("l_key")
  }
}
