package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-corpus analysis for training-data curation: language ID,
  * quality scoring, token stats, fingerprinting. All signals are
  * integer/ratio arithmetic over whitespace tokens so the DuckDB
  * oracle reproduces them bit-for-bit.
  */
object TextAnalysis {

  /** (lang, marker-token) pairs for the n-gram-heuristic language
    * classifier. Tiny → broadcast everywhere.
    */
  val markers: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "or", "en" -> "a",
    "es" -> "scan", "es" -> "merge",
    "de" -> "fast", "de" -> "slow",
    "fr" -> "filter", "fr" -> "stream",
    "zh" -> "hash", "zh" -> "sort")

  private def toks = split(col("text"), "\\s+")

  /** Marker-scoring language ID: count marker hits per candidate
    * language, argmax with lang-asc tiebreak; docs with no hits
    * classify as 'und'.
    */
  /** Per-doc language prediction — shared by [[textLangid]] and the
    * [[langidConfusion]] eval matrix under the PlanCache.
    */
  private def langidPred(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("langid_pred", spark, dir) {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val m = markers.toDF("cand_lang", "token")
      val hits = docs.select(col("doc_id"), explode(toks).as("token"))
        .join(broadcast(m), "token")
        .groupBy("doc_id", "cand_lang")
        .agg(count(lit(1)).as("score"))
      val best = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("cand_lang"))
      val pred = hits.withColumn("rn", row_number().over(best))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("cand_lang").as("pred_lang"), col("score"))
      docs.select("doc_id").join(pred, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
          coalesce(col("score"), lit(0L)).as("score"))
    }

  def textLangid(spark: SparkSession, dir: String): DataFrame =
    langidPred(spark, dir).orderBy("doc_id")

  /** Language-ID confusion matrix: detected language against the
    * labeled `lang` column, with each cell's share of its labeled
    * row — the accuracy report a language classifier ships with
    * (the off-diagonal mass is what a lang-filtered training mix
    * silently loses). Reuses the cached per-doc prediction; the
    * matrix is |langs|² rows, so the row-share window runs on an
    * already-aggregated relation, never the corpus.
    */
  def langidConfusion(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "lang")
    val cells = d.join(langidPred(spark, dir), "doc_id")
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))
    cells
      .withColumn("share", round(
        col("n_docs").cast("double")
          / sum("n_docs").over(Window.partitionBy("lang")).cast("double"), 6))
      .orderBy("lang", "pred_lang")
  }

  /** Quality scoring: token counts, mean token length, stopword
    * ratio, then a deterministic bucket — the length/punct/stopword
    * heuristics used to filter web corpora.
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "or", "and")
    val d = Tables.documents(spark, dir)
      .withColumn("t", toks)
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("sum_len", expr(
        "aggregate(t, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))"))
      .withColumn("n_stop", expr(
        s"size(filter(t, x -> x IN (${stop.map("'" + _ + "'").mkString(",")})))").cast("long"))
    d.select(
      col("doc_id"), col("n_tokens"),
      round(col("sum_len").cast("double") / col("n_tokens"), 6).as("avg_token_len"),
      round(col("n_stop").cast("double") / col("n_tokens"), 6).as("stop_ratio"),
      when(col("n_tokens") < 20, "too_short")
        .when(col("n_stop").cast("double") / col("n_tokens") > 0.3, "boilerplate")
        .otherwise("ok").as("quality_bucket"))
      .orderBy("doc_id")
  }

  /** Shared per-doc quality-signal relation for the five Governance
    * eval queries (AUC, PR curve, reliability, kappa, confident
    * joint): the model score ([[qualityClassifier]]), its keep
    * verdict, and the heuristic positive flag ([[textQuality]]
    * bucket == 'ok'). Both signals are map-side projections of the
    * SAME documents row, so the per-doc equi-join every consumer
    * used to run was an identity self-join over two full corpus
    * scans (score and bucket derive from the same text cell) — fused
    * here into ONE scan and cached narrow: 3 columns × |docs| rows,
    * no doc_id (no consumer's aggregate needs it). The expressions
    * replicate the two sources verbatim, including every rounding
    * point and the UNROUNDED stop-ratio in the bucket rule, so each
    * consumer's result is bit-identical to the joined form the
    * oracle still computes.
    */
  private[graft] def qualitySignals(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("quality_signals", spark, dir) {
      val stop = Seq("the", "a", "or", "and")
      Tables.documents(spark, dir)
        .withColumn("t", toks)
        .withColumn("n_tokens", size(col("t")).cast("long"))
        .withColumn("sum_len", expr(
          "aggregate(t, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))"))
        .withColumn("n_stop", expr(
          s"size(filter(t, x -> x IN (${stop.map("'" + _ + "'").mkString(",")})))").cast("long"))
        .withColumn("stop_ratio",
          round(col("n_stop").cast("double") / col("n_tokens"), 6))
        .withColumn("digit_ratio", round(
          (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
            .cast("double") / length(col("text")), 6))
        .withColumn("len_dev", round(abs(
          col("sum_len").cast("double") / col("n_tokens") - lit(5.0)), 6))
        .withColumn("logit", round(
          lit(-1.0) + lit(0.35) * log(lit(1.0) + col("n_tokens"))
            + lit(2.0) * col("stop_ratio") - lit(4.0) * col("digit_ratio")
            - lit(0.15) * col("len_dev"), 6))
        .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("logit"))), 6))
        .select(
          col("score"),
          when(col("n_tokens") < 20, 0L)
            .when(col("n_stop").cast("double") / col("n_tokens") > 0.3, 0L)
            .otherwise(1L).as("pos"),
          when(col("score") >= 0.5, 1L).otherwise(0L).as("keep"))
    }

  /** Corpus token stats: top-20 tokens by frequency with doc freq.
    * The vocabulary of a web corpus is effectively unbounded, so the
    * top-k runs as TakeOrderedAndProject over the aggregated counts
    * (bounded per-partition heaps), not a single-partition window.
    */
  def textTokens(spark: SparkSession, dir: String): DataFrame = {
    // rides the shared per-doc tf cache: occurrence count = Σ cnt and
    // doc frequency = row count per token (docTf holds one row per
    // DISTINCT (doc, token)), so the corpus re-explode and the
    // two-phase count(DISTINCT) Expand both disappear
    val agg = docTf(spark, dir)
      .select(col("w").as("token"), col("cnt"))
      .groupBy("token")
      .agg(sum("cnt").as("cnt"), count(lit(1)).as("df"))
    graft.functions.TopK.globalWithRank(agg, 20, col("cnt").desc, col("token"))
  }

  /** Zipf's-law fit of the corpus token-frequency distribution:
    * least-squares slope of ln(freq) on ln(rank) over the top-100
    * terms, with intercept and r² — the "does this crawl look like
    * natural language" diagnostic (natural text fits slope ≈ −1;
    * template/boilerplate-heavy or synthetic corpora flatten or
    * kink the curve). One row out.
    *
    * Scale shape: the corpus unigram counts are the PlanCache-shared
    * LM model table ([[uniCounts]] — free when any unigram-LM query
    * already ran), the top-100 is a TakeOrdered (bounded heaps, no
    * global window over data), and the regression is ONE constant
    * -size aggregate over 100 (x, y) points. The rank window runs
    * over the already-limited 100 rows only.
    */
  def textZipfFit(spark: SparkSession, dir: String): DataFrame = {
    val top = graft.functions.TopK.globalWithRank(
      uniCounts(spark, dir), 100, col("cw").desc, col("w"))
    val p = top.select(
      log(col("rank").cast("double")).as("x"),
      log(col("cw").cast("double")).as("y"))
    val s = p.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    // slope re-expanded (not the rounded output) inside intercept/r²
    // so both engines run the identical float expression tree
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    s.select(
      col("n").as("n_terms"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"),
      round(pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
        ((col("n") * col("sxx") - col("sx") * col("sx")) *
         (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  /** Sorted-distinct-token fingerprint: docs with identical token
    * sets share a fingerprint → near-dup families (token-order /
    * repetition invariant).
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Dedup.docFingerprints(spark, dir)
      .groupBy("fp")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy("keeper")

  /** The hashing trick (feature hashing): every token maps to one of
    * 64 feature dimensions by hash, with a second hash bit giving the
    * ±1 sign that keeps collision noise zero-mean (Weinberger et al.,
    * "Feature Hashing for Large Scale Multitask Learning") — the
    * fixed-width featurizer that makes bag-of-words linear models
    * possible at 100 TB: NO vocabulary pass, no dictionary to build
    * or broadcast, the feature space is constant by construction.
    * Output is the per-dimension corpus profile — docs touching the
    * dim, distinct tokens colliding into it, the signed weight sum
    * (zero-mean when collisions cancel) and the exact Σw² energy —
    * the table you check BEFORE committing a hash width.
    *
    * Scale shape: dim and sign are two md5-nibble parses in one
    * codegen'd projection (map-side, rides the scan); the per-(doc,
    * dim) weights aggregate with map-side combine onto a key space
    * of |docs|·64, and the final per-dim rollup is 64 groups with a
    * distinct-token count whose key space is |vocab|·64. Integer
    * weights end-to-end — the profile is summation-order-exact.
    */
  def textFeatureHashing(spark: SparkSession, dir: String, dims: Int = 64): DataFrame = {
    // The weight branch stays at occurrence grain: dim and sign are
    // map-side md5 parses riding the scan, and groupBy(doc, dim) has
    // map-side combine onto |docs|·64 keys — no token ever shuffles.
    // (Shuffling doc-token rows first measures WORSE: the string
    // shuffle costs more than the digests it saves.)
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks).as("token"))
    val feats = tok
      .withColumn("dim",
        graft.functions.HexExprs.hexPrefixLong(md5(col("token")), 2) % dims)
      .withColumn("s", when(
        graft.functions.HexExprs.hexPrefixLong(
          substring(md5(col("token")), 3, 1), 1) % 2 === 0, 1L).otherwise(-1L))
    val perDocDim = feats.groupBy("doc_id", "dim")
      .agg(sum("s").as("w"), count(lit(1)).as("n_occ"))
    // The distinct-token census reads the corpus VOCABULARY — the
    // perplexity family's shared "ppl_uni" unigram-count relation —
    // instead of paying this branch's own second scan + digest pass
    // over every token occurrence: dim is a function of the token
    // alone, so hashing the |vocab|-row model table gives the exact
    // same per-dim distinct count (the occurrence-grain distinct and
    // the vocab-grain hash collapse to the same token set).
    val tokDim = uniCounts(spark, dir).select(col("w").as("token"))
      .withColumn("dim",
        graft.functions.HexExprs.hexPrefixLong(md5(col("token")), 2) % dims)
      .groupBy("dim").agg(count(lit(1)).as("n_distinct_tokens"))
    perDocDim.groupBy("dim")
      .agg(count(lit(1)).as("n_docs"),
        sum("w").as("sum_w"),
        sum(col("w") * col("w")).as("ss_w"),
        sum("n_occ").as("n_occ"))
      .join(tokDim, "dim")
      .select(col("dim").cast("int").as("dim"), col("n_docs"),
        col("n_distinct_tokens"), col("n_occ"), col("sum_w"), col("ss_w"))
      .orderBy("dim")
  }

  /** Token counting under two tokenizers: whitespace and a BPE-ish
    * regex (letter runs / digit runs / single punctuation — the
    * GPT-2-style pre-tokenization shape).
    */
  def textTokensBpe(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(
      col("doc_id"),
      size(toks).cast("long").as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
        .cast("long").as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility by language: BPE-ish tokens per whitespace
    * word and characters per token, per lang — the multilingual
    * tokenizer-bias table (high fertility = the tokenizer fragments
    * that language, inflating its effective sequence length and
    * training cost; the metric mT5/XLM-R papers report when choosing
    * vocabularies). Complements [[tokenizerOov]] (vocab coverage)
    * with segmentation EFFICIENCY.
    *
    * Scale shape: both tokenizations are per-row regexp counts in
    * one codegen'd projection riding the scan; the rollup is a
    * \|langs\|-key groupBy of exact integer counts — ratios derive
    * once from the integer sums, rounded once.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(toks).cast("long").as("w"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
          .cast("long").as("t"),
        length(col("text")).cast("long").as("c"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
        sum("t").as("n_tokens"), sum("c").as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        col("n_chars"),
        round(col("n_tokens").cast("double") / col("n_words"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_tokens"), 6)
          .as("chars_per_token"))
      .orderBy("lang")
  }

  /** Rolling-hash fingerprinting: a polynomial (Rabin-Karp style)
    * hash over the full character stream, plus the minimum over
    * 100-char chunk hashes (winnowing-lite) — order-sensitive
    * fingerprints that complement the order-invariant
    * [[textFingerprint]].
    */
  def textRollingHash(spark: SparkSession, dir: String): DataFrame = {
    val M = 1000000007L
    val d = Tables.documents(spark, dir).filter(length(col("text")) >= 1)
    d.select(
      col("doc_id"),
      expr(
        s"""aggregate(
           |  transform(sequence(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)),
           |  CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % $M)""".stripMargin)
        .as("doc_hash"),
      expr(
        s"""array_min(transform(
           |  sequence(0, CAST(ceil(length(text) / 100.0) AS INT) - 1),
           |  c -> aggregate(
           |    transform(sequence(1, length(substring(text, c * 100 + 1, 100))),
           |      i -> CAST(ascii(substring(substring(text, c * 100 + 1, 100), i, 1)) AS BIGINT)),
           |    CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % $M)))""".stripMargin)
        .as("min_chunk_hash"),
      expr("CAST(ceil(length(text) / 100.0) AS INT)").as("n_chunks"))
      .orderBy("doc_id")
  }

  /** Top-20 collocations by pointwise mutual information:
    * pmi(x,y) = ln(p(xy) / (p(x)p(y))), bigram count ≥ 5 (rare-pair
    * PMI is noise). Unigram/bigram probabilities are two counting
    * aggregations; the candidate join shuffles on the word, never
    * broadcasts the vocabulary; final top-20 is a bounded
    * TakeOrderedAndProject.
    */
  def textPmiBigrams(spark: SparkSession, dir: String): DataFrame = {
    // corpus unigram counts = the unigram-LM model table — same
    // relation ("ppl_uni"), so PMI rides the perplexity family's
    // cache instead of paying its own full corpus explode
    val uni = uniCounts(spark, dir)
    // still its own (small) cache: totals and the scored join both
    // re-read it, and the fold-away re-agg from the shared per-source
    // cache shouldn't run twice
    val cbi = graft.PlanCache.cached("pmi_cbi", spark, dir) {
      sourceBigramCounts(spark, dir)
        .groupBy("w1", "w2").agg(sum("c12").as("cxy"))
    }
    // corpus totals as ONE broadcast one-row cross join (the
    // codebase's scalar-subquery pattern) — no driver-side eager
    // action mid-plan; both totals ride the same one-row relation
    val totals = uni.agg(sum("cw").cast("double").as("n1"))
      .crossJoin(cbi.agg(sum("cxy").cast("double").as("n2")))
    val scored = cbi.filter(col("cxy") >= 5)
      .join(uni.select(col("w").as("w1"), col("cw").as("cx")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("cy")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(log(
        (col("cxy").cast("double") / col("n2")) /
          ((col("cx").cast("double") / col("n1"))
            * (col("cy").cast("double") / col("n1")))), 6))
      .select(concat(col("w1"), lit(" "), col("w2")).as("bigram"),
        col("cxy"), col("pmi"))
    graft.functions.TopK.globalWithRank(scored, 20, col("pmi").desc, col("bigram"))
  }

  /** Unigram-LM perplexity proxy: train a unigram language model on
    * the corpus itself (count / total), score each doc by its mean
    * negative log-likelihood and perplexity = exp(avg_nll) — the
    * cheap stand-in for the KenLM/CCNet-style model-based quality
    * filter used to rank web documents for LLM training.
    *
    * Scale shape: the model IS a token-count aggregation; scoring is
    * an equi-join of per-doc term frequencies against it (shuffles on
    * the token — at web scale the model table is larger than a
    * broadcast but the join stays a plain hash join), then one
    * aggregation per doc. No driver-side model state.
    */
  /** Per-doc term frequency — the shared input of every unigram-LM
    * operator ([[textPerplexity]], [[textDsir]]): one row per DISTINCT
    * (doc, token), so model joins move |distinct| rows instead of one
    * per token occurrence. PlanCache'd across consumers.
    */
  private def docTf(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("ppl_tf", spark, dir) {
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(toks).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
        // land the cache hash-partitioned on doc_id: five consumers
        // re-aggregate, window, or join BY DOC over this relation
        // (perplexity, DSIR, Heaps, keyword tf-idf, source
        // divergence), and HashPartitioning(doc_id) satisfies each
        // one's clustering requirement — so every one of them skips
        // its own full exchange of the |distinct (doc, token)|
        // stream. The one token-keyed consumer (uniCounts) partial-
        // aggregates to ~|vocab| rows per partition before its
        // exchange either way, so it loses nothing.
        .repartition(col("doc_id"))
    }

  /** Corpus unigram counts (w, cw) — the "model table" shared by
    * every unigram-LM consumer: textPerplexity reads it twice (model
    * join + corpus-total scalar) and textDsir's source LM is the
    * SAME relation, so one PlanCache entry serves all of them.
    */
  private def uniCounts(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("ppl_uni", spark, dir) {
      docTf(spark, dir).groupBy("w").agg(sum("cnt").as("cw"))
    }

  def textPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val tf = docTf(spark, dir)
    val uni = uniCounts(spark, dir)
    // corpus total as a broadcast one-row cross join (the codebase's
    // scalar-subquery pattern, q22IdleBalance): no driver-side eager
    // action mid-plan — the whole query stays one job
    val totalRow = uni.agg(sum("cw").as("total"))
    val out = tf.join(uni, "w")
      .crossJoin(broadcast(totalRow))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"),
        sum(col("cnt").cast("double") *
          log(col("total").cast("double") / col("cw").cast("double"))).as("nll"))
      .withColumn("avg_nll", round(col("nll") / col("n_tokens").cast("double"), 6))
      .select(col("doc_id"), col("n_tokens"), col("avg_nll"),
        round(exp(col("avg_nll")), 6).as("ppl"))
      .orderBy("doc_id")
    out
  }

  /** Bigram-LM perplexity — one Markov order closer to the
    * KenLM/CCNet filter than [[textPerplexity]]'s unigram proxy:
    * p(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁) + V), add-1 smoothed over the
    * unigram vocabulary, scored as the per-doc mean negative
    * log-likelihood over its bigrams (docs need ≥ 2 tokens).
    *
    * Scale shape: the model is two count aggregations (bigrams;
    * unigrams shared via the PlanCache'd [[uniCounts]] table);
    * scoring joins the per-doc bigram frequencies against both model
    * tables on their keys — plain hash joins that survive any corpus
    * size — and V rides a broadcast one-row cross join. No
    * driver-side model state.
    */
  /** Per-doc bigram frequencies (doc_id, w1, w2, cnt) — the shared
    * input of both bigram LMs; docs need ≥ 2 tokens.
    */
  private def docBigrams(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("ppl_bg_tf", spark, dir) {
      Tables.documents(spark, dir)
        .withColumn("t", toks)
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(t)-1), i -> struct(element_at(t, i) AS w1, element_at(t, i+1) AS w2))"))
          .as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("cnt"))
    }

  def textPerplexityBigram(spark: SparkSession, dir: String): DataFrame = {
    val docBg = docBigrams(spark, dir)
    val bgModel = docBg.groupBy("w1", "w2").agg(sum("cnt").as("cbg"))
    val uniModel = uniCounts(spark, dir)
      .select(col("w").as("w1"), col("cw").as("cw1"))
    val vocabRow = uniCounts(spark, dir).agg(count(lit(1)).as("vocab"))
    docBg.join(bgModel, Seq("w1", "w2"))
      .join(uniModel, "w1")
      .crossJoin(broadcast(vocabRow))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_bigrams"),
        sum(col("cnt").cast("double") *
          log((col("cw1") + col("vocab")).cast("double")
            / (col("cbg") + lit(1)).cast("double"))).as("nll"))
      .withColumn("avg_nll", round(col("nll") / col("n_bigrams").cast("double"), 6))
      .select(col("doc_id"), col("n_bigrams"), col("avg_nll"),
        round(exp(col("avg_nll")), 6).as("ppl"))
      .orderBy("doc_id")
  }

  /** Interpolated Kneser-Ney bigram perplexity — the smoothing the
    * KenLM-class quality filters actually train with, one step past
    * [[textPerplexityBigram]]'s add-1: with absolute discount
    * D = 0.75,
    * p(w₂|w₁) = (c(w₁w₂) − D)/c(w₁)
    *            + D·N₁₊(w₁·)/c(w₁) · N₁₊(·w₂)/N₁₊(··),
    * where the continuation probability N₁₊(·w₂)/N₁₊(··) asks "in
    * how many distinct contexts does w₂ appear" — the correction
    * that stops high-count-but-single-context tokens (the "San
    * Francisco" effect) from looking probable everywhere. Scored on
    * the training corpus every bigram is seen, so the discounted
    * term is always positive and no backoff branch is needed.
    *
    * Scale shape: all four model tables are count aggregations off
    * the PlanCache-shared (doc, w₁, w₂, cnt) relation — context
    * totals and distinct-continuation counts come from ONE pass over
    * the bigram-type table (one row per type, so count(*) IS the
    * distinct count: no count(DISTINCT), no Expand) — and scoring is
    * three hash joins plus the broadcast one-row type total.
    */
  def textPerplexityKn(spark: SparkSession, dir: String): DataFrame = {
    val docBg = docBigrams(spark, dir)
    val bgModel = docBg.groupBy("w1", "w2").agg(sum("cnt").as("cbg"))
    val ctx = bgModel.groupBy("w1")
      .agg(sum("cbg").as("c1"), count(lit(1)).as("n1f"))
    val back = bgModel.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val tt = bgModel.agg(count(lit(1)).as("t_types"))
    val p = (col("cbg").cast("double") - lit(0.75)) / col("c1").cast("double") +
      lit(0.75) * col("n1f").cast("double") / col("c1").cast("double") *
        (col("n1b").cast("double") / col("t_types").cast("double"))
    docBg.join(bgModel, Seq("w1", "w2"))
      .join(ctx, "w1")
      .join(back, "w2")
      .crossJoin(broadcast(tt))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_bigrams"),
        sum(col("cnt").cast("double") * -log(p)).as("nll"))
      .withColumn("avg_nll", round(col("nll") / col("n_bigrams").cast("double"), 6))
      .select(col("doc_id"), col("n_bigrams"), col("avg_nll"),
        round(exp(col("avg_nll")), 6).as("ppl"))
      .orderBy("doc_id")
  }

  /** DSIR-style importance weights: score each document by how much
    * more likely its tokens are under a TARGET-domain unigram LM
    * (here: the English subset) than under the whole-corpus LM —
    * the data-selection signal behind importance resampling of web
    * data toward a desired domain (per-token mean of
    * log p_target(w) − log p_source(w), add-1 smoothed over the
    * source vocabulary so unseen-in-target tokens penalize instead of
    * zeroing).
    *
    * Scale shape: both LMs are token-count aggregations off the
    * shared cached (doc, token, cnt) relation; scoring is one hash
    * join per LM (the model tables shuffle on the token — at web
    * scale they outgrow a broadcast but stay plain equi-joins) and
    * the corpus totals ride a broadcast one-row cross join. Nothing
    * driver-side, nothing quadratic.
    */
  def textDsir(spark: SparkSession, dir: String): DataFrame = {
    val tf = docTf(spark, dir)
    // the source LM is textPerplexity's unigram table under a rename
    // — one cached relation, not a byte-identical twin cache entry
    val src = uniCounts(spark, dir).withColumnRenamed("cw", "sw")
    val tgtDocs = Tables.documents(spark, dir)
      .filter(col("lang") === "en").select("doc_id")
    val tgt = tf.join(tgtDocs, "doc_id").groupBy("w").agg(sum("cnt").as("tw"))
    val totals = src.agg(sum("sw").as("s_total"), count(lit(1)).as("vocab"))
      .crossJoin(tgt.agg(coalesce(sum("tw"), lit(0L)).as("t_total")))
    tf.join(src, "w")
      .join(tgt, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"),
        sum(col("cnt").cast("double") * (
          log((coalesce(col("tw"), lit(0L)) + lit(1)).cast("double")
            / (col("t_total") + col("vocab")).cast("double"))
          - log((col("sw") + lit(1)).cast("double")
            / (col("s_total") + col("vocab")).cast("double")))).as("lr"))
      .select(col("doc_id"), col("n_tokens"),
        // + 0.0 normalizes a -0.0 ratio to +0.0 (see textHeapsLaw):
        // when t_total==s_total the per-token log ratio is a float
        // residual whose sign depends on summation order — the value
        // hash sees -0.0 vs +0.0. The oracle applies the same + 0.0.
        (round(col("lr") / col("n_tokens").cast("double"), 6) + lit(0.0))
          .as("avg_log_ratio"))
      .orderBy("doc_id")
  }

  /** Repetition metrics (the Gopher repetition filters): duplicate
    * word fraction, and the fraction of tokens covered by the single
    * most-repeated 2-gram / 3-gram. Heavily repetitive docs are
    * boilerplate/spam and get dropped before training. All three
    * signals are per-doc aggregations — map-side math plus one
    * shuffle per n-gram order on (doc, gram).
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("t", toks)
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("t"))).cast("long"))
    def topNgram(n: Int): DataFrame =
      d.filter(size(col("t")) >= n)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, size(t)-${n - 1}), i -> array_join(slice(t, i, $n), ' '))"))
          .as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as(s"top$n"))
    val scored = d.select("doc_id", "n_tokens", "n_distinct")
      .join(topNgram(2), Seq("doc_id"), "left")
      .join(topNgram(3), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens").cast("double"), 6)
          .as("dup_word_frac"),
        round(coalesce(col("top2"), lit(0L)).cast("double") * 2 / col("n_tokens").cast("double"), 6)
          .as("top_bigram_frac"),
        round(coalesce(col("top3"), lit(0L)).cast("double") * 3 / col("n_tokens").cast("double"), 6)
          .as("top_trigram_frac"))
    // decide on the ROUNDED fractions so the oracle's decision is
    // bit-identical; thresholds follow the Gopher paper's 0.20 / 0.18
    scored.withColumn("verdict",
      when(col("top_bigram_frac") > 0.20 || col("top_trigram_frac") > 0.18, "drop")
        .otherwise("keep"))
      .orderBy("doc_id")
  }

  /** Per-(source, w1, w2) bigram counts — the ONE explode+partial-agg
    * pass over the corpus that the bigram family shares under the
    * PlanCache. Three consumers re-derived this scan independently
    * (the 30s-apiece sf10 cost was the doc scan + 100M-row explode,
    * not their own rollups): [[textBigramEntropy]] reads it verbatim,
    * [[textBigrams]] and [[textPmiBigrams]] fold the source column
    * away with a second (much smaller) distinct-bigram-sized
    * aggregate — per-source counts sum to the global counts exactly,
    * so the derived tables are equal row-for-row to the scans they
    * replace.
    */
  private def sourceBigramCounts(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("bigram_counts_src", spark, dir) {
      Tables.documents(spark, dir)
        .withColumn("t", toks).filter(size(col("t")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> struct(element_at(t, i) AS w1, element_at(t, i+1) AS w2))"))
          .as("b"))
        .select(col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("source", "w1", "w2").agg(count(lit(1)).as("c12"))
    }

  /** Top-20 corpus bigrams. */
  def textBigrams(spark: SparkSession, dir: String): DataFrame = {
    val agg = sourceBigramCounts(spark, dir)
      .groupBy(concat(col("w1"), lit(" "), col("w2")).as("bigram"))
      .agg(sum("c12").as("cnt"))
    graft.functions.TopK.globalWithRank(agg, 20, col("cnt").desc, col("bigram"))
  }

  /** Email / phone / IPv4 literals matched by the scrubber; shared
    * with the oracle SQL (RE2-safe: no lookaround, no backrefs).
    */
  val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiPhoneRe = "\\b555-[0-9]{4}\\b"
  val piiIpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Per-kind PII hit counts for a text column — shared by the batch
    * operator, the streaming gate, and the pipeline export stage so
    * every surface applies the SAME detectors.
    */
  def piiCounts(text: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = Seq(
    size(regexp_extract_all(text, lit(piiEmailRe), lit(0))).as("n_emails"),
    size(regexp_extract_all(text, lit(piiPhoneRe), lit(0))).as("n_phones"),
    size(regexp_extract_all(text, lit(piiIpRe), lit(0))).as("n_ips"))

  /** The redacted text: typed placeholders substituted in one
    * chained (codegen'd) pass.
    */
  def piiRedact(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, piiEmailRe, "<EMAIL>"),
        piiPhoneRe, "<PHONE>"),
      piiIpRe, "<IP>")

  /** PII redaction — the scrub pass a training pipeline runs before
    * any text leaves the curation boundary: count and replace emails,
    * phone numbers and IPv4 addresses with typed placeholder tags.
    * The corpus ships no PII, so (like cleanAbr's corruption rules) a
    * deterministic fraction of docs gets synthetic PII APPENDED first
    * — both engines synthesize identically, so the oracle checks the
    * real detect+redact logic on a mix of hit and clean rows.
    *
    * Scale shape: pure map-side regexp work that fuses into the scan
    * — no shuffle, no state; counts come from regexp_extract_all so
    * detection and redaction read the text once each, codegen'd.
    */
  def textPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val withPii = Tables.documents(spark, dir).select(
      col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 4 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 0,
          concat(lit(" call 555-"), format_string("%04d", col("doc_id") % 10000)))
          .otherwise(lit("")),
        when(col("doc_id") % 10 === 0,
          concat(lit(" from 10.0."), col("doc_id") % 256, lit("."),
            (col("doc_id") * 7) % 256))
          .otherwise(lit(""))).as("text"))
    withPii.select(
      Seq(col("doc_id")) ++ piiCounts(col("text")) ++
        Seq(md5(piiRedact(col("text"))).as("scrub_md5")): _*)
      .orderBy("doc_id")
  }

  /** Mojibake / OCR-garbage screen — the char-level health check that
    * runs BEFORE tokenization makes garbage look like exotic vocab
    * (complements [[textGopherRules]]' word-level heuristics): per
    * source, docs flagged when the alphabetic share drops below 0.55,
    * the digit share exceeds 0.30, or a consonant run reaches 8+
    * chars (scanner noise / binary-in-text look exactly like this).
    * Per-doc ratios are micro-unit integers BEFORE the rollup sums
    * (float sums are summation-order-dependent across engines).
    *
    * Scale shape: pure map-side regexp projections fused into the
    * scan (counts by length-difference, runs by regexp_extract_all →
    * max length — all codegen'd, no UDF); ONE |sources|-key aggregate
    * with map-side combine. |sources| rows out.
    */
  def textGarbageScore(spark: SparkSession, dir: String): DataFrame = {
    val consRun = "[bcdfghjklmnpqrstvwxzBCDFGHJKLMNPQRSTVWXZ]+"
    val d = Tables.documents(spark, dir)
      .select(col("source"),
        length(col("text")).cast("long").as("n_chars"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[a-zA-Z]", "")))
          .cast("long").as("n_alpha"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("long").as("n_digit"),
        coalesce(array_max(transform(
          regexp_extract_all(col("text"), lit(consRun), lit(0)),
          m => length(m))), lit(0)).cast("long").as("max_run"))
      .filter(col("n_chars") > 0)
      .withColumn("alpha_u6",
        round(col("n_alpha") * 1e6 / col("n_chars")).cast("long"))
      .withColumn("digit_u6",
        round(col("n_digit") * 1e6 / col("n_chars")).cast("long"))
      .withColumn("garbage",
        (col("alpha_u6") < 550000L || col("digit_u6") > 300000L ||
          col("max_run") >= 8L).cast("long"))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("garbage").as("n_flagged"),
        sum("alpha_u6").as("sa"), sum("digit_u6").as("sd"),
        max("max_run").as("max_consonant_run"))
      .select(col("source"), col("n_docs"), col("n_flagged"),
        round(col("n_flagged").cast("double") / col("n_docs"), 6)
          .as("flag_share"),
        round(col("sa").cast("double") / col("n_docs") / 1e6, 6)
          .as("avg_alpha_ratio"),
        round(col("sd").cast("double") / col("n_docs") / 1e6, 6)
          .as("avg_digit_ratio"),
        col("max_consonant_run"))
      .orderBy("source")
  }

  /** PII incidence audit — the governance summary ABOVE
    * [[textPiiScrub]]'s per-doc redaction: per source, how many docs
    * carry each PII kind and how many raw matches there are — the
    * table that decides which ingest feeds need scrubbing at all
    * (and evidences scrub coverage to an auditor). Runs on the SAME
    * synthetic-PII relation and the SAME [[piiCounts]] detectors as
    * the scrub, so audit and redaction can never disagree.
    *
    * Scale shape: map-side regexp counts fused into the scan, ONE
    * |sources|-key aggregate with map-side combine. |sources| rows.
    */
  def textPiiIncidence(spark: SparkSession, dir: String): DataFrame = {
    val withPii = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 4 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 0,
          concat(lit(" call 555-"), format_string("%04d", col("doc_id") % 10000)))
          .otherwise(lit("")),
        when(col("doc_id") % 10 === 0,
          concat(lit(" from 10.0."), col("doc_id") % 256, lit("."),
            (col("doc_id") * 7) % 256))
          .otherwise(lit(""))).as("text"))
    withPii
      .select(Seq(col("source")) ++ piiCounts(col("text")): _*)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_emails") > 0, 1L).otherwise(0L))
          .as("docs_with_email"),
        sum(col("n_emails").cast("long")).as("n_email_matches"),
        sum(when(col("n_phones") > 0, 1L).otherwise(0L))
          .as("docs_with_phone"),
        sum(col("n_phones").cast("long")).as("n_phone_matches"),
        sum(when(col("n_ips") > 0, 1L).otherwise(0L)).as("docs_with_ip"),
        sum(col("n_ips").cast("long")).as("n_ip_matches"),
        sum(when(col("n_emails") > 0 || col("n_phones") > 0 ||
          col("n_ips") > 0, 1L).otherwise(0L)).as("docs_with_any"))
      .withColumn("any_pii_share", round(
        col("docs_with_any").cast("double") / col("n_docs"), 6))
      .orderBy("source")
  }

  /** Per-source character-level entropy — the compressibility /
    * repetitiveness proxy that needs no compressor in the loop: H =
    * −Σ p(c)·log₂p(c) over the source's character distribution;
    * natural English text sits ~4.1 bits/char, heavily-duplicated or
    * templated feeds drop far lower and encrypted/binary junk pushes
    * toward log₂|alphabet|. est_ratio = H/8 approximates the best
    * order-0 byte coder — the "is this feed worth storing
    * uncompressed" screen.
    *
    * Scale shape: each document collapses to its ≤|alphabet| distinct
    * characters INSIDE the scan (the [[graft.functions.CharCounts]]
    * native one-pass histogram — the explode(split(text,'')) form it
    * replaces pushed every corpus character through the aggregate as
    * its own row, ~10⁹ rows at sf10 for a ≤hundreds-key answer), then
    * lands in a (source × alphabet)-key aggregate with map-side
    * combine; entropy terms round to nano-units per DISTINCT
    * CHARACTER before the final ≤10-term sum, so both engines add
    * identical integers. |sources| rows out.
    */
  def textCharEntropy(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.functions.CharCounts.of(col("text")))
          .as(Seq("ch", "c_doc")))
      .groupBy("source", "ch").agg(sum("c_doc").as("c"))
    val tot = counts.groupBy("source")
      .agg(sum("c").as("n_chars"), count(lit(1)).as("n_distinct"))
    val p = col("c").cast("double") / col("n_chars")
    counts.join(tot, "source")
      .withColumn("t_u9", round(-p * log2(p) * 1e9).cast("long"))
      .groupBy("source", "n_chars", "n_distinct")
      .agg(sum("t_u9").as("s_u9"))
      .select(col("source"), col("n_chars"), col("n_distinct"),
        round(col("s_u9").cast("double") / 1e9, 6).as("entropy_bits"),
        round(col("s_u9").cast("double") / 1e9 / 8.0, 6)
          .as("est_compression_ratio"))
      .orderBy("source")
  }

  /** Term burstiness (Church & Gale): for the top-20 corpus terms,
    * the observed document frequency against the binomial-expected
    * df under an "occurrences scatter independently" null —
    * E[df] = N·(1 − (1−1/N)^cw). burstiness = expected/observed > 1
    * means the term CLUMPS into few docs (topical or keyword-stuffed
    * text); ≈1 means function-word-like scatter. The read-out that
    * separates a topical corpus from template spam at the term
    * level.
    *
    * Scale shape: reads the PlanCache-shared unigram and per-doc
    * term relations (no new corpus pass); docs-per-term is one
    * aggregate of the per-doc table; top-20 via TakeOrdered; the
    * null expectation is a projection. 20 rows out.
    */
  def textTermBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val df_ = docTf(spark, dir).groupBy("w")
      .agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("nd"))
    val top = graft.functions.TopK.globalWithRank(
      uniCounts(spark, dir), 20, col("cw").desc, col("w"))
    top.join(df_, "w").crossJoin(broadcast(nDocs))
      .withColumn("expected_df", round(
        col("nd").cast("double") * (lit(1.0) -
          pow(lit(1.0) - lit(1.0) / col("nd").cast("double"),
            col("cw").cast("double"))), 6))
      .select(col("rank"), col("w").as("term"), col("cw"), col("df"),
        col("expected_df"),
        round(col("expected_df") / col("df").cast("double"), 6)
          .as("burstiness"))
      .orderBy("rank")
  }

  /** Conditional bigram entropy per source: H(w₂|w₁) = −Σ p(w₁,w₂)·
    * log₂ p(w₂|w₁) against the unigram entropy H(w) — the
    * predictability ratio 1 − H(w₂|w₁)/H(w) says how much knowing
    * one word tells you about the next (templated/boilerplate feeds
    * are near-deterministic, natural text is not) — the word-level
    * step between [[textCharEntropy]] (chars) and the perplexity
    * family (model-based). Terms round to nano-units per bigram TYPE
    * before the per-source sum, so both engines add identical ints.
    *
    * Scale shape: two map-side-combined count aggregates (per-source
    * bigrams, per-source unigrams), one equi-join on the history
    * word, bounded rollups. |sources| rows out.
    */
  def textBigramEntropy(spark: SparkSession, dir: String): DataFrame = {
    val bi = sourceBigramCounts(spark, dir)
    val uni = bi.groupBy("source", "w1").agg(sum("c12").as("c1"))
    val tot = uni.groupBy("source").agg(sum("c1").as("n_bi"))
    val joint = bi.join(uni, Seq("source", "w1")).join(tot, "source")
    val pJoint = col("c12").cast("double") / col("n_bi")
    val pCond = col("c12").cast("double") / col("c1")
    val hCond = joint
      .withColumn("t_u9", round(-pJoint * log2(pCond) * 1e9).cast("long"))
      .groupBy("source").agg(sum("t_u9").as("hc_u9"))
    val pUni = col("c1").cast("double") / col("n_bi")
    val hUni = uni.join(tot, "source")
      .withColumn("t_u9", round(-pUni * log2(pUni) * 1e9).cast("long"))
      .groupBy("source").agg(sum("t_u9").as("hu_u9"))
    hCond.join(hUni, "source").join(tot, "source")
      .select(col("source"), col("n_bi").as("n_bigrams"),
        round(col("hc_u9").cast("double") / 1e9, 6).as("h_cond_bits"),
        round(col("hu_u9").cast("double") / 1e9, 6).as("h_uni_bits"),
        round(lit(1.0) - col("hc_u9").cast("double") / col("hu_u9"), 6)
          .as("predictability"))
      .orderBy("source")
  }

  /** Language-ID confidence margin: per predicted language, how far
    * the winning marker score sits above the runner-up (margin ≤ 1
    * means the call was a coin flip) — the calibration table that
    * decides whether a lang-filtered training mix can TRUST the
    * classifier at its operating point, complementing
    * [[langidConfusion]]'s accuracy matrix with a confidence view.
    * Margins are integer marker counts — fully exact.
    *
    * Scale shape: the marker join is map-side broadcast; per-doc
    * top-2 is a bounded window over ≤|langs| candidate rows per doc;
    * ONE |langs|-key rollup. ≤|langs|+1 rows out.
    */
  def textLangidMargin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = markers.toDF("cand_lang", "token")
    // marker occurrences per doc = Σ cnt over the shared per-doc tf
    // cache (one row per distinct (doc, token)) — no corpus
    // re-explode, and the (doc, lang) aggregate plus the top-2 window
    // both reuse the cache's doc_id partitioning
    val hits = docTf(spark, dir)
      .select(col("doc_id"), col("w").as("token"), col("cnt"))
      .join(broadcast(m), "token")
      .groupBy("doc_id", "cand_lang").agg(sum("cnt").as("score"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("cand_lang"))
    val top2 = hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("doc_id")
      .agg(max(when(col("rn") === 1, col("cand_lang"))).as("pred_lang"),
        max(when(col("rn") === 1, col("score"))).as("s1"),
        coalesce(max(when(col("rn") === 2, col("score"))), lit(0L))
          .as("s2"))
      .withColumn("margin", col("s1") - col("s2"))
    val scored = Tables.documents(spark, dir).select("doc_id")
      .join(top2, Seq("doc_id"), "left")
      .select(coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
        coalesce(col("margin"), lit(0L)).as("margin"))
    val cells = scored.groupBy("pred_lang")
      .agg(count(lit(1)).as("n_docs"), sum("margin").as("s_margin"),
        sum(when(col("margin") <= 1, 1L).otherwise(0L))
          .as("n_low_margin"))
    cells.select(col("pred_lang"), col("n_docs"),
        round(col("s_margin").cast("double") / col("n_docs"), 6)
          .as("avg_margin"),
        col("n_low_margin"),
        round(col("n_low_margin").cast("double") / col("n_docs"), 6)
          .as("low_margin_share"))
      .orderBy("pred_lang")
  }

  /** Perplexity-filter calibration sweep (the CCNet knob): for nine
    * log2-spaced thresholds, the docs and TOKENS surviving a
    * "keep iff ppl ≤ t" filter — choosing the threshold from this
    * curve instead of folklore is the difference between dropping 2%
    * and 40% of a corpus. Reads [[textPerplexity]]'s per-doc scores
    * (the PlanCache'd unigram LM underneath), sweeps all nine
    * thresholds in ONE conditional aggregation — the score stream is
    * read once, not once per threshold (the quality_pr_curve shape).
    *
    * Scale shape: per-doc scores are an existing bounded-per-doc
    * relation; the 9-row threshold frame broadcasts into one
    * aggregate. 9 rows out.
    */
  def textPplFilterSweep(spark: SparkSession, dir: String): DataFrame = {
    val scored = graft.functions.Unordered(textPerplexity(spark, dir))
      .select("doc_id", "n_tokens", "ppl")
    val ths = spark.createDataFrame(
      Seq(2, 4, 8, 16, 32, 64, 128, 256, 512).map(t => Tuple1(t.toLong)))
      .toDF("threshold")
    val tot = scored.agg(count(lit(1)).as("docs_total"),
      sum("n_tokens").as("tokens_total"))
    scored.crossJoin(broadcast(ths))
      .groupBy("threshold")
      .agg(sum(when(col("ppl") <= col("threshold"), 1L).otherwise(0L))
        .as("docs_kept"),
        sum(when(col("ppl") <= col("threshold"), col("n_tokens"))
          .otherwise(0L)).as("tokens_kept"))
      .crossJoin(broadcast(tot))
      .select(col("threshold"), col("docs_kept"), col("docs_total"),
        round(col("docs_kept").cast("double") / col("docs_total"), 6)
          .as("doc_share"),
        col("tokens_kept"), col("tokens_total"),
        round(col("tokens_kept").cast("double") / col("tokens_total"), 6)
          .as("token_share"))
      .orderBy("threshold")
  }

  /** Cross-document duplicate 5-gram mass per source — the
    * RefinedWeb-style dup-mass metric: what share of a source's
    * 5-gram OCCURRENCES belong to grams seen in ≥2 distinct docs
    * corpus-wide (boilerplate, templates, syndicated text). The
    * intra-doc complement is [[textRepetition]]; this one catches
    * text that is clean per-doc but copied ACROSS docs — exactly
    * what inflates next-token loss if it survives into training.
    *
    * Scale shape: gram occurrences aggregate per (source, gram) and
    * doc counts per gram — both map-side-combined; the dup flag is
    * one equi-join ON THE GRAM between those two aggregates (shuffles
    * gram keys, never raw positions); final rollup |sources| keys.
    * |sources| rows out.
    *
    * Gram keys are xxhash64 of the 5 tokens (8B longs), NOT the
    * ~30-char gram strings: the keys cross two shuffles (the
    * (source, gram) aggregate and the gram-keyed join) on the
    * heaviest text query in the fleet, and token equality ==
    * 5-tuple equality (whitespace tokens can't contain the joiner).
    * The DuckDB oracle keeps RAW gram strings — same equality
    * classes, so identical output unless a 64-bit collision merges
    * two engine-side grams, which the hash check would surface (none
    * observed at any SF; ~1e-7 odds at the sf0.01 gate).
    */
  def textDupNgramMass(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .withColumn("t", toks)
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(1, size(t) - 4), " +
          "i -> xxhash64(element_at(t, i), element_at(t, i + 1), " +
          "element_at(t, i + 2), element_at(t, i + 3), " +
          "element_at(t, i + 4)))")).as("g"))
    val bySrcGram = grams.groupBy("source", "g")
      .agg(count(lit(1)).as("occ"))
    // docs-per-gram is the SAME relation as the novelty family's
    // per-gram df (identical tokenizer, identical xxhash64 keys,
    // identical ≥5-token filter; fiveGrams is per-doc DISTINCT grams
    // so its df IS the distinct-doc count) — ride the shared cache
    // instead of paying a second full corpus explode + a 100M-row
    // (doc, gram) distinct shuffle
    val docsPerGram = Dedup.fiveGramDf(spark, dir)
      .select(col("h").as("g"), col("df").as("n_docs"))
    bySrcGram.join(docsPerGram, "g")
      .groupBy("source")
      .agg(sum("occ").as("n_gram_occ"),
        sum(when(col("n_docs") >= 2, col("occ")).otherwise(0L))
          .as("dup_occ"),
        count(lit(1)).as("n_distinct_grams"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L))
          .as("n_dup_grams"))
      .select(col("source"), col("n_gram_occ"), col("dup_occ"),
        round(col("dup_occ").cast("double") / col("n_gram_occ"), 6)
          .as("dup_mass"),
        col("n_distinct_grams"), col("n_dup_grams"))
      .orderBy("source")
  }

  /** Heaps'-law vocabulary growth: V(N) = K·N^β fitted over ten
    * corpus-prefix checkpoints — the curve that predicts how much NEW
    * vocabulary another 10x of data buys (β≈0.5 for natural language;
    * a flat curve means the crawl is recycling itself). The trick
    * that makes this ONE pass instead of ten: V(prefix) = count of
    * types whose FIRST OCCURRENCE falls inside the prefix, so a
    * per-type min(doc_id) + a cumulative over the 10-row checkpoint
    * table reproduces every prefix's exact distinct count.
    *
    * Scale shape: one (token → min doc, global token totals)
    * aggregate with map-side combine; checkpoints are a broadcast
    * 10-row frame; the OLS fit is the text_zipf_fit constant-size
    * aggregate over 10 (ln N, ln V) points. 10 rows out (fit columns
    * repeated — the curve AND the fit in one table).
    */
  def textHeapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val firstOcc = docTf(spark, dir)
      .groupBy("w").agg(min("doc_id").as("first_doc"))
    val docStats = docTf(spark, dir)
      .groupBy("doc_id").agg(sum("cnt").as("n_toks"))
    val maxDoc = docStats.agg(max("doc_id").as("max_doc"))
    val cks = spark.range(1, 11).select(col("id").as("ck"))
      .crossJoin(broadcast(maxDoc))
      .select(col("ck"), ((col("ck") * (col("max_doc") + 1)) / 10)
        .cast("long").as("doc_lim"))
    // tokens seen and types first-seen within each prefix: the 10-row
    // checkpoint frame is the BROADCAST side (never the vocab/doc
    // relations — corpus-sized at scale), each row matches ≤10
    // checkpoints, and the rollup map-side-combines to 10 keys
    val vocab = firstOcc.join(broadcast(cks), col("first_doc") < col("doc_lim"))
      .groupBy("ck", "doc_lim").agg(count(lit(1)).as("v_types"))
    val mass = docStats.join(broadcast(cks), col("doc_id") < col("doc_lim"))
      .groupBy("ck").agg(sum("n_toks").as("n_tokens"))
    val pts = vocab.join(mass, "ck")
      .select(col("ck"), col("n_tokens"), col("v_types"),
        log(col("n_tokens").cast("double")).as("x"),
        log(col("v_types").cast("double")).as("y"))
    val s = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val beta = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    // + 0.0 normalizes a -0.0 slope to +0.0 (IEEE: x + 0.0 == x for
    // every other x): with a CONSTANT vocabulary the OLS numerator is
    // a ~1e-18 float residual whose SIGN depends on summation order —
    // partitioning flipped it in r12 and the driver's value hash saw
    // -0.0 vs the oracle's +0.0. The oracle applies the same + 0.0.
    val fit = s.select(
      (round(beta, 6) + lit(0.0)).as("beta"),
      round(exp((col("sy") - beta * col("sx")) / col("n")), 6).as("k"))
    pts.crossJoin(broadcast(fit))
      .select(col("ck"), col("n_tokens"), col("v_types"),
        col("beta"), col("k"))
      .orderBy("ck")
  }

  /** The per-(doc, token) term-frequency relation under tf-idf's
    * column names — a projection over the SAME "ppl_tf" PlanCache
    * relation the unigram-LM family shares ([[docTf]]), not a second
    * corpus explode: read by [[textKeywordsTfidf]] (tf side of
    * tf-idf) and [[textFeatureHashing]] (digest grain: hashing a
    * token once per doc instead of once per occurrence is exact
    * because dim and sign are functions of the token alone).
    */
  private def kwTf(spark: SparkSession, dir: String): DataFrame =
    docTf(spark, dir)
      .select(col("doc_id"), col("w").as("token"), col("cnt").as("c"))

  /** Per-document keyword extraction: top-3 tokens by TF-IDF — the
    * "what is this document about" signal used for topic balancing
    * and cluster labeling in corpus curation. df is one aggregate
    * over the per-doc term table, N is a one-row broadcast, and the
    * final top-k window is PARTITIONED by doc_id (per-doc state is a
    * 3-row heap — no global sort anywhere).
    */
  def textKeywordsTfidf(spark: SparkSession, dir: String): DataFrame = {
    val tf = kwTf(spark, dir)
    val df_ = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("nd"))
    val scored = tf
      .join(df_, "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(
        col("c") * log(col("nd").cast("double") / col("df")), 6))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("token"))
    scored
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "token", "tfidf")
      .orderBy("doc_id", "rank")
  }

  /** Token-distribution Shannon entropy per doc (nats) — the
    * diversity signal that separates natural text (high entropy) from
    * keyword-stuffed / machine-generated boilerplate (low entropy);
    * normalized against ln(n_distinct), the max possible for the
    * doc's vocabulary. One explode + two aggregations per doc, all
    * map-side-combinable; no global state.
    */
  def textTokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    tf.groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum(col("cnt").cast("double") * log(col("cnt").cast("double"))).as("clc"))
      // H = ln(n) - (1/n)·Σ c·ln(c): one pass, no per-token division
      .withColumn("entropy", round(
        log(col("n_tokens").cast("double"))
          - col("clc") / col("n_tokens").cast("double"), 6))
      .withColumn("norm_entropy",
        when(col("n_distinct") > 1, round(
          col("entropy") / log(col("n_distinct").cast("double")), 6))
          .otherwise(lit(0.0)))
      .select("doc_id", "n_tokens", "n_distinct", "entropy", "norm_entropy")
      .orderBy("doc_id")
  }

  /** Overlapping token-window chunking (the RAG / context-window
    * prep step): size-64 chunks on a stride of 48 (16-token overlap),
    * emitted as (doc_id, chunk_id, start, length, md5-of-chunk) so
    * downstream embedding jobs join back by (doc_id, chunk_id) and
    * the content hash keys chunk-level dedup. Entirely map-side —
    * sequence() builds the start offsets, explode is narrow, the
    * chunk text is sliced and hashed inside one projection; NO
    * shuffle anywhere, so it scales linearly with corpus bytes.
    */
  def chunkOverlap(spark: SparkSession, dir: String,
      chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), "\\s+").as("ts"))
      .withColumn("start",
        explode(sequence(lit(0), size(col("ts")) - 1, lit(stride))))
      .select(
        col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_id"),
        col("start").cast("bigint").as("start_tok"),
        least(lit(chunkSize), size(col("ts")) - col("start")).cast("bigint")
          .as("n_tok"),
        md5(array_join(slice(col("ts"), col("start") + 1, lit(chunkSize)), " "))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Model-based quality filtering, distilled: a fixed-weight
    * logistic classifier over cheap map-side features (log length,
    * stopword ratio, digit ratio, token-length deviation) — the
    * deterministic stand-in for the fastText/linear quality
    * classifiers web-corpus pipelines run per document. Everything
    * is one codegen'd projection: no shuffle, no model file, no UDF,
    * so at 100 TB it rides the scan. The logit is rounded before the
    * sigmoid and the score after it, so both engines make identical
    * keep/drop calls.
    */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "or", "and")
    Tables.documents(spark, dir)
      .withColumn("t", toks)
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("sum_len", expr(
        "aggregate(t, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))"))
      .withColumn("n_stop", expr(
        s"size(filter(t, x -> x IN (${stop.map("'" + _ + "'").mkString(",")})))").cast("long"))
      .withColumn("stop_ratio",
        round(col("n_stop").cast("double") / col("n_tokens"), 6))
      .withColumn("digit_ratio", round(
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("double") / length(col("text")), 6))
      .withColumn("len_dev", round(abs(
        col("sum_len").cast("double") / col("n_tokens") - lit(5.0)), 6))
      .withColumn("logit", round(
        lit(-1.0) + lit(0.35) * log(lit(1.0) + col("n_tokens"))
          + lit(2.0) * col("stop_ratio") - lit(4.0) * col("digit_ratio")
          - lit(0.15) * col("len_dev"), 6))
      .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("logit"))), 6))
      .select(col("doc_id"), col("n_tokens"), col("stop_ratio"),
        col("digit_ratio"), col("score"),
        when(col("score") >= 0.5, "keep").otherwise("drop").as("verdict"))
      .orderBy("doc_id")
  }

  /** Tokenizer-vocabulary coverage: the OOV (out-of-vocabulary) rate
    * of each document against a BOUNDED learned vocabulary — the
    * top-256 corpus tokens by frequency (count-desc, token-asc total
    * order). The diagnostic every tokenizer-training pipeline runs:
    * a doc whose tokens mostly miss the vocab will shatter into
    * bytes/unks at training time.
    *
    * Scale shape: the vocabulary is top-k over the aggregated token
    * counts (TakeOrderedAndProject — bounded per-partition heaps,
    * never a global window) and is k rows by construction →
    * broadcast; the per-doc scoring is then a map-side hash-lookup
    * join plus one partial-aggregated groupBy on doc_id.
    */
  def tokenizerOov(spark: SparkSession, dir: String, vocabSize: Int = 256): DataFrame = {
    // both legs ride the shared per-doc tf cache: the vocabulary's
    // occurrence counts are Σ cnt per token, and the per-doc scoring
    // weights each distinct token by its in-doc count instead of
    // re-exploding the corpus — the doc_id aggregate then reuses the
    // cache's own partitioning, so the whole query is one map-side
    // pass plus the bounded vocab TakeOrdered
    val tf = docTf(spark, dir).select(
      col("doc_id"), col("w").as("token"), col("cnt"))
    val vocab = tf.groupBy("token").agg(sum("cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(vocabSize)
      .select(col("token"), lit(1).as("in_vocab"))
    tf.join(broadcast(vocab), Seq("token"), "left_outer")
      .groupBy("doc_id")
      .agg(
        sum("cnt").as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("cnt")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
      .orderBy("doc_id")
  }

  /** One BPE-training merge round, distributed: the corpus collapses
    * to a word-frequency dictionary first (the classic BPE trainer
    * move — distinct words are orders of magnitude fewer than corpus
    * tokens, and pair counts are identical when weighted by word
    * frequency), then adjacent character-pair counts are summed over
    * the dictionary and the top merge candidates selected. At 100 TB
    * the word dictionary is the ONLY thing past the first shuffle —
    * every later stage is corpus-size-independent, which is why real
    * tokenizer training over web corpora is feasible at all. Top-20
    * via TakeOrdered heaps, never a global sort.
    */
  def bpePairMerge(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(toks).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val pairs = words
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("freq").as("cnt"))
    graft.functions.TopK.globalWithRank(pairs, 20,
      col("cnt").desc, col("pair"))
  }

  /** Iterative merge TRAINING, 3 fixed rounds (the agglomerative loop
    * of BPE/WordPiece training, run here over word symbols): each
    * round counts adjacent symbol pairs corpus-wide, elects the most
    * frequent pair (count desc, then lexicographic — restricted to
    * w1 ≠ w2, which makes greedy leftmost merging POSITION-INDEPENDENT:
    * matches can't overlap, so the merge is a pure per-position
    * rewrite, exact in one declarative pass in both engines), rewrites
    * every document, and re-counts on the merged corpus. One report
    * row per round: the elected rule, its count, and the corpus
    * symbol count after applying it.
    *
    * Scale shape: per round, ONE pair-count aggregation (map-side
    * combined, key = the pair) and one broadcast 1-row rule joined
    * back onto the corpus for a lambda rewrite — no shuffle of the
    * corpus itself, and rounds are FIXED so the whole training run is
    * one plan per round. The input and every merged relation but the
    * last are PlanCache-pinned: each feeds both the next election and
    * the next rewrite, while the last round's output feeds only its
    * symbol count.
    */
  def bpeTrainRounds(spark: SparkSession, dir: String): DataFrame = {
    val rounds = 3
    var cur = graft.PlanCache.cached("bpe_sym_1", spark, dir) {
      Tables.documents(spark, dir).select(toks.as("t"))
        .filter(size(col("t")) >= 2)
    }
    val reports = (1 to rounds).map { r =>
      val top = graft.functions.TopK.globalWithRank(
        cur
          .select(explode(expr(
            "transform(sequence(1, size(t) - 1), " +
              "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
            .as("p"))
          .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .filter(col("w1") =!= col("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("cnt")),
        1, col("cnt").desc, col("w1"), col("w2")).drop("rank")
      val rewrite = cur.crossJoin(broadcast(top))
        .select(expr(
          // try_element_at: AND doesn't short-circuit in Spark SQL,
          // so guarded element_at(t, 0) / element_at(t, n+1) would
          // still throw under ANSI
          """transform(
            |  filter(sequence(1, size(t)), i ->
            |    NOT (i > 1 AND try_element_at(t, i - 1) = w1
            |         AND element_at(t, i) = w2)),
            |  i -> IF(element_at(t, i) = w1 AND i < size(t)
            |          AND try_element_at(t, i + 1) = w2,
            |        concat(w1, '@@', w2), element_at(t, i)))""".stripMargin)
          .as("t"))
      val merged =
        if (r < rounds) graft.PlanCache.cached(s"bpe_merged_$r", spark, dir)(rewrite)
        else rewrite
      val after = merged.agg(sum(size(col("t"))).cast("long").as("corpus_symbols"))
      val report = top.crossJoin(broadcast(after))
        .select(lit(r.toLong).as("round"),
          concat(col("w1"), lit(" "), col("w2")).as("merged_pair"),
          col("cnt").as("pair_count"), col("corpus_symbols"))
      cur = merged
      report
    }
    reports.reduce(_ unionAll _).orderBy("round")
  }

  /** Sequence-length planning table: documents bucketed by power-of-2
    * whitespace-token count, with per-bucket doc and token mass and
    * their corpus shares — the histogram a training pipeline reads
    * before choosing max_seq_len / packing budgets (how much token
    * mass do 4k-token docs carry? what fraction truncates at 1k?).
    * One map-side projection into ≤ ~20 bucket keys + a bounded
    * 20-row aggregate with broadcast totals — shuffle-free at any
    * corpus size beyond the map-side combine.
    */
  def docLengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(spark, dir)
      .select(size(toks).cast("long").as("n_tokens"))
      // floor(log2(n)) buckets; n=0 can't occur (split of non-empty
      // text yields >=1 token) but guard the log anyway
      .withColumn("bucket",
        floor(log(2.0, greatest(col("n_tokens"), lit(1L)))).cast("int"))
    val hist = perDoc.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    val tot = hist.agg(sum("n_docs").as("tot_docs"), sum("n_tokens").as("tot_tokens"))
    hist.crossJoin(broadcast(tot))
      .select(col("bucket"),
        pow(lit(2.0), col("bucket")).cast("long").as("min_tokens"),
        col("n_docs"), col("n_tokens"),
        round(col("n_docs").cast("double") / col("tot_docs"), 6).as("doc_share"),
        round(col("n_tokens").cast("double") / col("tot_tokens"), 6).as("token_share"))
      .orderBy("bucket")
  }

  /** Source-distribution drift: each source's unigram distribution
    * scored against the corpus MIXTURE by KL(P_s ‖ C) — how far a
    * source's language is from what the model will actually train on.
    * The token-share-weighted column sums to the generalized
    * Jensen-Shannon divergence of the mixture (= the mutual
    * information I(source; token)) — the single number that says
    * whether "source" is a meaningful axis for mixture weighting at
    * all. Support is safe by construction (every source token is in
    * the corpus), so no smoothing is needed.
    *
    * Scale shape: (source, token) counts reduce map-side off the
    * shared per-doc tf relation; the corpus model table is the SAME
    * PlanCache'd relation every unigram-LM consumer reads; one hash
    * join on token + a |sources|-key aggregate; totals ride broadcast
    * one-row cross joins.
    */
  def textSourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val stf = docTf(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .groupBy("source", "w").agg(sum("cnt").as("sc"))
    val uni = uniCounts(spark, dir)
    val totS = stf.groupBy("source").agg(sum("sc").as("tot_s"))
    val totalRow = uni.agg(sum("cw").as("total"))
    stf.join(uni, "w")
      .join(broadcast(totS), "source")
      .crossJoin(broadcast(totalRow))
      .groupBy("source")
      .agg(max("tot_s").as("n_tokens"), max("total").as("n_total"),
        sum((col("sc").cast("double") / col("tot_s")) *
          log((col("sc").cast("double") / col("tot_s")) /
            (col("cw").cast("double") / col("total")))).as("kl"))
      .select(col("source"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_total"), 6)
          .as("token_share"),
        round(col("kl"), 6).as("kl_vs_corpus"),
        round(col("n_tokens").cast("double") / col("n_total") * col("kl"), 6)
          .as("jsd_contrib"))
      .orderBy("source")
  }

  /** Per-document Flesch reading-ease score from heuristic counts:
    * words = whitespace tokens, sentences = [.!?]+ runs (min 1),
    * syllables = vowel-group [aeiouy]+ runs per word (min 1 — the
    * standard dictionary-free approximation). flesch = 206.835 −
    * 1.015·(words/sentences) − 84.6·(syllables/words), banded at the
    * conventional 60/30 lines. The readability axis of the curation
    * score: too-hard text is OCR noise or formulae, too-easy is
    * boilerplate. Pure per-row projection — every count is a codegen'd
    * higher-order function over the token array, no shuffle except
    * the output ordering; linear in corpus bytes at any scale.
    */
  def textReadability(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("t", toks)
      .withColumn("n_words", size(col("t")).cast("long"))
      .withColumn("n_sents", greatest(
        expr("size(regexp_extract_all(text, '[.!?]+', 0))").cast("long"), lit(1L)))
      .withColumn("n_syll", expr(
        "aggregate(t, CAST(0 AS BIGINT), (acc, w) -> acc + " +
          "greatest(CAST(size(regexp_extract_all(lower(w), '[aeiouy]+', 0)) AS BIGINT), 1L))"))
      .withColumn("flesch", round(
        lit(206.835)
          - lit(1.015) * col("n_words").cast("double") / col("n_sents")
          - lit(84.6) * col("n_syll").cast("double") / col("n_words"), 6))
      .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
        col("flesch"),
        when(col("flesch") >= 60.0, "easy")
          .when(col("flesch") >= 30.0, "standard")
          .otherwise("hard").as("band"))
      .orderBy("doc_id")

  /** Gopher-style per-document rule battery (Rae et al. 2021 §A1.1
    * quality heuristics, the rule set most web-scale corpora filter
    * with): word-count bounds, mean-word-length band, required
    * distinct stopwords, type/token lower bound, max-word-length cap
    * — each rule as its own 0/1 flag so downstream reports can
    * attribute WHY a document fell, plus the conjunction (`keep`).
    * Extends [[textQuality]]'s 3-bucket score to the full
    * attributable battery; thresholds follow the paper where the
    * corpus makes them meaningful.
    *
    * Scale shape: one pass, pure map-side projection (token array
    * built once per row, every rule folds over it) — no shuffle, no
    * UDF, linear in corpus bytes; the per-rule flags are tiny ints
    * so the output parquet stays narrow. Ratios round(…,6) before
    * anything compares them (oracle hash-parity).
    */
  def textGopherRules(spark: SparkSession, dir: String): DataFrame = {
    val stops = Seq("the", "a", "and", "or", "of")
    val inList = stops.map("'" + _ + "'").mkString(",")
    Tables.documents(spark, dir)
      .withColumn("t", toks)
      .withColumn("n_words", size(col("t")).cast("long"))
      .withColumn("sum_len", expr(
        "aggregate(t, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))"))
      .withColumn("max_word_len", expr(
        "aggregate(t, CAST(0 AS BIGINT), (acc, x) -> greatest(acc, CAST(length(x) AS BIGINT)))"))
      .withColumn("n_unique", size(array_distinct(col("t"))).cast("long"))
      .withColumn("n_stop_distinct", expr(
        s"size(array_distinct(filter(t, x -> x IN ($inList))))").cast("long"))
      .withColumn("mean_word_len",
        round(col("sum_len").cast("double") / col("n_words"), 6))
      .withColumn("frac_unique",
        round(col("n_unique").cast("double") / col("n_words"), 6))
      .withColumn("r_word_count",
        (col("n_words") >= 50 && col("n_words") <= 100000).cast("int"))
      .withColumn("r_mean_word_len",
        (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0).cast("int"))
      .withColumn("r_stopwords", (col("n_stop_distinct") >= 2).cast("int"))
      .withColumn("r_unique_frac", (col("frac_unique") >= 0.2).cast("int"))
      .withColumn("r_max_word", (col("max_word_len") <= 15).cast("int"))
      .withColumn("keep",
        (col("r_word_count") + col("r_mean_word_len") + col("r_stopwords")
          + col("r_unique_frac") + col("r_max_word") === 5).cast("int"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("frac_unique"), col("n_stop_distinct"), col("max_word_len"),
        col("r_word_count"), col("r_mean_word_len"), col("r_stopwords"),
        col("r_unique_frac"), col("r_max_word"), col("keep"))
      .orderBy("doc_id")
  }

  /** RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    * are stopword-delimited token runs, each word scores
    * degree/frequency over the phrase co-occurrence graph (degree =
    * Σ length of phrases containing the word, self included), a
    * phrase scores the sum of its words' scores, top-20 phrases
    * corpus-wide. One adaptation for this stopword-sparse corpus:
    * runs are CHUNKED into consecutive ≤3-token phrases (standard
    * RAKE implementations filter phrases above 3-4 words anyway —
    * chunking keeps the run's tokens as candidates instead of
    * discarding long runs wholesale).
    *
    * Scale shape: run/chunk ids come from per-DOC windows (bounded by
    * doc length, never corpus-wide); word stats are one
    * map-side-combining groupBy; per-word scores are quantized to
    * round(1e6·degree/freq) and summed as BIGINT (the adamic_adar
    * discipline — float addition order can flip last-ulp ranks, an
    * integer sum cannot); the final top-20 is TakeOrdered on the
    * integer score, and only the report divides back to a double.
    */
  def textKeyphraseRake(spark: SparkSession, dir: String): DataFrame = {
    // Candidate phrases are maximal runs of non-stopword tokens,
    // chunked to ≤3 tokens — a PER-DOC computation, so it runs as
    // flat map-side array ops over the token array: stopword
    // positions → boundary list → one slice per run → one slice per
    // 3-chunk, all O(len) per doc (an aggregate-HOF fold measured
    // 6x WORSE — Catalyst copies the whole accumulator per step, so
    // a growing array-of-arrays accumulator is quadratic per doc).
    // The previous form posexploded 37M tokens into TWO
    // doc-partitioned row_number windows plus a collect_list
    // aggregate — three full sort/shuffle passes to rebuild
    // adjacency the token array already had.
    val phrases = Tables.documents(spark, dir)
      .withColumn("t", toks)
      .withColumn("bs", expr(
        // 1-based stopword positions, fenced by 0 and size+1
        """concat(array(0),
          |  filter(transform(t,
          |    (x, i) -> IF(x IN ('the', 'a', 'and', 'or', 'of'), i + 1, 0)),
          |    p -> p > 0),
          |  array(size(t) + 1))""".stripMargin))
      .select(col("doc_id"), explode(expr(
        """flatten(transform(
          |  filter(transform(sequence(1, size(bs) - 1),
          |    k -> slice(t, element_at(bs, k) + 1,
          |               element_at(bs, k + 1) - element_at(bs, k) - 1)),
          |    r -> size(r) > 0),
          |  r -> transform(sequence(0, (size(r) - 1) div 3),
          |    c -> slice(r, c * 3 + 1, 3))))""".stripMargin))
        .as("ps"))
      .select(col("doc_id"),
        concat_ws(" ", col("ps")).as("phrase"),
        size(col("ps")).cast("long").as("plen"))
    // The carve HOFs run INTERPRETED (ArrayTransform and friends
    // don't codegen) — ~7 µs/segment on this corpus — so the carve
    // must execute exactly ONCE: collapse the occurrence stream to
    // distinct phrases FIRST (one map-side-combined shuffle keyed on
    // the phrase), and derive the word stats from that |distinct
    // phrases|-sized table — freq(w) = Σ n_occ over phrases holding
    // w (once per appearance) and degree(w) = Σ plen·n_occ are
    // exactly the per-occurrence sums the exploded stream produced,
    // without the two extra carve evaluations that dominated the
    // branch-per-scan form (measured: each re-carve ≈ the whole
    // query's remaining cost).
    val occ = phrases.groupBy("phrase", "plen")
      .agg(count(lit(1)).as("n_occ"))
    val ws = occ
      .select(col("plen"), col("n_occ"), explode(split(col("phrase"), " ")).as("w"))
      .groupBy("w")
      .agg(sum("n_occ").as("freq"),
        sum(col("plen") * col("n_occ")).as("degree"))
    val scored = occ
      .select(col("phrase"), col("n_occ"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(ws, "w")
      .groupBy("phrase", "n_occ")
      .agg(sum(round(lit(1e6) * col("degree") / col("freq")).cast("long"))
        .as("score_u6"))
    graft.functions.TopK.globalWithRank(scored, 20,
      col("score_u6").desc, col("phrase"))
      .select(col("phrase"), col("n_occ"),
        round(col("score_u6") / 1e6, 6).as("rake_score"), col("rank"))
  }

  /** Code-vs-prose detection (the "strip code from the web corpus" /
    * "route code to the code mix" filter every LLM pipeline runs):
    * per-doc symbol density, keyword density against a
    * domain-keyword list, mean token length, and stopword density,
    * folded into a verdict — keyword-heavy + stopword-light text
    * reads as code-like. Rule thresholds are explicit columns so the
    * mix report can re-cut them.
    *
    * Scale shape: one map-side pass — every feature folds over the
    * token array built once per row; no shuffle, no UDF; ratios
    * round(…,6) before the verdict compares them.
    */
  def textCodeDetect(spark: SparkSession, dir: String): DataFrame = {
    val kw = Seq("join", "hash", "scan", "sort", "merge", "filter")
    val stop = Seq("the", "a", "and", "or", "of")
    val kwList = kw.map("'" + _ + "'").mkString(",")
    val stList = stop.map("'" + _ + "'").mkString(",")
    Tables.documents(spark, dir)
      .withColumn("t", toks)
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("n_sym", (length(col("text")) - length(
        regexp_replace(col("text"), "[^A-Za-z0-9\\s]", ""))).cast("long"))
      .withColumn("n_kw", expr(
        s"size(filter(t, x -> x IN ($kwList)))").cast("long"))
      .withColumn("n_stop", expr(
        s"size(filter(t, x -> x IN ($stList)))").cast("long"))
      .withColumn("sym_ratio",
        round(col("n_sym").cast("double") / length(col("text")), 6))
      .withColumn("kw_ratio",
        round(col("n_kw").cast("double") / col("n_tokens"), 6))
      .withColumn("stop_ratio",
        round(col("n_stop").cast("double") / col("n_tokens"), 6))
      .select(col("doc_id"), col("n_tokens"), col("sym_ratio"),
        col("kw_ratio"), col("stop_ratio"),
        when(col("kw_ratio") >= 0.18 && col("stop_ratio") <= 0.08, "code")
          .when(col("kw_ratio") >= 0.10, "mixed")
          .otherwise("prose").as("verdict"))
      .orderBy("doc_id")
  }

  /** Per-document lexical diversity: type-token ratio, hapax share
    * and Yule's K — the richness screen a corpus-curation pass runs
    * next to [[textRepetition]] (templated/spun text has low TTR and
    * high K; natural prose sits in a band). All three derive from
    * the doc's exact integer frequency spectrum: TTR = V/N, hapax
    * share = V(1)/V, K = 10⁴·(Σc²−N)/N² — integers until the final
    * ratios, so both engines agree digit-for-digit.
    *
    * Scale shape: one explode + two map-side-combined aggregates
    * ((doc_id, token) then doc_id) — the same linear shuffle
    * discipline as the token family; no windows, no driver state.
    * N² is computed in doubles so a book-length outlier doc cannot
    * overflow the BIGINT square.
    */
  def textLexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("c") * col("c")).as("sum_c2"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens"), 6)
          .as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types"), 6)
          .as("hapax_share"),
        round(lit(1e4) * (col("sum_c2") - col("n_tokens")).cast("double")
          / (col("n_tokens").cast("double") * col("n_tokens").cast("double")),
          6).as("yule_k"))
      .orderBy("doc_id")

  /** Zipf head coverage: what share of all corpus tokens the top-10 /
    * top-100 / top-1000 most frequent types account for — the
    * vocabulary-concentration read-out that sizes tokenizer vocab
    * and stopword lists (natural corpora put ~40-50% of mass in the
    * top 100; boilerplate-heavy ones much more). Complements
    * [[textZipfFit]] (which fits the slope) with the cumulative-mass
    * view.
    *
    * Scale shape: reads the PlanCache-shared unigram model table
    * ([[uniCounts]] — one corpus scan serves this, [[textZipfFit]],
    * and every unigram-LM consumer), so both the totals row and the
    * head are aggregates of an already-materialized (w, cw)
    * relation; the global top-1000 is a TakeOrdered on the total
    * (freq desc, token asc) order — never a global sort — and the
    * rank window runs AFTER the 1000-row limit, so it is bounded.
    * 3 rows out at any corpus size.
    */
  def textZipfCoverage(spark: SparkSession, dir: String): DataFrame = {
    val freq = uniCounts(spark, dir)
    val tot = freq.agg(sum("cw").as("n_total"),
      count(lit(1)).as("n_types"))
    val top = graft.functions.TopK.globalWithRank(
      freq, 1000, col("cw").desc, col("w"))
    val ks = spark.createDataFrame(Seq(Tuple1(10L), Tuple1(100L),
      Tuple1(1000L))).toDF("k")
    top.crossJoin(broadcast(ks))
      .filter(col("rank") <= col("k"))
      .groupBy("k").agg(sum("cw").as("covered_tokens"),
        count(lit(1)).as("n_in_head"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_in_head"), col("covered_tokens"),
        col("n_total"), col("n_types"),
        round(col("covered_tokens").cast("double") / col("n_total"), 6)
          .as("coverage"))
      .orderBy("k")
  }
}
