package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Matching}

/** Recall-vs-exact eval for the three CAPPED candidate regimes
  * (match_tfidf_topk / match_bm25_topk impact-capped postings,
  * dedup_ngram_jaccard MinHash-LSH candidates): force each gate at a
  * scale factor where the EXACT regime is still affordable, score the
  * capped answer against the exact answer, and emit the recall table
  * a 100-TB deployment needs before trusting the gate — the reference
  * quotes raw thresholds (entity_matching_tfidf.py: cosine ≥ 0.7;
  * entity_matching_optimized.py:85: ratio ≥ 85) that are meaningful
  * only under known candidate recall.
  *
  * Metrics:
  *  - matchers (top-1-per-query shape): query coverage (capped
  *    answered / exact answered), top-1 agreement (same argmax doc),
  *    and score-exactness on agreeing pairs (must be 1.0 — the capped
  *    regime scores candidates with the identical native dot).
  *  - ngram dedup (pair-set shape): pair-level recall per jaccard
  *    decile (≥0.5 … ≥0.9 bins) next to the THEORETICAL banded-LSH
  *    catch probability 1−(1−s²)⁴ ([[Dedup.lshCatchProb]]), plus the
  *    headline recall at the 0.8 verify threshold.
  *
  * Usage: `sbt "runMain graft.tools.RecallEval <sfDir> [out.json]"`.
  * One JSON object on stdout and in the out file.
  */
object RecallEval {

  private def top1Map(df: DataFrame): Map[Long, (Long, Double)] =
    df.collect().map { r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2))
    }.toMap

  /** Compare capped vs exact top-1 maps. Beyond argmax agreement,
    * SCORE REGRET@1 (exact top-1 score − capped top-1 score, relative)
    * is reported: on a templated shared-vocabulary corpus thousands
    * of docs tie at the top to within rounding, so a disagreeing
    * argmax that loses ~0 score is a tie-break artifact, not a
    * candidate-recall failure — regret is the metric that separates
    * the two.
    */
  private def matcherMetrics(name: String, exact: Map[Long, (Long, Double)],
                             capped: Map[Long, (Long, Double)],
                             extraJson: String = ""): String = {
    val answered = exact.keySet
    val covered = answered.intersect(capped.keySet)
    val agree = covered.count(i => capped(i)._1 == exact(i)._1)
    val scoreExact = covered.count(i =>
      capped(i)._1 == exact(i)._1 && capped(i)._2 == exact(i)._2)
    val regrets = covered.toSeq.map { i =>
      val e = exact(i)._2
      if (e <= 0) 0.0 else math.max(e - capped(i)._2, 0.0) / e
    }.sorted
    def pct(p: Double): Double =
      if (regrets.isEmpty) 0.0
      else regrets(math.min(regrets.size - 1, (p * regrets.size).toInt))
    val zeroRegret =
      if (covered.isEmpty) 1.0
      else regrets.count(_ <= 1e-6).toDouble / covered.size
    f"""  "$name": {"n_exact": ${exact.size}, "n_capped": ${capped.size},
       |    "query_coverage": ${covered.size.toDouble / answered.size}%.6f,
       |    "top1_agreement": ${agree.toDouble / answered.size}%.6f,
       |    "score_exact_on_agreed": ${
            if (agree == 0) 1.0 else scoreExact.toDouble / agree}%.6f,
       |    "zero_regret_frac": $zeroRegret%.6f,
       |    "regret_p50": ${pct(0.50)}%.6f, "regret_p95": ${pct(0.95)}%.6f,
       |    "regret_p99": ${pct(0.99)}%.6f, "regret_max": ${pct(1.0)}%.6f$extraJson}""".stripMargin
  }

  private def bins(df: DataFrame): Map[Long, Long] = df
    .withColumn("bin_x10", expr(
      "CAST(round(jaccard * 1000000) AS BIGINT) div 100000"))
    .groupBy("bin_x10").agg(count(lit(1)).as("n"))
    .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Per-decile recall JSON for a pair-set family, exact vs capped
    * bin counts, with the band shape's theoretical catch at each
    * bin's low edge alongside.
    */
  private def ngramSectionJson(name: String, regime: String,
      be: Map[Long, Long], bc: Map[Long, Long],
      extraJson: String = ""): String = {
    val decileRows = (5L to 9L).map { b =>
      val ne = be.getOrElse(b, 0L); val nc = bc.getOrElse(b, 0L)
      val rec = if (ne == 0) 1.0 else nc.toDouble / ne
      val s = b / 10.0
      val th = Dedup.lshCatchProb(s, Dedup.NgramLshBands, Dedup.NgramLshRows)
      f"""    {"bin": "[${s}%.1f,${s + 0.1}%.1f)", "n_exact": $ne, "n_capped": $nc,
         |     "recall": $rec%.6f, "lsh_catch_theory_low_edge": $th%.6f}""".stripMargin
    }
    val e08 = (8L to 10L).map(b => be.getOrElse(b, 0L)).sum
    val c08 = (8L to 10L).map(b => bc.getOrElse(b, 0L)).sum
    f"""  "$name": {
       |    "regime": "$regime",
       |    "recall_at_verify_0.8": ${
          if (e08 == 0) 1.0 else c08.toDouble / e08}%.6f,
       |    "n_exact_ge_0.8": $e08, "n_capped_ge_0.8": $c08$extraJson,
       |    "deciles": [
       |${decileRows.mkString(",\n")}
       |  ]}""".stripMargin
  }

  /** Deterministic doc subsample rates for the second-decade
    * (production-regime) protocol: exact truth at sf10 is unaffordable
    * in full (2.5e10 ngram pairs, 6.25e10 matcher pairs), so truth is
    * computed EXACTLY on a deterministic 1-in-K subset — doc-mod for
    * the pair-set family (both endpoints sampled ⇒ pair kept with
    * p=1/K²), query-mod for the matchers ([[graft.operators.Matching
    * .querySide]]: stats/corpus untouched, so a sampled query's exact
    * top-1 IS its full-run top-1). tfidf samples 10× thinner than
    * bm25: its exact path at sf10 is the sparse prefix join, ~10×
    * the per-query cost of bm25's dense scan.
    */
  val NgramDocSample = 30L
  val Bm25QuerySample = 100L
  val TfidfQuerySample = 1000L

  /** Fail LOUDLY if a truth run silently left the exact regime: the
    * sampled-truth protocol is only truth while the sampled run's
    * regime gate chose exact scoring — at a larger SF (or a lowered
    * budget) the "exact" side would become capped-vs-capped and every
    * fidelity number below it meaningless with no visible error.
    */
  private def assertExactRegime(gate: String, dir: String): Unit = {
    val d = graft.GateLog.lastDecision(gate, dir)
    require(d.nonEmpty, s"truth run recorded no regime decision for $gate")
    require(!d.get.chosen.startsWith("capped") &&
      !d.get.chosen.startsWith("lsh"),
      s"truth run NOT exact: $gate chose ${d.get.chosen} (${d.get.detail}) " +
        "— raise the query/doc sample until the exact regime is reachable")
  }

  /** Deterministic zipfy-vocabulary name register at `out` (a
    * documents.parquet the matchers read directly): the bench corpus'
    * 40-shared-token whitespace vocabulary makes every doc near-tie
    * at the argmax, so its capped-regime agreement measures CORPUS
    * DEGENERACY, not champion-list fidelity (the r11 adjudication).
    * Real registers — the reference's matching domain
    * (entity_matching.py) — have wide zipfy vocabularies; this slice
    * reproduces that regime deterministically: V-word vocabulary with
    * rank drawn as exp(u·lnV) (zipf-1 inverse CDF), 4-7 tokens per
    * name, and every second even/odd pair a planted near-duplicate
    * (one token swapped) so exact truth has real matches to find.
    */
  def writeNameCorpus(spark: SparkSession, out: String,
      n: Long = 20000L, vocab: Int = 4000): Unit = {
    import spark.implicits._
    def u(s: String): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val x = ((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) |
        ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)
      x / 4294967296.0
    }
    def zipfTok(seed: String): String = {
      val r = math.min(vocab.toLong,
        math.max(1L, math.exp(u(seed) * math.log(vocab.toDouble)).toLong))
      s"w$r"
    }
    val df = spark.range(0, n).map { d =>
      val m = d / 2
      val ntok = 4 + (u(s"name$m#n") * 4).toInt // 4..7
      val base = (0 until ntok).map(k => zipfTok(s"name$m#t$k"))
      val toks =
        if (d % 2 == 0) base
        else if (m % 2 == 0) // planted near-dup: one token swapped
          base.updated(ntok - 1, zipfTok(s"name$d#swap"))
        else (0 until ntok).map(k => zipfTok(s"name$d#u$k"))
      (d, toks.mkString(" "))
    }.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'names' AS source",
        "length(text) AS n_chars")
    df.write.mode("overwrite").parquet(s"$out/documents.parquet")
    graft.PlanCache.invalidate(out)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "RECALL_EVAL.json"
    // iteration aid: restrict to one section
    // (all | matchers | ngram | names | sf10 | sf10_ngram |
    //  sf10_matchers)
    val sections = if (args.length > 2) args(2) else "all"
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.GraftSession.local(cpus)

    val parts = scala.collection.mutable.ArrayBuffer.empty[String]

    // ---- ngram-jaccard: pair recall per decile under LSH candidates
    if (sections == "all" || sections == "ngram") {
    val exactScores = Dedup.ngramJaccardScores(spark, sfDir, minJaccard = 0.5)
      .filter(col("jaccard") >= 0.5)
    val cappedScores = Dedup.ngramJaccardScores(spark, sfDir,
      minJaccard = 0.5, exactPairBudget = 1.0)
      .filter(col("jaccard") >= 0.5)
    parts += ngramSectionJson("dedup_ngram_jaccard",
      "lsh_candidates (forced)", bins(exactScores), bins(cappedScores))
    }

    // ---- second decade: at the passed dir the capped gates are the
    // PRODUCTION regime (nothing forced); truth is exact on a
    // deterministic 1-in-K subset (see the sample-rate scaladoc).
    if (sections == "sf10" || sections == "sf10_ngram") {
      // both-endpoints-sampled pair recall: an exact all-pairs run
      // over the 1-in-30 doc subset is affordable at any decade
      // (pair volume shrinks 900×) and every subset pair's jaccard
      // is identical to its full-corpus score (pair-local metric)
      val sub = "/tmp/recall_truth_subset"
      graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % NgramDocSample === 0)
        .write.mode("overwrite").parquet(s"$sub/documents.parquet")
      graft.PlanCache.invalidate(sub)
      val exact = Dedup.ngramJaccardScores(spark, sub, minJaccard = 0.5)
        .filter(col("jaccard") >= 0.5)
      val be = bins(exact)
      assertExactRegime("dedup_ngram_jaccard.regime", sub)
      val capped = Dedup.ngramJaccardScores(spark, sfDir, minJaccard = 0.5)
        .filter(col("jaccard") >= 0.5)
        .filter(col("i") % NgramDocSample === 0 &&
          col("j") % NgramDocSample === 0)
      parts += ngramSectionJson("dedup_ngram_jaccard_sf10",
        "lsh_candidates (production)", be, bins(capped),
        s""", "doc_sample": $NgramDocSample""")
    }
    if (sections == "sf10" || sections == "sf10_matchers" ||
        sections == "sf10_tfidf") {
      // capped side = the PRODUCTION run (its timing is the shipped
      // sf10 cost), result map filtered to the sampled queries whose
      // exact truth the querySample run computes against the full
      // corpus with identical stats
      def timed[T](f: => T): (T, Double) = {
        val t0 = System.nanoTime(); val r = f
        (r, (System.nanoTime() - t0) / 1e9)
      }
      if (sections != "sf10_tfidf") {
      val (bm25Cap, bm25Secs) = timed(
        top1Map(Matching.matchBm25Topk(spark, sfDir)))
      val bm25Exact = top1Map(Matching.matchBm25Topk(spark, sfDir,
        denseVocabMax = 4096, querySample = Bm25QuerySample))
      assertExactRegime("match_bm25_topk.regime", sfDir)
      parts += matcherMetrics("match_bm25_topk_sf10", bm25Exact,
        bm25Cap.filter { case (i, _) => (i / 2) % Bm25QuerySample == 0 },
        f""",
           |    "query_sample": $Bm25QuerySample, "capped_seconds": $bm25Secs%.1f""".stripMargin)
      }
      val (tfidfCap, tfidfSecs) = timed(
        top1Map(Matching.matchTfidfTopk(spark, sfDir)))
      // below-threshold decomposition of any coverage gap: the same
      // capped run with the final 0.5 filter lifted says, per sampled
      // query, whether it had NO admitted candidate at all or only
      // candidates scoring under the threshold — the difference
      // between a champion-cut defect and a threshold semantics fact
      val tfidfCapAll = top1Map(Matching.matchTfidfTopk(spark, sfDir,
        denseVocabMax = 4096, simThreshold = 0.0))
      val tfidfExact = top1Map(Matching.matchTfidfTopk(spark, sfDir,
        denseVocabMax = 4096, querySample = TfidfQuerySample))
      assertExactRegime("match_tfidf_topk.regime", sfDir)
      val sampled: ((Long, (Long, Double))) => Boolean =
        { case (i, _) => (i / 2) % TfidfQuerySample == 0 }
      val tCapS = tfidfCap.filter(sampled)
      val tAllS = tfidfCapAll.filter(sampled)
      val uncovered = tfidfExact.keySet -- tCapS.keySet
      val belowThresh = uncovered.count(tAllS.contains)
      val noCand = uncovered.size - belowThresh
      // threshold-straddle evidence: if the uncovered population's
      // EXACT best scores sit just above 0.5 while their capped best
      // sit just below, the coverage gap is the near-tie corpus
      // crossing the threshold under a few-percent regret — the bm25
      // agreement collapse wearing tfidf's threshold — not a missing-
      // candidate defect (uncovered_no_candidates says that part)
      def pcts(xs: Seq[Double]): String =
        if (xs.isEmpty) "[]"
        else {
          val s = xs.sorted
          def p(q: Double) = s(math.min(s.size - 1, (q * s.size).toInt))
          f"""{"min": ${s.head}%.4f, "p50": ${p(0.5)}%.4f, "max": ${s.last}%.4f}"""
        }
      val uncExact = pcts(uncovered.toSeq.flatMap(tfidfExact.get).map(_._2))
      val uncCapped = pcts(uncovered.toSeq.flatMap(tAllS.get).map(_._2))
      parts += matcherMetrics("match_tfidf_topk_sf10", tfidfExact, tCapS,
        f""",
           |    "query_sample": $TfidfQuerySample, "capped_seconds": $tfidfSecs%.1f,
           |    "uncovered_below_threshold": $belowThresh, "uncovered_no_candidates": $noCand,
           |    "uncovered_exact_best": $uncExact,
           |    "uncovered_capped_best": $uncCapped""".stripMargin)
    }

    // ---- realistic-vocabulary slice: the SAME capped pipeline at the
    // SHIPPED budget over a zipfy wide-vocab name register (see
    // [[writeNameCorpus]]) — separates champion-list fidelity from
    // the bench corpus' 40-token degeneracy.
    if (sections == "all" || sections == "names") {
      val nd = "/tmp/recall_names"
      writeNameCorpus(spark, nd)
      val tfidfExactN = top1Map(Matching.matchTfidfTopk(spark, nd))
      assertExactRegime("match_tfidf_topk.regime", nd)
      val tfidfCapN = top1Map(Matching.matchTfidfTopk(spark, nd,
        denseVocabMax = 4096, exactPairBudget = Matching.CappedAdmitPairs))
      parts += matcherMetrics("match_tfidf_topk_names", tfidfExactN,
        tfidfCapN, """,
           |    "corpus": "zipf-4000-vocab names, 20k docs"""".stripMargin)
      val bm25ExactN = top1Map(Matching.matchBm25Topk(spark, nd))
      assertExactRegime("match_bm25_topk.regime", nd)
      val bm25CapN = top1Map(Matching.matchBm25Topk(spark, nd,
        denseVocabMax = 4096, exactPairBudget = Matching.CappedAdmitPairs))
      parts += matcherMetrics("match_bm25_topk_names", bm25ExactN,
        bm25CapN, """,
           |    "corpus": "zipf-4000-vocab names, 20k docs"""".stripMargin)
      // at the shipped 5e7 budget a 20k-name register is admitted in
      // FULL (champion K = max postings — the gate lines say so), so
      // the rows above prove budget sufficiency, not truncation
      // fidelity; a 10x-tighter budget forces a real champion cut on
      // the same corpus and measures what truncation actually costs
      // where vocabulary is wide
      val tight = Matching.CappedAdmitPairs / 10
      val tfidfTight = top1Map(Matching.matchTfidfTopk(spark, nd,
        denseVocabMax = 4096, exactPairBudget = tight,
        admitPairBudget = tight))
      parts += matcherMetrics("match_tfidf_topk_names_budget_0.1x",
        tfidfExactN, tfidfTight)
      val bm25Tight = top1Map(Matching.matchBm25Topk(spark, nd,
        denseVocabMax = 4096, exactPairBudget = tight,
        admitPairBudget = tight))
      parts += matcherMetrics("match_bm25_topk_names_budget_0.1x",
        bm25ExactN, bm25Tight)
    }

    // ---- tfidf / bm25: forced capped regime vs the exact regime.
    // exactPairBudget = CappedAdmitPairs keeps the admitted-pair cap
    // at its production value (5e7) while forcing the regime flip.
    val forced = Matching.CappedAdmitPairs
    if (sections == "all" || sections == "matchers") {
    val tfidfExact = top1Map(Matching.matchTfidfTopk(spark, sfDir))
    val tfidfCapped = top1Map(Matching.matchTfidfTopk(spark, sfDir,
      denseVocabMax = 4096, exactPairBudget = forced))
    parts += matcherMetrics("match_tfidf_topk", tfidfExact, tfidfCapped)
    val bm25Exact = top1Map(Matching.matchBm25Topk(spark, sfDir))
    val bm25Capped = top1Map(Matching.matchBm25Topk(spark, sfDir,
      denseVocabMax = 4096, exactPairBudget = forced))
    parts += matcherMetrics("match_bm25_topk", bm25Exact, bm25Capped)
    // the budget IS the recall knob: one more point on the curve at
    // 4x the production cap, so a deployment can read agreement-vs-
    // budget instead of a single number
    val bm25Capped4x = top1Map(Matching.matchBm25Topk(spark, sfDir,
      denseVocabMax = 4096, exactPairBudget = 4 * forced,
      admitPairBudget = 4 * forced))
    parts += matcherMetrics("match_bm25_topk_budget_4x", bm25Exact, bm25Capped4x)
    }

    val json = s"""{\n  "sf_dir": "$sfDir",\n  "forced_admit_cap": $forced,\n""" +
      parts.mkString(",\n") + "\n}"
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    graft.PlanCache.clear()
    spark.stop()
  }
}
