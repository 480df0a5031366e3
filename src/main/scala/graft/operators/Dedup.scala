package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Near-duplicate detection for large text/embedding corpora — the
  * LLM-training-data operators layered on the reference's dedup
  * steps (clean_abr.py drop_duplicates; entity matching similarity).
  *
  * Scale design: every variant computes per-row signatures map-side
  * (no shuffle), then finds candidate pairs through a bounded
  * equi-join (hash bucket / LSH band / lang block) — never a corpus
  * cartesian. Verification (exact jaccard / cosine) runs only on
  * candidates.
  */
object Dedup {

  /** Exact-regime pair budget for the hashed-ngram jaccard family:
    * the bitset scorer measures ~2.5e7 pairs/s (sf1: 2.5e8 in-block
    * pairs, ~10s build), so 2e9 caps the exact all-pairs pass at
    * ~80s; above it candidates route through the banded MinHash-LSH
    * join (flat cost, bounded recall, scores stay exact). sf1
    * (2.5e8) stays exact — the oracle-gated regime — and sf10
    * (2.5e10, the r8 exclusion) goes LSH-candidates and completes.
    */
  val NgramExactPairBudget: Double = 2e9

  /** S-curve catch probability of the banded MinHash-LSH candidate
    * join at true jaccard `s`: 1 − (1 − s^r)^b. The family runs b=4
    * bands of r=2 rows ([[bandsOf]]), so the ≥98% figure quoted for
    * the 0.8 verify threshold does NOT transfer down the sweep bins —
    * s=0.5 catches only ~68%. Emitted into the LSH-regime gate detail
    * so any consumer reading sub-0.8 bins under the capped regime sees
    * its per-decile bias instead of inheriting the 0.8-threshold
    * number (R10GateSpec pins the arithmetic).
    */
  def lshCatchProb(s: Double, bands: Int = 4, rows: Int = 2): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** Band shape of the ngram family's OWN capped-regime LSH
    * ([[BitsetMinhash]] over the scoring bitsets — same similarity
    * space as the exact scorer, so the curve below is the measured
    * candidate recall, not an upper bound from a different feature
    * space). 40 bands × 10 rows: catch ≥ 0.989 at the 0.8 verify
    * threshold, 1−ε at 0.9, while the templated corpus's huge
    * s≈0.5 background mass stays ~96% excluded (0.038 catch) — the
    * steep part of the S-curve sits exactly between the background
    * and the verify threshold. The r9 regime reused the word-shingle
    * bands (b=4, r=2, and the WRONG space): measured recall at
    * jaccard ≥ 0.8 was 0.434 against the quoted 0.983
    * (RECALL_EVAL.json, forced regime at sf1).
    */
  val NgramLshBands = 40
  val NgramLshRows = 10

  /** Broadcast cap for the bitset relation inside the LSH regime's
    * verify join (~1 KB/doc: 528 MB at sf10's 500k docs — one
    * executor-resident copy beats shuffling the 100M+-pair candidate
    * stream widened to 1 KB/row, the measured ENOSPC shape). A
    * 100-TB corpus overflows any broadcast — the gate falls back to
    * the exchange join and logs it.
    */
  val NgramBitsetBroadcastMaxBytes: Long = 1L << 30

  /** Bucket size at which the LSH band join switches a bucket to the
    * broadcast self-join (see the hot/cold note at the join): B ≥ 1024
    * means ≥ ~0.5M pairs from one key — tail-risk under a shared-key
    * join, trivially spread under the broadcast form. The sf10 census
    * put 503k of 20M exploded rows (186 MB) in hot buckets.
    */
  val NgramHotBucketMin: Long = 1024L

  /** Broadcast cap for the hot-bucket stream itself (the self-join's
    * build side): each exploded row carries the 40-long band signature
    * (~400 B with array headers; 512 B is the conservative estimate
    * used for the gate). The one measured census (sf10, r10) put
    * 186 MB in hot buckets — comfortably under the cap — but hot-row
    * volume is DATA-dependent: a templated or duplicate-heavy corpus
    * can push most of the exploded stream hot, and an ungated
    * broadcast then dies on driver memory instead of degrading. Above
    * the cap the hot branch falls back to a salted self-join
    * (replicate-right, salt-left-by-doc_id): same pairs, bounded
    * per-task emission, `NgramHotSalts`× the replication cost — the
    * trade the gate line records.
    */
  val NgramHotRowBytes: Long = 512L
  val NgramHotBroadcastMaxBytes: Long = 1L << 30
  val NgramHotSalts: Int = 32

  /** Exact dedup families by content hash: one row per distinct text,
    * keeper = min doc_id (clean_abr.py:34 drop_duplicates).
    */
  def dedupExactText(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_docs"))
      .orderBy("keeper")

  private def tokensCol = split(col("text"), "\\s+")

  /** Distinct 3-word shingles of the document text. */
  private def shinglesCol = array_distinct(expr(
    "transform(sequence(1, size(toks)-2), i -> array_join(slice(toks, i, 3), ' '))"))

  /** Distinct 3-word shingle arrays for an arbitrary (doc_id, text)
    * relation — the unit every minhash consumer verifies against.
    */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs.withColumn("toks", tokensCol)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), shinglesCol.as("s"))

  /** LSH bands for a shingle relation. Minhashes via explode +
    * min-agg: md5 runs codegen'd per shingle row instead of
    * interpreted inside an array-transform lambda. Only TWO digests
    * per shingle: each md5 is split into 4 independent 8-hex-char
    * (32-bit) pieces — digest cost is the minhash bottleneck and 32
    * bits per hash is plenty for min-of-set.
    */
  /** Per-doc 8-slot minhash signature (h1..h8) — the relation bands
    * are cut from, and what the estimate-accuracy eval reads.
    */
  private[graft] def sigsOf(sh: DataFrame): DataFrame = {
    val exsh = sh.select(col("doc_id"), explode(col("s")).as("x"))
    val minAggs = (1 to 8).map { j =>
      val src = if (j <= 4) 1 else 2
      val off = ((j - 1) % 4) * 8 + 1
      min(substring(md5(concat(lit(s"$src|"), col("x"))), off, 8)).as(s"h$j")
    }
    exsh.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
  }

  private[graft] def bandsOf(sh: DataFrame): DataFrame = {
    val withH = sigsOf(sh)
    withH.select(col("doc_id"),
        explode(map(
          lit(1), concat(col("h1"), col("h2")),
          lit(2), concat(col("h3"), col("h4")),
          lit(3), concat(col("h5"), col("h6")),
          lit(4), concat(col("h7"), col("h8"))))
          .as(Seq("band_idx", "band_val")))
  }

  /** Corpus shingles under the PlanCache: they feed minhash
    * computation and both sides of every candidate verify.
    */
  private def minhashShingles(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("minhash_shingles", spark, dir) {
      shinglesOf(Tables.documents(spark, dir))
    }

  /** Corpus LSH bands — shared by within-corpus dedup and the
    * cross-split contamination gate.
    */
  private def minhashBands(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("minhash_bands", spark, dir) {
      bandsOf(minhashShingles(spark, dir))
    }

  /** MinHash + LSH: 8 md5-derived minhashes per doc (map-side), 4
    * bands of 2 → band-bucket equi-join → candidates → exact jaccard
    * ≥ 0.8 verify. Band width bounds bucket sizes at any corpus size.
    */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    // the verified pair list is the family's terminal shared relation
    // (standalone query + method-agreement both consume it), so it
    // lives under the PlanCache like the shingles/bands that feed it
    graft.PlanCache.cached("minhash_pairs", spark, dir) {
      verifyJaccard(minhashShingles(spark, dir), minhashCandidates(spark, dir))
    }

  /** LSH candidate pairs (banded equi-join, deduped) — shared by the
    * ≥ 0.8 verify and the estimate-accuracy eval.
    */
  private def minhashCandidates(spark: SparkSession, dir: String): DataFrame = {
    val bands = minhashBands(spark, dir)
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
  }

  /** Sketch-vs-truth accuracy of the minhash jaccard ESTIMATE on the
    * LSH candidate pairs: the 8-slot signature agreement fraction
    * (the estimator an index would use to SKIP the exact verify)
    * against the exact shingle jaccard, with the absolute error —
    * the table that says whether 8 hashes are enough before a 100 TB
    * run drops the verify step. Signatures and shingles both come
    * off the family's cached relations; the eval costs two
    * candidate-sized hash joins beyond the LSH search itself.
    */
  def dedupMinhashEstEval(spark: SparkSession, dir: String): DataFrame = {
    val sh = minhashShingles(spark, dir)
    val sigs = graft.PlanCache.cached("minhash_sigs", spark, dir) {
      sigsOf(sh)
    }
    val sa = sigs.select(col("doc_id").as("i") +:
      (1 to 8).map(k => col(s"h$k").as(s"a$k")): _*)
    val sb = sigs.select(col("doc_id").as("j") +:
      (1 to 8).map(k => col(s"h$k").as(s"b$k")): _*)
    minhashCandidates(spark, dir)
      .join(sa, "i").join(sb, "j")
      .withColumn("n_eq", (1 to 8)
        .map(k => when(col(s"a$k") === col(s"b$k"), 1L).otherwise(0L))
        .reduce(_ + _))
      .join(sh.select(col("doc_id").as("i"), col("s").as("si")), "i")
      .join(sh.select(col("doc_id").as("j"), col("s").as("sj")), "j")
      .withColumn("inter", size(array_intersect(col("si"), col("sj"))).cast("double"))
      .withColumn("est_jaccard", round(col("n_eq").cast("double") / 8.0, 6))
      .withColumn("exact_jaccard", round(
        col("inter") / (size(col("si")) + size(col("sj")) - col("inter")), 6))
      .select(col("i"), col("j"), col("est_jaccard"), col("exact_jaccard"),
        round(abs(col("est_jaccard") - col("exact_jaccard")), 6).as("abs_err"))
      .orderBy("i", "j")
  }

  /** Exact-Jaccard verify of an (i, j) candidate set against the
    * shingle arrays — runs only on candidates, never on all pairs.
    * `shI`/`shJ` may be different relations (batch vs stored corpus).
    */
  private def verifyJaccard(shI: DataFrame, cand: DataFrame,
                            shJ: DataFrame = null): DataFrame = {
    val sa = shI.select(col("doc_id").as("i"), col("s").as("si"))
    val sb = (if (shJ == null) shI else shJ)
      .select(col("doc_id").as("j"), col("s").as("sj"))
    cand.join(sa, "i").join(sb, "j")
      .withColumn("inter", size(array_intersect(col("si"), col("sj"))).cast("double"))
      .withColumn("jaccard", round(
        col("inter") / (size(col("si")) + size(col("sj")) - col("inter")), 6))
      .filter(col("jaccard") >= 0.8)
      .select("i", "j", "jaccard")
      .orderBy("i", "j")
  }

  /** Build and persist the corpus MinHash index — bands sorted by
    * (band_idx, band_val) so probe scans row-group-prune on the band
    * value, plus the shingle arrays the verify step needs. The dedup
    * twin of [[Similarity.buildIvfIndex]]: the corpus side of
    * near-dup detection is paid ONCE, not on every incoming batch.
    */
  def buildDedupIndex(spark: SparkSession, dir: String, indexPath: String): Unit = {
    graft.sources.Sinks.writeSortedForPruning(
      minhashBands(spark, dir), s"$indexPath/bands", Seq("band_idx", "band_val"))
    minhashShingles(spark, dir).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$indexPath/shingles")
  }

  /** Build the index from an arbitrary (doc_id, text) relation — the
    * form a pipeline uses when the accumulated history is not the
    * whole `documents` table. The shingles are materialized for the
    * duration of the build so the band cut and the shingle write
    * share one tokenization pass.
    */
  def buildDedupIndex(spark: SparkSession, indexPath: String,
                      corpus: DataFrame): Unit = {
    val sh = graft.PlanCache.materialize(shinglesOf(corpus))
    try {
      graft.sources.Sinks.writeSortedForPruning(
        bandsOf(sh), s"$indexPath/bands", Seq("band_idx", "band_val"))
      sh.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$indexPath/shingles")
    } finally graft.PlanCache.release(sh)
  }

  /** Incremental dedup: near-dup pairs (batch doc i, corpus doc j,
    * jaccard ≥ 0.8) of a NEW batch against a stored corpus index —
    * bands and shingles are computed only for the batch (O(batch)),
    * the corpus side comes off the index built by
    * [[buildDedupIndex]]. This is how dedup runs in production: the
    * corpus is the accumulated history, each ingestion batch probes
    * it, and accepted docs' bands are appended — never recompute the
    * history. Candidates are the same banded equi-join as
    * [[dedupMinhashLsh]], so batch-vs-corpus results match a
    * monolithic run on the union restricted to crossing pairs.
    */
  def dedupAgainstIndex(spark: SparkSession, indexPath: String,
                        batch: DataFrame): DataFrame =
    // materialized, not cached: the batch is a caller-supplied
    // relation with no stable (dir)-style cache key, and shB feeds
    // BOTH the band computation and the verify side — otherwise the
    // whole batch tokenizes twice. PlanCache.clear() frees the blocks.
    probeDedupIndex(spark, indexPath,
      graft.PlanCache.materialize(shinglesOf(batch)))

  private def probeDedupIndex(spark: SparkSession, indexPath: String,
                              shB: DataFrame): DataFrame = {
    val bandsB = bandsOf(shB)
      .select(col("doc_id").as("i"), col("band_idx"), col("band_val"))
    val bandsC = spark.read.parquet(s"$indexPath/bands")
      .select(col("doc_id").as("j"), col("band_idx"), col("band_val"))
    val cand = bandsB.join(bandsC, Seq("band_idx", "band_val"))
      .select("i", "j").distinct()
    verifyJaccard(shB, cand, spark.read.parquet(s"$indexPath/shingles"))
  }

  /** The persisted-index lifecycle as a REGISTERED query: the corpus
    * slice (doc_id % 10 ≠ 0) is indexed ONCE into a fingerprinted
    * tmp location (the [[Similarity.ensureIndex]] staging-rename
    * protocol, keyed to documents.parquet so a regenerated corpus
    * forces a rebuild), and the batch slice (doc_id % 10 = 0) probes
    * the STORED bands/shingles through [[dedupAgainstIndex]] — so
    * the driver's oracle gate exercises the actual on-disk index
    * path, not an in-memory shortcut. The oracle is the monolithic
    * run restricted to crossing pairs, which IndexSpec already pins
    * equal to this composition.
    */
  def dedupIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val idx = Similarity.ensureIndex(dir, "graft_mhidx", Seq("bands", "shingles"),
      stage => buildDedupIndex(spark, stage,
        docs.filter(col("doc_id") % 10 =!= 0)),
      srcFile = "documents.parquet")
    // batch shingles cached under a PlanCache key, NOT
    // dedupAgainstIndex's one-off materialize: a registered query
    // re-runs (bench reps, verify), and each call would hold a fresh
    // copy of the batch shingles until clear(). The key dedupes reps.
    val shB = graft.PlanCache.cached("mhidx_batch_shingles", spark, dir) {
      shinglesOf(docs.filter(col("doc_id") % 10 === 0))
    }
    probeDedupIndex(spark, idx, shB)
  }

  /** Cross-split eval-leakage gate: TEST-split documents whose
    * shingle set is a near-duplicate (Jaccard ≥ 0.8) of some
    * TRAIN-split document — the decontamination check run before an
    * eval set is trusted. Exact duplicates never cross a
    * content-hash split (identical text → identical split), so what
    * this catches is precisely the NEAR-dup leakage a hash split
    * cannot prevent.
    *
    * Scale shape: the same banded LSH as [[dedupMinhashLsh]] (bands
    * are PlanCache-shared between the two), but the candidate join is
    * BIPARTITE — test bands against train bands — so its output is
    * bounded by cross-split band collisions, far fewer than
    * within-corpus duplicates; verify runs only on candidates. i is
    * the leaked test doc, j its train-side source.
    */
  def contaminationMinhash(spark: SparkSession, dir: String): DataFrame = {
    val split = Sampling.sampleHashSplit(spark, dir).select("doc_id", "split")
    val bands = minhashBands(spark, dir)
    val testB = bands.join(split.filter(col("split") === "test"), "doc_id")
      .select(col("doc_id").as("i"), col("band_idx"), col("band_val"))
    val trainB = bands.join(split.filter(col("split") === "train"), "doc_id")
      .select(col("doc_id").as("j"), col("band_idx"), col("band_val"))
    val cand = testB.join(trainB, Seq("band_idx", "band_val"))
      .select("i", "j").distinct()
    verifyJaccard(minhashShingles(spark, dir), cand)
  }

  /** 16-bit portable SimHash (md5-nibble bits, engine-agnostic
    * arithmetic): docs colliding on the full signature are near-dup
    * candidates. A 64-bit native variant lives in
    * graft.functions.SimHash64 for production use (tested in
    * ScalaTest; this query keeps the DuckDB-checkable form).
    *
    * Hot-bucket cap (the mm_phash/star-components discipline): a
    * signature bucket with more than [[SimhashBucketCap]] members is
    * a duplicate FAMILY — emitting its C(k,2) clique is quadratic in
    * family size (measured: 460M pair rows at sf10, 97% of the
    * method-agreement audit's input), and the clique carries no more
    * information than its spanning star. Buckets ≤ cap keep full
    * cliques (pairwise semantics where pairwise is affordable);
    * bigger buckets emit hub→member stars — k−1 rows whose
    * transitive closure yields the identical families. Output is
    * bounded by C(cap,2)·buckets + |docs| at ANY corpus size. The
    * oracle mirrors the cap; sf0.01 exercises both regimes (max
    * bucket 52 there).
    */
  val SimhashBucketCap = 16

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    dedupSimhash(spark, dir, SimhashBucketCap)

  /** Cap-parameterized form so the spec can pin capped == uncapped
    * family equality ([[SimhashCapSpec]]); the registry always runs
    * the default cap.
    */
  private[operators] def dedupSimhash(spark: SparkSession, dir: String,
      cap: Int): DataFrame = {
    val cname =
      if (cap == SimhashBucketCap) "simhash_pairs" else s"simhash_pairs_cap$cap"
    graft.PlanCache.cached(cname, spark, dir) {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(tokensCol)).as("tk"))
      .withColumn("h", md5(col("tk"))) // hash once, not once per bit
    val bits = tok
      .withColumn("b", explode(expr("sequence(0, 15)")))
      .withColumn("nib",
        expr("instr('0123456789abcdef', substring(h, (b div 4) + 1, 1)) - 1"))
      .withColumn("mask", expr(
        "CASE b % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END"))
      .withColumn("v", expr("CASE WHEN (nib div mask) % 2 = 1 THEN 1 ELSE -1 END"))
    val sim = bits.groupBy("doc_id", "b")
      .agg(sum("v").as("sv"))
      .withColumn("bit", when(col("sv") > 0, 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(sum(expr("bit * CAST(pow(2, b) AS BIGINT)")).as("simhash"))
    val fam = sim.groupBy("simhash")
      .agg(count(lit(1)).as("n_members"), min("doc_id").as("hub"))
      .filter(col("n_members") >= 2)
    // ≤ 2^16 signature values → fam broadcasts at any corpus size
    val m = sim.join(broadcast(fam), "simhash")
    val warm = m.filter(col("n_members") <= cap)
    val warmPairs = warm.as("a").join(warm.as("b"),
        col("a.simhash") === col("b.simhash") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        col("a.simhash").as("simhash"))
    val hotStars = m
      .filter(col("n_members") > cap && col("doc_id") =!= col("hub"))
      .select(col("hub").as("i"), col("doc_id").as("j"), col("simhash"))
    warmPairs.unionAll(hotStars).orderBy("i", "j")
    }
  }

  /** Character-3-gram jaccard ≥ 0.8 within language blocks, over
    * fixed-width hashed bitsets: each gram hashes into a 4096-bit
    * universe (3 md5 nibbles — engine-portable), a doc's gram set
    * becomes 128 packed 32-bit words built map-side in ONE pass (no
    * vocabulary scan, no driver collect — a Unicode web corpus has an
    * effectively unbounded 3-gram vocabulary, so any global ranking
    * is a scale-killer), and per-pair intersection is a codegen'd
    * bit_count(x & y) chain instead of an O(|set|) array intersect.
    * Set sizes are popcounts of the same bitsets, so the jaccard is
    * the hashed-universe jaccard — the standard feature-hashing
    * approximation, identical across engines.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramScoresGe05(spark, dir)
      .filter(col("jaccard") >= 0.8)
      .select("i", "j", "jaccard")
      .orderBy("i", "j")

  /** Scored pairs at jaccard ≥ 0.5 — the shared output of the one
    * expensive job in this family (the all-pairs bitset scoring).
    * Cached because [[dedupNgramJaccard]] (≥ 0.8 ⊂ ≥ 0.5) and both
    * consumers inside [[dedupThresholdSweep]] read it; the survivors
    * are a tiny fraction of the candidate pairs, so the pinned
    * relation is near-dup-sized, not corpus-squared-sized.
    */
  private def ngramScoresGe05(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("ngram_scores_ge05", spark, dir) {
      ngramJaccardScores(spark, dir, minJaccard = 0.5)
        .filter(col("jaccard") >= 0.5)
    }

  /** The build body of the `ngram_bitsets` entry: (doc_id, lang, n, v). */
  private[graft] def ngramBitsets(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(col("text")) >= 3)
      .withColumn("bs", graft.functions.NgramBitset.ngramBitset(col("text")))
      .select(col("doc_id"), col("lang"),
        col("bs.n").cast("long").as("n"), col("bs.v").as("v"))

  /** All in-block pair scores, pre-threshold — exposed so tests can
    * bound the feature-hashing drift against exact gram-set jaccard.
    *
    * `minJaccard` enables the LOSSLESS size-ratio prune for consumers
    * that will floor the score anyway: jaccard ≥ t forces
    * |A∩B| ≥ t/(1+t)·(|A|+|B|), and since |A∩B| ≤ min(|A|,|B|), any
    * pair with max(|A|,|B|) > min(|A|,|B|)/t can be skipped BEFORE
    * the 128-word bitset intersection — two scalar compares versus
    * the native popcount loop, on every candidate pair of the block
    * self-join (the one O(block²) hot loop in this family).
    */
  def ngramJaccardScores(spark: SparkSession, dir: String,
                         minJaccard: Double = 0.0,
                         exactPairBudget: Double = Dedup.NgramExactPairBudget,
                         hotBucketMin: Long = Dedup.NgramHotBucketMin,
                         hotBroadcastMaxBytes: Long = Dedup.NgramHotBroadcastMaxBytes): DataFrame = {
    // one row per doc: packed bitset words + popcount, built map-side
    // in ONE native pass per document (graft_ngram_bitset) — no gram
    // explode, no shuffle; NgramBitsetSpec pins it bit-identical to
    // the explode+groupBy SQL formulation the oracle mirrors
    val dense = graft.PlanCache.cached("ngram_bitsets", spark, dir) {
      ngramBitsets(spark, dir)
    }
    val inter = graft.functions.Vectors.bitsetInter("va", "vb")
    // the block key (lang) has cardinality ~5 → a plain equi-join
    // runs on ~5 tasks. Skew.saltedJoin salts the left side and
    // replicates the right across salts: same pairs, 32× the
    // parallelism (ScaleToolsSpec pins the task histogram under a
    // planted hot key). SHUFFLE_HASH, build=left: Catalyst would
    // otherwise broadcast the 32×-replicated right side (its
    // one-doc-per-row stats look small but each row carries a 1 KB
    // bitset — a 100+ MB driver-built hashed relation); the salted
    // join exists precisely to run this as 32 parallel hash probes.
    val a = dense.select(col("doc_id").as("i"), col("lang"),
      col("n").as("la"), col("v").as("va"))
    val b = dense.select(col("doc_id").as("j"), col("lang"),
      col("n").as("lb"), col("v").as("vb"))
    // Exact-regime pair budget (the matcher-family discipline): the
    // lang block is ~5 keys, so its pair volume grows (N/5)²·5 —
    // 2.5e8 at sf1 (measured ~10s bitset scoring), 2.5e10 at sf10
    // (the r8 sf10 exclusion). Above the budget, candidates come
    // from the SAME banded MinHash-LSH join the family's scale twin
    // runs (bounded buckets at any N, catch prob ≥ 98% at the 0.8
    // verify threshold), still scored by the EXACT bitset jaccard
    // and still lang-constrained — bounded recall, exact scores,
    // flat cost. Below the budget the plan is byte-identical to the
    // exact all-pairs form. The ≤10-row lang census is a bounded
    // driver-side scalar gate (the ExactQuantiles discipline).
    // Capped-regime candidates: banded minhash over the SAME bitsets
    // the exact path scores (see [[NgramLshBands]]) — lang rides the
    // band key so candidates are block-constrained in the join itself.
    // Map-side band build (native, no shuffle; the CACHED relation is
    // the compact per-doc signature, 500k × 40-long rows at sf10, not
    // the 40×-exploded band stream), one equi-join on
    // (lang, band_idx, band_val), bounded buckets at any N.
    //
    // MINIMAL-BAND emission: a jaccard-0.95 pair collides in ~30 of
    // the 40 bands, so the plain join emits it ~30× and a distinct()
    // must shuffle the whole duplicated pair stream — measured as a
    // 70+ GB spill at sf10 (near-dup families are 10-wide there; the
    // first r10 sweep died on it). Instead both join sides carry
    // their band ARRAY and the join keeps a match only when no
    // EARLIER band also matches — each colliding pair survives in
    // exactly one band, in-stage, so there is no distinct and no
    // pair-stream shuffle at all.
    def lshCandidates(): DataFrame = {
      val sigs = graft.PlanCache.cached("ngram_lsh_sigs", spark, dir) {
        dense.select(col("doc_id"), col("lang"),
          graft.functions.BitsetMinhash.bandKeys(
            col("v"), NgramLshBands, NgramLshRows).as("sig"))
      }
      def exploded = sigs.select(col("doc_id"), col("lang"), col("sig"),
        posexplode(col("sig")).as(Seq("band_idx", "band_val")))
      def pairJoin(left: DataFrame, right: DataFrame): DataFrame =
        left.as("ba").join(right.as("bb"),
            col("ba.lang") === col("bb.lang") &&
            col("ba.band_idx") === col("bb.band_idx") &&
            col("ba.band_val") === col("bb.band_val") &&
            col("ba.doc_id") < col("bb.doc_id") &&
            graft.functions.BitsetMinhash.noEarlierBandMatch(
              col("ba.sig"), col("bb.sig"), col("ba.band_idx")))
          .select(col("ba.doc_id").as("i"), col("bb.doc_id").as("j"))
      // HOT/COLD bucket split: a shared-key join puts a bucket's
      // ENTIRE B²/2 pair emission (and the pipelined verify behind
      // it) into the one task that owns the key — the sf10 census
      // has a 12k-doc bucket (75M pairs) and 360 buckets over 1k
      // docs (552M pairs), i.e. minutes-long single-thread tails no
      // exchange-based join can split (AQE skew handling reads input
      // bytes; these buckets are input-SMALL, output-quadratic).
      // Hot-bucket rows instead stream against a BROADCAST copy of
      // themselves: each stream row probes the map and emits its
      // matches, so the quadratic work spreads across stream rows —
      // per-task work is balanced at any bucket shape. Cold buckets
      // (bounded B) keep the shuffle-hash join. Buckets are entirely
      // hot or cold, so the union is exactly the full pair set.
      val key = Seq("lang", "band_idx", "band_val")
      val counts = exploded.groupBy(key.map(col): _*)
        .agg(count(lit(1)).as("bn"))
      val hotKeys = counts.filter(col("bn") >= hotBucketMin)
        .select(key.map(col): _*)
      // the hot stream inherits the corpus parquet's few input
      // partitions — without an explicit spread, one task still owns
      // most of the broadcast join's emission. 186 MB round-robin
      // shuffle, then every task emits its rows' matches.
      val exHot = exploded.join(broadcast(hotKeys), key, "left_semi")
        .repartition(spark.sparkContext.defaultParallelism * 4)
      val exCold = exploded.join(broadcast(hotKeys), key, "left_anti")
      // broadcast(exHot) under a measured-size gate (the bitset-side
      // discipline below): hot-row volume comes from the already-built
      // `counts` relation — a census-bounded scalar — and the fallback
      // is a salted self-join that replicates the right side
      // NgramHotSalts ways and salts the left by doc_id, so each
      // (i<j) pair still matches exactly once (j's replica salt ==
      // i mod salts) while per-task emission drops by the salt count.
      val hotRows = {
        val r = counts.filter(col("bn") >= hotBucketMin)
          .agg(sum("bn")).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      val hotBytes = hotRows * NgramHotRowBytes
      val hotFits = hotBytes <= hotBroadcastMaxBytes
      graft.GateLog.decide("dedup_ngram_jaccard.hot_side", dir,
        if (hotFits) "broadcast" else "salted_self_join",
        s"hot_rows=$hotRows est=${hotBytes}B max=${hotBroadcastMaxBytes}B" +
          (if (hotFits) "" else s" salts=$NgramHotSalts"))
      val hotPairs =
        if (hotFits) pairJoin(exHot, broadcast(exHot))
        else {
          val l = exHot.withColumn("_salt",
            pmod(col("doc_id"), lit(NgramHotSalts)).cast("int"))
          val r = exHot.withColumn("_salt",
            explode(expr(s"sequence(0, ${NgramHotSalts - 1})")))
          l.as("ba").join(r.as("bb").hint("shuffle_hash"),
              col("ba._salt") === col("bb._salt") &&
              col("ba.lang") === col("bb.lang") &&
              col("ba.band_idx") === col("bb.band_idx") &&
              col("ba.band_val") === col("bb.band_val") &&
              col("ba.doc_id") < col("bb.doc_id") &&
              graft.functions.BitsetMinhash.noEarlierBandMatch(
                col("ba.sig"), col("bb.sig"), col("ba.band_idx")))
            .select(col("ba.doc_id").as("i"), col("bb.doc_id").as("j"))
        }
      pairJoin(exCold, exCold.hint("shuffle_hash")).unionAll(hotPairs)
    }
    val langN = dense.groupBy("lang").agg(count(lit(1)).as("nl")).collect()
    val pairEst = langN.map { r =>
      val n = r.getLong(1).toDouble; n * n / 2 }.sum
    val overBudget = pairEst > exactPairBudget
    // under the LSH regime the candidate set is biased BY DECILE
    // (1−(1−s²)⁴ — near-total at the 0.8 verify threshold, ~68% at
    // 0.5), and the threshold-sweep consumer bins from 0.5 up: the
    // gate line carries the per-decile catch curve so a sweep read
    // under this regime is labeled with exactly how under-counted
    // each bin is (minJaccard < 0.8 consumers, take note)
    val catchCurve = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
      .map(s => f"s$s%.1f=${lshCatchProb(s, NgramLshBands, NgramLshRows)}%.3f")
      .mkString(" ")
    graft.GateLog.decide("dedup_ngram_jaccard.regime", dir,
      if (overBudget) "lsh_candidates" else "exact",
      f"est_pairs=$pairEst%.3g budget=$exactPairBudget%.3g langs=${langN.length}" +
        (if (overBudget) s" min_jaccard=$minJaccard" +
          s" catch_prob[b=$NgramLshBands,r=$NgramLshRows]: $catchCurve"
         else ""))
    val paired =
      if (overBudget) {
        // BROADCAST the bitset sides under a measured-size gate: the
        // candidate stream is 100M+ NARROW rows at sf10 while each
        // bitset row is ~1 KB. Any exchange-based join (sort-merge OR
        // shuffle-hash) must move the candidate stream WIDENED by the
        // first join's bitset to satisfy the second join's
        // distribution — i.e. shuffle (i, j, va) at ~1 KB/row:
        // measured as the hundreds-of-GB spill that ENOSPC'd the
        // first two r10 sf10 probes. Broadcasting the bitset table
        // (528 MB at sf10 — one in-JVM copy in local mode, one per
        // executor on a cluster) lets the band join's candidate
        // output PIPELINE through two broadcast hash probes and the
        // popcount with no wide exchange anywhere; only the ≥
        // minJaccard survivors materialize. Above the gate the plan
        // falls back to the exchange form (correct, known-expensive,
        // the gate line says so — at that scale co-bucketing both
        // relations is the cluster answer).
        val nDocs = langN.map(_.getLong(1)).sum
        val bytesEst = nDocs * (graft.functions.NgramBitset.Words * 8L + 64L)
        val fits = bytesEst <= NgramBitsetBroadcastMaxBytes
        graft.GateLog.decide("dedup_ngram_jaccard.bitset_side", dir,
          if (fits) "broadcast" else "shuffle_hash",
          s"docs=$nDocs est=${bytesEst}B max=${NgramBitsetBroadcastMaxBytes}B")
        def side(df: DataFrame) = if (fits) broadcast(df) else df.hint("shuffle_hash")
        lshCandidates()
          .join(side(a.withColumnRenamed("lang", "lang_i")), "i")
          .join(side(b.withColumnRenamed("lang", "lang_j")), "j")
          .filter(col("lang_i") === col("lang_j"))
      }
      else graft.functions.Skew.saltedJoin(
          a.hint("shuffle_hash"), b, Seq("lang"), col("i"), salts = 32)
        .filter(col("i") < col("j"))
    val pruned =
      if (minJaccard > 0)
        paired.filter(lit(minJaccard) * col("la") <= col("lb") &&
          lit(minJaccard) * col("lb") <= col("la"))
      else paired
    pruned
      .withColumn("inter", inter.cast("double"))
      .withColumn("jaccard", round(
        col("inter") / (col("la") + col("lb") - col("inter")), 6))
      .select("i", "j", "jaccard")
  }

  /** Threshold-calibration sweep: the in-block candidate pairs binned
    * by jaccard decile (≥0.5), with the cumulative pair count at or
    * above each bin — the curve a dedup operator reads to CHOOSE its
    * threshold (how many pairs does 0.8 vs 0.9 actually flag?)
    * instead of inheriting 0.8 as folklore. Bins are computed in
    * integer arithmetic on the 6-decimal-rounded score (a float
    * ×10+floor would bin 0.7-epsilon differently per engine); the
    * cumulative count is the triangular self-join over ≤6 bin rows,
    * never a global window. Shares the scored-pairs subtree with
    * [[dedupNgramJaccard]] under the PlanCache.
    */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    // bins sit on the cached ≥0.5 scores, so the per-bin column and
    // the cumulative self-join each re-scan a near-dup-sized pinned
    // relation — NOT the O(pairs) scoring subtree
    val bins = ngramScoresGe05(spark, dir)
      .withColumn("bin_x10", expr(
        "CAST(round(jaccard * 1000000) AS BIGINT) div 100000"))
      .groupBy("bin_x10").agg(count(lit(1)).as("n_pairs"))
    val cum = bins.as("a")
      .join(broadcast(bins.as("b")), col("b.bin_x10") >= col("a.bin_x10"))
      .groupBy(col("a.bin_x10").as("bin_x10"))
      .agg(sum(col("b.n_pairs")).as("n_pairs_at_or_above"))
    bins.join(cum, "bin_x10").orderBy(col("bin_x10").desc)
  }

  /** Cross-method agreement matrix for the near-dup detectors: every
    * pair flagged by exact-hash, MinHash-LSH, hashed-ngram-jaccard,
    * or SimHash-bucket dedup, counted per method COMBINATION — the
    * calibration table that tells a pipeline owner which methods
    * subsume which (exact ⊂ minhash in theory; disagreements are
    * threshold artifacts worth reading before picking one detector
    * at 100 TB).
    *
    * Scale shape: each method's pair relation is MATERIALIZED once
    * per corpus into a persisted parquet table (the
    * [[dedupIndexProbe]] / [[Similarity.ensureIndex]] staging
    * discipline — fingerprint-keyed, atomically published), built
    * SEQUENTIALLY so no two methods' shuffle working sets ever share
    * the scratch disk (the r9 form unioned all four LIVE pipelines
    * into one job: standalone at sf10 the combined spill footprint
    * cost 1018 s and ENOSPC'd the shared sweep). The audit itself
    * then reads four bounded near-dup-sized parquet relations: one
    * (i, j) shuffle with map-side max-combine + a 16-row rollup. The
    * ngram side rides the SAME cached ≥0.5 scored pairs as the rest
    * of its family during the build; the trailing per-method oracle
    * sorts are stripped ([[graft.functions.Unordered]]) so no global
    * sort survives below the aggregation.
    */
  def dedupMethodAgreement(spark: SparkSession, dir: String): DataFrame = {
    def pairs(df: DataFrame): DataFrame =
      graft.functions.Unordered(df).select("i", "j")
    def exactPairs(): DataFrame = {
      val d = Tables.documents(spark, dir)
        .select(col("doc_id"), md5(col("text")).as("h"))
      d.as("a").join(d.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
    }
    val methods: Seq[(String, () => DataFrame)] = Seq(
      "f_exact" -> (() => exactPairs()),
      "f_minhash" -> (() => pairs(dedupMinhashLsh(spark, dir))),
      "f_ngram" -> (() => pairs(dedupNgramJaccard(spark, dir))),
      "f_simhash" -> (() => pairs(dedupSimhash(spark, dir))))
    val names = methods.map(_._1)
    val idx = Similarity.ensureIndex(dir, "graft_dedup_pairs", names,
      stage => methods.foreach { case (n, f) =>
        f().write.mode("overwrite").parquet(s"$stage/$n")
      },
      srcFile = "documents.parquet")
    val flagged = names.map { n =>
      val df = spark.read.parquet(s"$idx/$n")
      names.foldLeft(df) { (acc, m) =>
        acc.withColumn(m, lit(if (m == n) 1L else 0L))
      }
    }.reduce(_ unionAll _)
    flagged.groupBy("i", "j")
      .agg(max(names.head).as(names.head),
        names.tail.map(m => max(m).as(m)): _*)
      .groupBy(names.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(names.map(col): _*)
  }

  /** Substring-level duplication: docs sharing verbatim 64-char
    * blocks. Overlapping chunks (stride 32) are hashed map-side; docs
    * are candidate pairs when they share a chunk hash (equi-join on
    * the hash — fixed-width join keys, never the chunk text), and a
    * pair is reported when the shared chunks cover ≥ 50% of the
    * smaller doc's chunk set (containment, not jaccard — catches a
    * small doc embedded in a big one, which symmetric measures miss).
    * Chunk hashes occurring in more than 100 docs are dropped before
    * the self-join — the max_df analog for boilerplate blocks, which
    * would otherwise make one hot hash quadratic.
    */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    // per-doc distinct chunk-hash SET built map-side (array_distinct
    // over ~len/32 chunks), so the doc's chunk count rides along with
    // every posting row — no global distinct shuffle, no separate
    // per-doc count aggregation, no count joins back onto the pairs
    // chunk keys are xxhash64 longs (the word5_grams discipline): h
    // crosses the df aggregate, the pair self-join, and the cached
    // relation itself — 8 bytes instead of a 32-char md5 string, same
    // equality classes, collisions surface at the oracle hash gate
    val posting = graft.PlanCache.cached("substring_posting", spark, dir) {
      Tables.documents(spark, dir)
        .filter(length(col("text")) >= 64)
        .select(col("doc_id"), array_distinct(expr(
          "transform(sequence(0, CAST(floor((length(text)-64)/32.0) AS INT)), c -> xxhash64(substring(text, c*32+1, 64)))"))
          .as("hs"))
        .select(col("doc_id"), size(col("hs")).cast("long").as("n"),
          explode(col("hs")).as("h"))
    }
    val keep = posting.groupBy("h").agg(count(lit(1)).as("dfh"))
      .filter(col("dfh") <= 100)
    val pruned = posting.join(keep.select("h"), "h")
    pruned.select(col("doc_id").as("i"), col("n").as("ni"), col("h"))
      .join(pruned.select(col("doc_id").as("j"), col("n").as("nj"), col("h")), "h")
      .filter(col("i") < col("j"))
      .groupBy("i", "j", "ni", "nj").agg(count(lit(1)).as("n_shared"))
      .withColumn("containment", round(
        col("n_shared").cast("double") / least(col("ni"), col("nj")).cast("double"), 6))
      .filter(col("containment") >= 0.5)
      .select("i", "j", "n_shared", "containment")
      .orderBy("i", "j")
  }

  /** Benchmark contamination scan: which training docs share enough
    * word-5-grams with a held-out benchmark set to be leaks (the
    * n-gram-overlap decontamination step every LLM data pipeline runs
    * against its eval suites). Benchmark membership here is the
    * deterministic doc_id % 10 == 0 slice standing in for an external
    * eval table; grams are hashed so the join moves fixed-width keys.
    * No broadcast HINT on the benchmark side: here it is a fixed
    * fraction of the corpus's distinct 5-grams, so it grows with the
    * data and a forced broadcast would eventually blow the driver.
    * AQE's size statistics pick broadcast exactly when the benchmark
    * side is genuinely small (a real external eval suite — millions
    * of gram rows, bounded) and fall back to a shuffled hash join
    * when it isn't; the hint belongs only on a table whose size is
    * known-bounded by construction.
    */
  /** Distinct word-5-gram hashes per doc — shared by the
    * decontamination gate, the novelty profile, and (via
    * [[fiveGramDf]]) the cross-doc dup-mass metric. Keys are
    * xxhash64 of the 5 tokens (8-byte longs, the dup-mass shuffle
    * discipline — these keys cross a df aggregate and two hash
    * joins; the md5-of-string form shuffled 32-char keys), and the
    * map-side array_distinct dedups LONGS before the explode. Token
    * equality == 5-tuple equality, the oracle keeps raw gram
    * strings, and a 64-bit collision would surface as a hash
    * mismatch at the gate (none at any SF).
    */
  private[operators] def fiveGrams(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("word5_grams", spark, dir) {
      Tables.documents(spark, dir)
        .withColumn("t", tokensCol)
        .filter(size(col("t")) >= 5)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(1, size(t)-4), " +
            "i -> xxhash64(element_at(t, i), element_at(t, i + 1), " +
            "element_at(t, i + 2), element_at(t, i + 3), " +
            "element_at(t, i + 4)))")))
          .as("h"))
    }

  /** Per-gram document frequency (h, df) over [[fiveGrams]] — the
    * ONE gram-keyed counting aggregate that [[textNgramNovelty]]
    * (novel/common split) and [[TextAnalysis.textDupNgramMass]]
    * (docs-per-gram dup flag) both need, shared under the PlanCache
    * so the second consumer reads |distinct grams| cached rows
    * instead of re-aggregating the corpus.
    */
  private[operators] def fiveGramDf(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("word5_df", spark, dir) {
      fiveGrams(spark, dir).groupBy("h").agg(count(lit(1)).as("df"))
    }

  def contaminationNgram(spark: SparkSession, dir: String): DataFrame = {
    val grams = fiveGrams(spark, dir)
    val bench = grams.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("bench_id"), col("h"))
    val train = grams.filter(col("doc_id") % 10 =!= 0)
    train.join(bench, "h")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy("doc_id", "bench_id")
  }

  /** Per-doc n-gram NOVELTY profile: what fraction of a document's
    * distinct word-5-grams appear in no other document (df = 1) vs
    * in ≥ 5 documents — the original-content-vs-boilerplate
    * decomposition that complements pairwise dedup: a doc can have
    * NO near-duplicate yet be 90% template, and this is the signal
    * that catches it (the substring-dedup chunk-df idea at the
    * curation-score grain).
    *
    * Scale shape: the shared distinct-gram relation, one gram-keyed
    * df aggregate (map-side combine), one hash join back, one
    * doc-keyed conditional aggregation — every shuffle is on a
    * well-distributed hash key.
    */
  def textNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = fiveGrams(spark, dir)
    val dfreq = fiveGramDf(spark, dir)
    grams.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"),
        sum(when(col("df") >= 3, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_grams"),
        round(col("n_novel").cast("double") / col("n_grams"), 6).as("novelty"),
        round(col("n_common").cast("double") / col("n_grams"), 6).as("common_frac"))
      .orderBy("doc_id")
  }

  /** Connected components over the near-duplicate graph (edges =
    * fingerprint-identical doc pairs): iterative min-label
    * propagation to a fixpoint, the clustering step that turns
    * pairwise dedup hits into keep-one-per-cluster decisions.
    * Label propagation halves eccentricity per round (log-diameter
    * rounds); each round is one join + aggregate.
    */
  /** Canonical-member election over near-dup families: for every
    * duplicate family (same normalized-token fingerprint as
    * [[dedupComponents]]), elect the LONGEST member as the keeper
    * (tie → smallest doc_id) — the curation policy that keeps the
    * most complete copy of boilerplate-wrapped content instead of
    * whichever id sorts first. One row per family member with the
    * family id, its size, and the keep/drop verdict.
    *
    * Scale shape: one fingerprint groupBy (the election is a single
    * max(struct) aggregate — no per-family window over the corpus),
    * then one equi-join back on the fingerprint. Families are the
    * join key, so a degenerate family (millions of identical docs)
    * skews one key — the same salting tools as every other family
    * join apply; the aggregate itself is map-side combinable.
    */
  /** Per-doc normalized-token-set fingerprint (doc_id, fp, n_tokens)
    * — the sorted-distinct-token md5 that three operators key
    * families on ([[dedupKeepBest]] twice: election + member join;
    * [[dedupComponents]]' star edges; `TextAnalysis.textFingerprint`).
    * The per-doc array_sort + md5 is the measured map-side cost, so
    * the |docs|-row narrow result is the thing to cache, not re-derive
    * once per consumer (and twice inside one query).
    */
  private[operators] def docFingerprints(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("doc_fp", spark, dir) {
      Tables.documents(spark, dir)
        .withColumn("t", split(col("text"), "\\s+"))
        .withColumn("fp", md5(array_join(array_sort(array_distinct(col("t"))), " ")))
        .withColumn("n_tokens", size(col("t")).cast("long"))
        .select("doc_id", "fp", "n_tokens")
    }

  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val fp = docFingerprints(spark, dir)
    // keeper via max(struct(n_tokens, -doc_id)): max tokens, then the
    // SMALLEST id among equals (negation flips min into the max)
    val fam = fp.groupBy("fp")
      .agg(count(lit(1)).as("n_members"), min("doc_id").as("component"),
        max(struct(col("n_tokens"), (-col("doc_id")).as("neg"))).as("k"))
      .filter(col("n_members") > 1)
      .select(col("fp"), col("component"), col("n_members"),
        (-col("k.neg")).as("keeper"))
    fp.join(fam, "fp")
      .select(col("doc_id"), col("component"), col("n_members"), col("n_tokens"),
        when(col("doc_id") === col("keeper"), 1).otherwise(0).as("is_keeper"))
      .orderBy("doc_id")
  }

  def dedupComponents(spark: SparkSession, dir: String): DataFrame = {
    val fp = docFingerprints(spark, dir).select("doc_id", "fp")
    // star topology per fingerprint family (hub = min doc): the same
    // components as clique edges but O(n) edges per family instead of
    // O(n²) — a degenerate family (e.g. millions of empty docs) stays
    // linear.
    val hub = fp.groupBy("fp")
      .agg(min("doc_id").as("hub"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
    val edges = fp.join(hub, "fp")
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("src"), col("doc_id").as("dst"))
    // cache the converged fixpoint (bounded: one row per duplicated
    // doc) — repeated reads must not re-run the propagation rounds.
    // labelPropagate returns a materialized frame, which the cache
    // keeps as it is instead of storing it a second time.
    graft.PlanCache.cached("dedup_components_labels", spark, dir) {
      labelPropagate(edges)
    }.orderBy("id")
  }

  /** Min-label propagation to a fixpoint over an undirected edge list
    * (src, dst): every node ends up labeled with the smallest node id
    * in its connected component. Each round combines a neighbor-min
    * step (labels move one hop along edges) with a pointer-jumping
    * step (each label chases its own label — component ids ARE node
    * ids, so one self-join doubles the distance a label has
    * travelled). Together the reach roughly doubles per round →
    * log-diameter rounds even on path-shaped components, where
    * neighbor-min alone needs diameter rounds.
    */
  def labelPropagate(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    import graft.PlanCache.{materialize, release}
    // materialize edges before the union: bidir's two branches (and
    // every round) would otherwise each re-evaluate the (possibly
    // expensive) edge lineage
    val e = materialize(edges)
    val bidir = e.unionByName(
      e.select(col("dst").as("src"), col("src").as("dst")))
    var labels = materialize(bidir.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")))
    // convergence probe: labels are min-monotone (each round takes a
    // least()), so ANY change strictly decreases sum(component) — one
    // cheap aggregate per round instead of a join+filter+count of
    // old-vs-new labels. decimal(38,0) so giant id sums can't wrap.
    // sum over an EMPTY relation is null (edge-free input — e.g. a
    // corpus with no duplicate families): normalize to 0 so the first
    // round compares cleanly and the loop exits.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("component").cast("decimal(38,0)"))).head()
        .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var changed = true
    var rounds = 0
    while (changed && rounds < maxRounds) {
      val viaNeighbors = bidir
        .join(labels.withColumnRenamed("id", "dst2"),
          col("dst") === col("dst2"))
        .groupBy(col("src").as("id"))
        .agg(min("component").as("nbr_min"))
      // each round is materialized, which truncates the lineage —
      // without it the plan re-grows per round and re-optimization/
      // stack cost compounds at many rounds.
      val merged = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
      // pointer jump from round 2 on: l(v) := min(l(v), l(l(v))) —
      // labels are min-monotone (l(x) <= x) so chasing only shrinks
      // them, and reach doubles per round (log-diameter on chains).
      // Round 1 skips it: diameter-≤2 components (the fingerprint
      // star families, by far the common case) already finish on the
      // plain neighbor-min and shouldn't pay the extra join. The
      // jump input is materialized since the self-join reads it twice.
      val next = if (rounds == 0) materialize(merged) else {
        val m = materialize(merged)
        val jumped = materialize(
          m.join(m.select(col("id").as("cid"), col("component").as("ccomp")),
              m("component") === col("cid"), "left")
            .select(m("id"),
              least(m("component"), coalesce(col("ccomp"), m("component")))
                .as("component")))
        release(m)
        jumped
      }
      val s = labelSum(next)
      changed = s.compareTo(prevSum) != 0
      prevSum = s
      release(labels)
      labels = next
      rounds += 1
    }
    release(e)
    labels
  }

  /** SemDeDup-style semantic dedup: coarse-cluster the corpus (one
    * assignment round against the k=8 seed centroids — the identical
    * formulation, and the identical PlanCache'd vector relation, as
    * [[Similarity.clusterKmeans]] round 1), then hunt near-duplicates
    * ONLY within a cluster: a vector is dropped when an earlier
    * (smaller-id) same-cluster vector has cosine ≥ τ, and records
    * which one (min such id) so the drop is explainable.
    *
    * This is the scale story of semantic dedup: clustering first
    * turns the O(N²) cosine search into k independent O((N/k)²)
    * blocks — and at 100 TB, k grows with the corpus so the block
    * size stays bounded. The block key has tiny cardinality, so the
    * self-join salts the left side and replicates the right across
    * salts (same pairs, salts× tasks), exactly like [[dedupEmbedNn]].
    * τ=0.3 ≈ the p99 pair cosine of this synthetic corpus — real
    * embedding spaces use 0.9+; the machinery is threshold-agnostic.
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val tau = 0.3
    val assigned = Similarity.seedAssignment(spark, dir, 8)
      .select("vec_id", "cluster")
    val withC = Similarity.kmeansVecs(spark, dir)
      .withColumn("norm", sqrt(col("n2")))
      .join(assigned, "vec_id")
    val salts = 32
    val left = withC.select(col("cluster"), col("vec_id").as("i"),
      col("v").as("vi"), col("norm").as("ni"),
      (col("vec_id") % salts).cast("int").as("salt"))
    val right = withC.select(col("cluster"), col("vec_id").as("j"),
      col("v").as("vj"), col("norm").as("nj"))
      .withColumn("salt", explode(expr(s"sequence(0, ${salts - 1})")))
    val hits = left.join(right, Seq("cluster", "salt"))
      .filter(col("j") < col("i"))
      .withColumn("cosine", round(
        graft.functions.VectorExprs.dot(col("vi"), col("vj"))
          / (col("ni") * col("nj")), 6))
      .filter(col("cosine") >= tau)
      .groupBy("i")
      .agg(min("j").as("dup_of"), max("cosine").as("max_cos"))
    assigned.join(hits, col("vec_id") === col("i"), "left_outer")
      .select(col("vec_id"), col("cluster"),
        when(col("dup_of").isNull, "keep").otherwise("drop").as("verdict"),
        col("dup_of"), col("max_cos"))
      .orderBy("vec_id")
  }

  /** Embedding near-dup: top-1 cosine neighbor per vector inside its
    * label block (IVF-style coarse partition). Ranks on the rounded
    * cosine so cross-engine float drift can't flip the argmax.
    */
  def dedupEmbedNn(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.embeddings(spark, dir)
    val e = raw.select(
      col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("norm", graft.functions.Vectors.normHof("v"))
    // the block key (label) has tiny cardinality → salt the left side
    // and replicate the right across salts: same pairs, 32x tasks
    val salts = 32
    val pairs = e.select(col("vec_id").as("i"), col("label"), col("v").as("va"), col("norm").as("na"),
        (col("vec_id") % salts).cast("int").as("salt"))
      .join(e.select(col("vec_id").as("j"), col("label"), col("v").as("vb"), col("norm").as("nb"))
          .withColumn("salt", explode(expr(s"sequence(0, ${salts - 1})"))),
        Seq("label", "salt"))
      .filter(col("i") =!= col("j"))
      .withColumn("dot", graft.functions.Vectors.dot("va", "vb"))
      .withColumn("cosine", round(col("dot") / (col("na") * col("nb")), 6))
    // argmax via max(struct): map-side partial aggregation, no
    // all-pairs shuffle into a window. (cosine desc, j asc) total
    // order via negated key.
    pairs.groupBy("i")
      .agg(max(struct(col("cosine"), (-col("j")).as("nj"))).as("m"))
      .select(col("i").as("vec_id"), (-col("m.nj")).as("nn_id"),
        col("m.cosine").as("cosine"))
      .orderBy("vec_id")
  }

  /** Cross-document repeated-segment (boilerplate) detector: carve
    * each document into consecutive non-overlapping 10-token segments
    * and report every segment recurring in ≥ 3 DISTINCT documents —
    * the pre-pass that surfaces template boilerplate (headers,
    * footers, nav bars, license blocks) that document-granularity
    * exact/near dedup cannot see. The reference strips boilerplate
    * per page (clean_common_crawl.py:46, BeautifulSoup get_text); at
    * corpus scale the repeated-segment table IS the boilerplate list
    * a cleaning pass subtracts.
    *
    * Scale shape: the segment carve is one map-side explode, linear
    * in corpus tokens; then the distinct-count-relation pattern —
    * groupBy (segment, doc) with map-side combine collapses
    * within-doc repeats BEFORE the per-segment count, so n_docs is a
    * plain count with no count(DISTINCT) Expand, and the segment
    * shuffle carries one row per (segment, doc), not per occurrence.
    */
  def dedupParagraphs(spark: SparkSession, dir: String): DataFrame = {
    val segLen = 10
    val segs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), "\\s+").as("t"))
      .filter(size(col("t")) >= segLen)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(t) div $segLen), " +
          s"i -> array_join(slice(t, (i-1)*$segLen+1, $segLen), ' '))"))
        .as("segment"))
    // The segment carve (transform + slice + array_join) runs
    // INTERPRETED — it dominates this query, so the plan's job is to
    // carve exactly ONCE: the two stacked aggregations consume the
    // single carved stream through one exchange chain. (A hash-keyed
    // variant that re-carved for a text-recovery join measured
    // strictly worse: the second carve cost more than the string
    // shuffle it saved.)
    segs.groupBy("segment", "doc_id").agg(count(lit(1)).as("occ"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occ"))
      .filter(col("n_docs") >= 3)
      .orderBy(col("n_docs").desc, col("segment"))
  }

  /** Cross-source duplicate matrix: for every source pair (a ≤ b),
    * the count of distinct content hashes they SHARE, with the
    * overlap coefficient |A∩B| / min(|A|,|B|) — the inter-feed
    * leakage table that drives mixture weights and dedup ordering in
    * a multi-source corpus (two crawls of the same sites must not
    * both be upweighted). Diagonal rows carry each source's own
    * distinct-hash count, so the matrix is also the per-source dedup
    * census.
    *
    * Scale shape: the (hash, source) relation is one DISTINCT
    * projection (shuffles 16-byte digests, never text); the pair join
    * is an equi-join ON THE HASH, so candidates are bounded by
    * |sources|² per hash family — never all-pairs of docs; the rollup
    * carries ≤|sources|² keys. ≤|sources|² rows out.
    */
  def dedupCrossSource(spark: SparkSession, dir: String): DataFrame = {
    val hs = Tables.documents(spark, dir)
      .select(md5(col("text")).as("h"), col("source")).distinct()
    val perSource = hs.groupBy("source").agg(count(lit(1)).as("nh"))
    val pairs = hs.as("a")
      .join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.source") <= col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(perSource
        .select(col("source").as("source_a"), col("nh").as("n_a"))),
        "source_a")
      .join(broadcast(perSource
        .select(col("source").as("source_b"), col("nh").as("n_b"))),
        "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        round(col("n_shared").cast("double") / least(col("n_a"), col("n_b")),
          6).as("overlap_coef"))
      .orderBy("source_a", "source_b")
  }

  /** Dedup impact by source: after exact content dedup with the
    * min-id keeper policy, how many of each source's docs survive —
    * the curation-impact report that tells you WHOSE mixture weight
    * the dedup silently changed (a source that loses 40% of its docs
    * to another feed's duplicates needs its weight recomputed on the
    * POST-dedup census, or the mixture is wrong). Cross-feed loss is
    * attributed to the source that held the non-kept copy.
    *
    * Scale shape: families from the digest groupBy (shuffles 16-byte
    * hashes + the min-id argmin — map-side combine); the keeper flag
    * is one equi-join back on the hash; ONE |sources|-key rollup.
    * |sources| rows out.
    */
  def dedupSourceSurvival(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val fam = d.groupBy("h").agg(min("doc_id").as("keeper"))
    val cells = d.join(fam, "h")
      .withColumn("removed",
        (col("doc_id") =!= col("keeper")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("removed").as("n_removed"))
    cells.select(col("source"), col("n_docs"),
        (col("n_docs") - col("n_removed")).as("n_kept"),
        col("n_removed"),
        round(col("n_removed").cast("double") / col("n_docs"), 6)
          .as("removed_share"))
      .orderBy("source")
  }
}

