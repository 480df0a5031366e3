package graft

import org.apache.spark.sql.functions.col

/** Round-9 batch 1: pair-budget gates on the exact matcher family and
  * the GateLog decision record.
  */
class R9Batch1Spec extends SparkSpec {

  test("tfidf pair budget: capped regime scores admitted pairs exactly") {
    val exact = operators.Matching.matchTfidfTopk(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // force the gate: any budget below (nDocs/2)^2 flips to capped
    val capped = operators.Matching.matchTfidfTopk(spark, sf,
      denseVocabMax = 4096, exactPairBudget = 10.0).collect()
    assert(graft.GateLog.lastDecision("match_tfidf_topk.regime", sf)
      .exists(_.chosen == "capped"))
    // the capped regime reduces the CANDIDATE set only — any (i, best)
    // it does emit carries a score the exact regime reproduces for
    // the same pair, or a lower-scored candidate when the exact best
    // was not admitted; scores are exact per admitted pair, so the
    // capped score can never exceed the exact best for that query
    val exactPairScore = operators.Matching.matchTfidfTopk(spark, sf)
    assert(capped.length <= exact.size)
    for (r <- capped) {
      val (i, s) = (r.getLong(0), r.getDouble(2))
      assert(exact.contains(i), s"query $i absent from exact output")
      assert(s <= exact(i)._2 + 1e-9,
        s"capped score $s exceeds exact best ${exact(i)._2} for query $i")
    }
  }

  test("bm25 pair budget: capped regime bounded and never beats exact") {
    val exact = operators.Matching.matchBm25Topk(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val capped = operators.Matching.matchBm25Topk(spark, sf,
      denseVocabMax = 4096, exactPairBudget = 10.0).collect()
    assert(graft.GateLog.lastDecision("match_bm25_topk.regime", sf)
      .exists(_.chosen == "capped"))
    assert(capped.length <= exact.size)
    for (r <- capped) {
      val (i, s) = (r.getLong(0), r.getDouble(2))
      assert(exact.contains(i))
      assert(s <= exact(i) + 1e-9)
    }
  }

  test("gate decisions pin at sf1/sf10-shaped stats (arithmetic, no data)") {
    // the pair-budget gates are pure functions of measured counts.
    // The default budget is the measured dense-vs-capped crossover
    // (Matching.ExactPairBudget ≈ 3e9: dense ~2e7 pairs/s vs ~flat
    // ~150s capped): sf1 (50k docs → 6.25e8 pairs) must stay on the
    // FASTER dense-exact regime — the 5e7 budget of the first cut
    // flipped it to capped and measured 5x slower — while sf10-shaped
    // corpora (500k docs → 6.25e10) must go capped
    def tfidfChoice(nDocs: Long, budget: Double): String =
      if ((nDocs / 2.0) * (nDocs / 2.0) > budget) "capped" else "exact"
    val budget = operators.Matching.ExactPairBudget
    assert(tfidfChoice(50000, budget) == "exact")
    assert(tfidfChoice(5000, budget) == "exact")
    assert(tfidfChoice(500000, budget) == "capped")
    assert(tfidfChoice(5000000, budget) == "capped")
    // and the below-budget default at the spec scale factor really is
    // what ran: the exact regimes above logged dense/sparse, not capped
    val d = graft.GateLog.lastDecision("match_tfidf_topk.regime", sf)
    assert(d.isDefined)
  }

  test("fellegi-sunter: name-blocked pair census matches a local recompute") {
    def norm(s: String): String =
      s.trim.toLowerCase.split("\\s+").sorted.mkString(" ")
    val cs = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal")).collect()
      .map(r => (r.getLong(0), norm(r.getString(1)),
        math.floor(r.getDouble(2) / 1000.0), r.getLong(0) % 10))
    val ss = Tables.supplier(spark, sf)
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal")).collect()
      .map(r => (r.getLong(0), norm(r.getString(1)),
        math.floor(r.getDouble(2) / 1000.0), r.getLong(0) % 10))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // multi-pass name block: prefix-2 OR suffix-4 agreement admits
    val want = (for {
      (ck, cn, cb, cd) <- cs
      (sk, sn, sb, sd) <- ss
      if cn.take(2) == sn.take(2) || cn.takeRight(4) == sn.takeRight(4)
    } yield {
      val sim = 1.0 - lev(cn, sn).toDouble / math.max(cn.length, sn.length)
      (if (sim >= 0.65) 1 else 0, if (cb == sb) 1 else 0,
        if (cd == sd) 1 else 0)
    }).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = operators.Matching.matchFellegiSunter(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    assert(got == want, s"pattern census mismatch: got $got want $want")
  }
}

class R9AHashSpec extends SparkSpec {
  import multimodal.BinaryColumns.FakeDecoder

  // deterministic textured test image: per-pixel function of (x, y,
  // seed) so near-dups (same seed, few pixels perturbed) and
  // unrelated images (different seed) are both constructible
  private def img(w: Int, h: Int, seed: Int,
                  perturb: Set[(Int, Int)] = Set.empty): java.awt.image.BufferedImage = {
    val bi = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = math.abs((x * 31 + y * 17 + seed * 131) * 2654435761L).toInt
      val base = 0x010101 * ((v >>> 8) & 0xff)
      bi.setRGB(x, y, if (perturb((x, y))) base ^ 0xffffff else base)
    }
    bi
  }

  private def pngBytes(bi: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", bos)
    bos.toByteArray
  }

  test("averageHash64 matches a straight-line recompute on exact-division grids") {
    // 16x16: each aHash cell is an exact 2x2 box — the straight-line
    // reference pools independently of the kernel's single-pass loop
    val bi = img(16, 16, seed = 7)
    val got = FakeDecoder.averageHash64(pngBytes(bi))
    val lum = Array.tabulate(16, 16) { (y, x) =>
      val p = bi.getRGB(x, y)
      299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)
    }
    val cell = Array.tabulate(8, 8) { (cy, cx) =>
      (lum(2 * cy)(2 * cx) + lum(2 * cy)(2 * cx + 1) +
        lum(2 * cy + 1)(2 * cx) + lum(2 * cy + 1)(2 * cx + 1)).toDouble / 4
    }
    val grid = cell.flatten.sum / 64.0
    var want = 0L
    for (cy <- 0 until 8; cx <- 0 until 8)
      if (cell(cy)(cx) > grid) want |= 1L << (cy * 8 + cx)
    assert(got == want, f"kernel $got%016x != reference $want%016x")
  }

  test("near-dup images rank above the unrelated-pair noise floor") {
    // 10 base images; each gets a near-dup with 5 perturbed pixels
    // out of 1024 (an edit/re-encode-scale change)
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val hashes = (0 until 10).map { s =>
      val base = FakeDecoder.averageHash64(pngBytes(img(32, 32, s)))
      val near = FakeDecoder.averageHash64(pngBytes(img(32, 32, s,
        perturb = Set((1, 1), (5, 9), (17, 3), (22, 28), (30, 30)))))
      (base, near)
    }
    val nearD = hashes.map { case (a, b) => ham(a, b) }
    val unrelatedD = for (i <- hashes.indices; j <- hashes.indices if i < j)
      yield ham(hashes(i)._1, hashes(j)._1)
    val worstNear = nearD.max
    val medUnrel = unrelatedD.sorted.apply(unrelatedD.size / 2)
    assert(worstNear <= 10,
      s"near-dup Hamming distances too large: $nearD")
    assert(medUnrel >= 20,
      s"unrelated pairs sit below the expected noise floor: $unrelatedD")
    assert(worstNear < medUnrel,
      s"near-dups ($nearD) must rank above the noise floor ($medUnrel)")
  }
}
