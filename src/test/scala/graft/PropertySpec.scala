package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Generator-driven property pins for the native expressions — the
  * invariants that example-based specs undersample: random inputs,
  * compared against independent straight-line reference
  * implementations computed JVM-side. Inputs are generated with
  * ScalaCheck under a FIXED seed and evaluated in one Spark pass per
  * property (per-sample Spark jobs would be 200× slower).
  */
class PropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(seed))

  // full-matrix reference Levenshtein (the thing BoundedLev bands)
  private def refLev(s: String, t: String): Int = {
    val d = Array.tabulate(s.length + 1, t.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to s.length; j <- 1 to t.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (s.charAt(i - 1) == t.charAt(j - 1)) 0 else 1))
    d(s.length)(t.length)
  }

  test("BoundedLev: exact at/above the threshold, never falsely above it") {
    import spark.implicits._
    val word = Gen.choose(0, 24).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val pairs = sample(Gen.zip(word, word), 400, 42L)
    val out = pairs.toDF("a", "b")
      .withColumn("sim", graft.functions.BoundedLev.sim(col("a"), col("b"), 0.5))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    out.foreach { case (a, b, got) =>
      val maxLen = math.max(a.length, b.length)
      val ref = if (maxLen == 0) 1.0 else 1.0 - refLev(a, b).toDouble / maxLen
      if (ref >= 0.5)
        assert(got == ref, s"'$a' vs '$b': banded $got != exact $ref")
      if (got >= 0.5)
        assert(got == ref, s"'$a' vs '$b': claimed $got but exact is $ref")
      if (got < 0.5)
        assert(got == -1.0 || got == ref,
          s"'$a' vs '$b': below-threshold value must be exact or the -1 sentinel")
    }
  }

  test("graft_hex_long: agrees with BigInt parsing on md5 prefixes") {
    import spark.implicits._
    val strs = sample(Gen.alphaNumStr.map(_.take(30)), 200, 11L)
    for (d <- Seq(1, 3, 8, 15)) {
      val out = strs.toDF("s")
        .withColumn("h", md5(col("s")))
        .withColumn("v", graft.functions.HexExprs.hexPrefixLong(md5(col("s")), d))
        .collect().map(r => (r.getString(1), r.getLong(2)))
      out.foreach { case (hex, v) =>
        assert(v == java.lang.Long.parseLong(hex.take(d), 16),
          s"digits=$d hex=$hex got=$v")
      }
    }
  }

  // independent Jaro-Winkler over UTF-8 bytes (collect-matched-
  // sequences formulation — the expression under test walks flag
  // arrays instead)
  private def refJaroWinkler(a: String, b: String): Double = {
    val s = a.getBytes("UTF-8")
    val t = b.getBytes("UTF-8")
    if (s.isEmpty || t.isEmpty) return 0.0
    val win = math.max(0, math.max(s.length, t.length) / 2 - 1)
    val used = new Array[Boolean](t.length)
    val ms = scala.collection.mutable.ArrayBuffer.empty[Byte]
    for (i <- s.indices) {
      var j = math.max(0, i - win)
      val hi = math.min(t.length - 1, i + win)
      var done = false
      while (j <= hi && !done) {
        if (!used(j) && s(i) == t(j)) { used(j) = true; ms += s(i); done = true }
        j += 1
      }
    }
    if (ms.isEmpty) return 0.0
    val mt = t.indices.filter(used).map(t(_))
    val m = ms.length.toDouble
    val trans = ms.zip(mt).count { case (x, y) => x != y } / 2.0
    val jaro = (m / s.length + m / t.length + (m - trans) / m) / 3.0
    if (jaro <= 0.7) jaro
    else {
      val l = s.zip(t).take(4).takeWhile { case (x, y) => x == y }.size
      jaro + l * 0.1 * (1.0 - jaro)
    }
  }

  test("JaroWinkler: equals the reference formulation; symmetric; bounded") {
    import spark.implicits._
    // small alphabet + shared prefixes force matches, transpositions,
    // and the Winkler boost region; include multi-byte chars (the
    // expression compares UTF-8 BYTES — DuckDB's unit)
    val word = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd', 'é')).map(_.mkString))
    val prefixed = for {
      p <- word; x <- word; y <- word
    } yield (p + x, p + y)
    val pairs = sample(Gen.oneOf(Gen.zip(word, word), prefixed), 500, 97L)
    val out = pairs.toDF("a", "b")
      .withColumn("ab", graft.functions.JaroWinkler.sim(col("a"), col("b")))
      .withColumn("ba", graft.functions.JaroWinkler.sim(col("b"), col("a")))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    out.foreach { case (a, b, ab, ba) =>
      val ref = refJaroWinkler(a, b)
      assert(ab == ref, s"'$a' vs '$b': $ab != ref $ref")
      assert(ab == ba, s"'$a' vs '$b': asymmetric ($ab vs $ba)")
      assert(ab >= 0.0 && ab <= 1.0)
      if (a == b && a.nonEmpty) assert(ab == 1.0)
    }
  }

  // independent trigram bitset: codepoint-sliced grams, md5 via
  // MessageDigest, bits in a java.util.BitSet — none of the
  // expression's byte-offset walk or reused-buffer machinery
  private def refNgramBits(s: String): java.util.BitSet = {
    val bits = new java.util.BitSet(4096)
    val cps = s.codePoints().toArray
    for (i <- 0 to cps.length - 3) {
      val gram = new String(cps, i, 3)
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(gram.getBytes("UTF-8"))
      bits.set(((d(0) & 0xff) << 4) | ((d(1) >> 4) & 0xf))
    }
    bits
  }

  test("NgramBitset: word layout and popcount equal an independent BitSet build") {
    import spark.implicits._
    val txt = Gen.choose(0, 24).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(Gen.alphaLowerChar, Gen.const(' '),
        Gen.oneOf('é', 'ß', '中'))).map(_.mkString))
    val docs = sample(txt, 300, 61L)
    val out = docs.toDF("t")
      .withColumn("bs", graft.functions.NgramBitset.ngramBitset(col("t")))
      .select(col("t"), col("bs.v"), col("bs.n"))
      .collect()
      .map(r => (r.getString(0), r.getSeq[Long](1), r.getInt(2)))
    out.foreach { case (t, words, n) =>
      val ref = refNgramBits(t)
      assert(words.length == 128)
      val got = new java.util.BitSet(4096)
      for (w <- 0 until 128; b <- 0 until 32)
        if ((words(w) & (1L << b)) != 0) got.set(w * 32 + b)
      assert(words.forall(w => (w >>> 32) == 0L),
        s"'$t': only the low 32 bits of each word may be used")
      assert(got == ref, s"'$t': bitset mismatch")
      assert(n == ref.cardinality(), s"'$t': popcount $n != ${ref.cardinality()}")
    }
  }

  // ---- KmvSketchAgg: merge algebra, driven directly on buffers ----

  private def kmvAgg(k: Int) = graft.functions.KmvSketchAgg(
    org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.LongType, nullable = true), k)

  private def kmvBuf(agg: graft.functions.KmvSketchAgg,
                     vs: Seq[Long]): java.util.TreeSet[java.lang.Long] = {
    val buf = agg.createAggregationBuffer()
    vs.foreach { v =>
      agg.update(buf, new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](v)))
    }
    buf
  }

  private def clone2(b: java.util.TreeSet[java.lang.Long]) =
    new java.util.TreeSet[java.lang.Long](b)

  test("KmvSketchAgg: merge is commutative, associative, and partition-invariant") {
    val k = 16
    val agg = kmvAgg(k)
    // duplicates + clustered values exercise the k-boundary rejects
    val vals = Gen.oneOf(Gen.choose(0L, (1L << 32) - 1), Gen.choose(0L, 200L))
    val runs = sample(Gen.listOfN(120, vals), 30, 83L)
    runs.foreach { vs =>
      val thirds = vs.grouped(40).toSeq
      val bufs = thirds.map(kmvBuf(agg, _))
      // commutativity
      val ab = agg.merge(clone2(bufs(0)), bufs(1))
      val ba = agg.merge(clone2(bufs(1)), bufs(0))
      assert(ab == ba, "merge must be order-independent")
      // associativity
      val abc1 = agg.merge(agg.merge(clone2(bufs(0)), bufs(1)), bufs(2))
      val abc2 = agg.merge(clone2(bufs(0)), agg.merge(clone2(bufs(1)), bufs(2)))
      assert(abc1 == abc2, "merge must be associative")
      // any partitioning == one sequential build == the k-smallest
      // distinct values (the sketch's defining invariant)
      val whole = kmvBuf(agg, vs)
      assert(abc1 == whole, "merged partials must equal the sequential build")
      val expect = vs.distinct.sorted.take(k).map(java.lang.Long.valueOf)
      assert(abc1.toArray.toSeq == expect)
      // estimate matches the closed form on the reference state
      val est = agg.eval(whole).asInstanceOf[Double]
      val distinct = vs.distinct.size
      if (distinct < k) assert(est == distinct.toDouble)
      else {
        val uk = expect.last.toDouble / math.pow(16.0, 8)
        val ref = BigDecimal((k - 1).toDouble / uk)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(est == ref)
      }
      // serialize/deserialize round-trips the exact state
      assert(agg.deserialize(agg.serialize(whole)) == whole)
    }
  }

  test("vector exprs: dot, bitset-intersect, dense-scatter equal JVM references") {
    import spark.implicits._
    // dot: index-order sequential fold — must be BIT-identical to the
    // same-order JVM fold (the oracle's list_sum sees these doubles);
    // mismatched lengths truncate to the shorter side
    val dv = Gen.choose(-4.0, 4.0)
    val vecPair = for {
      n <- Gen.choose(0, 24); m <- Gen.choose(0, 24)
      a <- Gen.listOfN(n, dv); b <- Gen.listOfN(m, dv)
    } yield (a, b)
    val vps = sample(vecPair, 200, 31L)
    vps.toDF("a", "b")
      .withColumn("d", graft.functions.VectorExprs.dot(col("a"), col("b")))
      .collect()
      .foreach { r =>
        val (a, b) = (r.getSeq[Double](0), r.getSeq[Double](1))
        val ref = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
        assert(r.getDouble(2) == ref, s"dot($a, $b)")
      }
    // bitset intersect: popcount of the pairwise AND
    val words = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Long.MinValue, Long.MaxValue)))
    val wps = sample(Gen.zip(words, words), 200, 37L)
    wps.toDF("a", "b")
      .withColumn("c", graft.functions.VectorExprs.bitsetInter(col("a"), col("b")))
      .collect()
      .foreach { r =>
        val (a, b) = (r.getSeq[Long](0), r.getSeq[Long](1))
        val ref = a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x & y) }.sum
        assert(r.getInt(2) == ref, s"bitsetInter($a, $b)")
      }
    // dense scatter: 1-based indices land values; out-of-range
    // indices are dropped; duplicate indices keep the LAST write
    val n = 16
    val entries = Gen.choose(0, 12).flatMap(k => Gen.listOfN(k,
      Gen.zip(Gen.choose(-2, n + 2), dv)))
    val es = sample(entries, 200, 41L)
    es.map(e => (e.map(_._1), e.map(_._2))).toDF("idx", "vs")
      .withColumn("v", graft.functions.VectorExprs.denseScatter(
        col("idx"), col("vs"), n))
      .collect()
      .foreach { r =>
        val idx = r.getSeq[Int](0)
        val vs = r.getSeq[Double](1)
        val ref = new Array[Double](n)
        idx.zip(vs).foreach { case (i, v) =>
          if (i >= 1 && i <= n) ref(i - 1) = v
        }
        assert(r.getSeq[Double](2) == ref.toSeq, s"scatter($idx, $vs)")
      }
  }

  test("sparseDenseDot: entry-order JVM fold; bit-identical to dense dot on sorted unique indices") {
    import spark.implicits._
    val n = 16
    val dv = Gen.choose(-4.0, 4.0)
    // arbitrary (possibly out-of-range, possibly duplicate) entries:
    // must match the same-order JVM fold with out-of-range skipped
    val entries = Gen.choose(0, 12).flatMap(k => Gen.zip(
      Gen.listOfN(k, Gen.zip(Gen.choose(-2, n + 2), dv)),
      Gen.listOfN(n, dv)))
    sample(entries, 200, 43L)
      .map { case (e, v) => (e.map(_._1), e.map(_._2), v) }
      .toDF("idx", "w", "v")
      .withColumn("d", graft.functions.VectorExprs.sparseDenseDot(
        col("idx"), col("w"), col("v")))
      .collect()
      .foreach { r =>
        val idx = r.getSeq[Int](0); val w = r.getSeq[Double](1)
        val v = r.getSeq[Double](2)
        val ref = idx.zip(w).foldLeft(0.0) { case (s, (i, x)) =>
          if (i >= 1 && i <= n) s + x * v(i - 1) else s
        }
        assert(r.getDouble(3) == ref, s"sparseDenseDot($idx, $w, $v)")
      }
    // the tfidf-regime contract: on SORTED UNIQUE in-range indices the
    // sparse walk must be BIT-identical to the dense-dense dot over
    // the scattered vector (the dense scan's extra terms are +0.0)
    val sortedEntries = Gen.choose(0, n).flatMap(k => Gen.zip(
      Gen.pick(k, 1 to n).map(_.sorted.toList),
      Gen.listOfN(k, dv), Gen.listOfN(n, dv)))
    sample(sortedEntries, 200, 47L)
      .map { case (i, w, v) => (i, w, v) }
      .toDF("idx", "w", "v")
      .withColumn("sparse", graft.functions.VectorExprs.sparseDenseDot(
        col("idx"), col("w"), col("v")))
      .withColumn("dense", graft.functions.VectorExprs.dot(
        graft.functions.VectorExprs.denseScatter(col("idx"), col("w"), n),
        col("v")))
      .collect()
      .foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(3)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(4)),
          s"sparse=${r.getDouble(3)} dense=${r.getDouble(4)}")
      }
  }

  test("sparseSparseDot: merge walk bit-identical to sparseDenseDot over the scattered side") {
    import spark.implicits._
    val n = 16
    val dv = Gen.choose(-4.0, 4.0)
    // the capped-matcher contract: both sides rank-SORTED unique
    // in-range — the merge walk must reproduce the sparse-dense walk
    // over the other side scattered dense (shared bit-exactness with
    // the dense-regime scorer), including empty/disjoint supports
    val pairs = for {
      ka <- Gen.choose(0, n); kb <- Gen.choose(0, n)
      ia <- Gen.pick(ka, 1 to n).map(_.sorted.toList)
      ib <- Gen.pick(kb, 1 to n).map(_.sorted.toList)
      wa <- Gen.listOfN(ka, dv); wb <- Gen.listOfN(kb, dv)
    } yield (ia, wa, ib, wb)
    sample(pairs, 300, 59L)
      .toDF("ia", "wa", "ib", "wb")
      .withColumn("ss", graft.functions.VectorExprs.sparseSparseDot(
        col("ia"), col("wa"), col("ib"), col("wb")))
      .withColumn("sd", graft.functions.VectorExprs.sparseDenseDot(
        col("ia"), col("wa"),
        graft.functions.VectorExprs.denseScatter(col("ib"), col("wb"), n)))
      .collect()
      .foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(4)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(5)),
          s"ss=${r.getDouble(4)} sd=${r.getDouble(5)} for " +
            s"(${r.getSeq[Int](0)}, ${r.getSeq[Double](1)}, " +
            s"${r.getSeq[Int](2)}, ${r.getSeq[Double](3)})")
      }
  }

  test("ArgMaxAgg: equals max(struct) lexicographic semantics; plans hash-based") {
    import spark.implicits._
    // random (group, score, key) rows with deliberate score ties so
    // the key tiebreak is exercised; scores rounded to force ties
    val rows = sample(for {
      g <- Gen.choose(0, 9); s <- Gen.choose(0, 4)
      k <- Gen.choose(-50L, 50L)
    } yield (g, s.toDouble, k), 400, 53L)
    val df = rows.toDF("g", "s", "k")
    val viaStruct = df.groupBy("g")
      .agg(max(struct(col("s"), col("k"))).as("m"))
      .select(col("g"), col("m.s"), col("m.k"))
      .collect().map(_.toSeq).toSet
    val q = df.groupBy("g")
      .agg(graft.functions.ArgMaxAgg.of(col("s"), col("k")).as("m"))
      .select(col("g"), col("m.s"), col("m.k"))
    assert(q.collect().map(_.toSeq).toSet == viaStruct)
    // the point of the expression: it must NOT plan as SortAggregate
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.linesIterator.take(4).mkString("\n"))
    assert(!plan.contains("SortAggregate"))
  }

  test("SimHash64: deterministic and token-order invariant") {
    import spark.implicits._
    val tokens = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n,
      Gen.choose(1, 8).flatMap(l => Gen.listOfN(l, Gen.alphaLowerChar).map(_.mkString))))
    val docs = sample(tokens, 200, 23L)
    val rng = new scala.util.Random(23L) // seeded: failures must reproduce
    val df = docs.zipWithIndex
      .map { case (ts, i) => (i.toLong, ts, rng.shuffle(ts)) }
      .toDF("id", "t1", "t2")
      .withColumn("h1", call_function("graft_simhash64", col("t1")))
      .withColumn("h2", call_function("graft_simhash64", col("t2")))
    assert(df.filter(col("h1") =!= col("h2")).count() == 0,
      "simhash must not depend on token order")
    // deterministic across evaluations
    val again = docs.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      .toDF("id", "t1")
      .withColumn("h", call_function("graft_simhash64", col("t1")))
      .select("id", "h")
    val first = df.select(col("id"), col("h1").as("h"))
    assert(first.except(again).count() == 0 && again.except(first).count() == 0)
  }
}
