package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Free-space floor (bytes) under which the bench forces a full GC
    * so the ContextCleaner reclaims finished queries' shuffle files.
    * 24 GiB default: comfortably above any single query's working set
    * at sf10 on this container, far below the bench-SF free space (so
    * the pressure valve never fires in a timing-grade run). Override
    * via SPARK_GRAFT_MIN_FREE_GB.
    */
  private[graft] def minFreeBytes: Long =
    sys.env.get("SPARK_GRAFT_MIN_FREE_GB").map(_.toLong)
      .getOrElse(24L) * (1L << 30)

  /** GC only when the Spark scratch dir's filesystem is under the
    * free-space floor — the ENOSPC valve without a GC in every timed
    * path (see the call-site note). Returns whether pressure was
    * measured, so the caller can escalate to LIVE-cache eviction
    * ([[PlanCache.releaseAfter]]'s idle path).
    */
  private[graft] def maybeReclaimShuffleDisk(): Boolean = {
    val scratch = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val pressure = scratch.getUsableSpace < minFreeBytes
    if (pressure) {
      System.err.println(s"[bench] scratch free ${scratch.getUsableSpace >> 30} GiB " +
        s"< floor ${minFreeBytes >> 30} GiB: forcing GC to release dead shuffles")
      System.gc()
    }
    pressure
  }

  /** Consumer census: plan-build every registered query at the tiny
    * canonical dir (the [[Plans.write]] loop, sans explain) with
    * [[PlanCache.beginConsumer]] tagging, so the sweep knows which
    * registry queries consume which family caches — the map that lets
    * the timing loop proactively release a LIVE cache the moment
    * its last consumer has run (r11: a 312-query sf10 sweep carried
    * ~70 GB of spent family caches into ENOSPC). Regime gates can
    * flip with scale, so the census is a lower bound on cache NAMES
    * (a capped-regime-only cache never appears at sf0.001); unknown
    * names fall back to idle-under-pressure eviction. Cost: one
    * sf0.001 plan-build pass (~1 min), outside every timed rep.
    */
  private def cacheCensus(spark: SparkSession,
      names: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
      : Map[String, Set[String]] = {
    val tiny = "/root/testdata/sf0.001"
    if (!new java.io.File(tiny).isDirectory) return Map.empty
    names.zipWithIndex.foreach { case ((name, fn), i) =>
      PlanCache.beginConsumer(name, -names.size + i)
      try fn(spark, tiny)
      catch { case e: Exception =>
        System.err.println(s"[bench] census $name: $e") }
    }
    val census = PlanCache.consumersSeen
    PlanCache.invalidate(tiny)
    System.err.println(s"[bench] census: ${census.size} cache names over " +
      s"${names.size} queries")
    census
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.builder(s"local[$cpus]", math.max(cpus, 4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The "No Partition Defined for Window operation" warning is
    // known-bounded here: PlanLint's global-window rule fails any plan
    // whose unpartitioned WindowExec is NOT directly above a limit, and
    // PlanHeadsSpec lints every registered query. What remains is 21
    // TopK.globalWithRank heads emitting the warning once per rep —
    // enough stderr volume that the r10 driver's tail capture drowned
    // the bench summary line (BENCH_r10.json parsed:null). Silence
    // exactly that logger package; everything else stays at WARN.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    graft.plans.GraftExtensions.registerInto(spark)
    // steady-state JIT/codegen warmup so the first measured query
    // doesn't absorb session startup costs
    spark.range(0, 2000000).selectExpr("sum(id * 2)", "count(distinct id % 7)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    // pull every input file into the OS page cache before timing: the
    // r7 driver artifact showed scan-heavy families 3-15x slow while
    // the same code measured at r6 levels cold-JVM — container I/O
    // and page-cache state, not plans. A sequential read of the SF
    // dir (~100s of MB at sf0.1) removes that variable for <2s.
    try {
      val buf = new Array[Byte](1 << 20)
      java.nio.file.Files.walk(java.nio.file.Paths.get(sfDir)).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) {
          val in = java.nio.file.Files.newInputStream(p)
          try { while (in.read(buf) >= 0) () } finally in.close()
        }
      }
    } catch { case e: Exception => System.err.println(s"[bench] prewarm: $e") }
    // best-of-N per query: single-shot local timings have ±20% noise,
    // and the r7 adjudication showed driver-container contention can
    // inflate ANY single rep several-fold — 3 reps keeps one clean
    // measurement with high probability at ~6 min total
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(3)
    // optional comma-separated name filter (local iteration aid,
    // mirrors Verify's 3rd arg; the driver never sets it)
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty)
    // composite evals re-read their family's cached relations
    // (minhash signatures/candidates, ngram scored pairs): run them
    // AFTER the members, so their timing measures the eval itself
    // rather than absorbing the whole family's cold build
    val runLast = Set("dedup_method_agreement", "dedup_minhash_est_eval",
      "dedup_threshold_sweep")
    val ordered = SparkEntry.queries.toSeq
      .sortBy { case (name, _) => (runLast(name), name) }
      .filter { case (name, _) => only.isEmpty || only(name) }
    // full-registry runs take the consumer census so the loop below
    // can release spent family caches as it goes; probes skip it
    val census: Map[String, Set[String]] =
      if (only.isEmpty && sys.env.get("SPARK_GRAFT_SKIP_CENSUS").isEmpty)
        cacheCensus(spark, ordered)
      else Map.empty
    val ran = scala.collection.mutable.Set.empty[String]
    val results = ordered.zipWithIndex.map { case ((name, fn), qi) =>
      PlanCache.beginConsumer(name, qi)
      // a failed rep must NOT masquerade as a fast one: the r8 sf1 run
      // showed ~90 queries reporting 0.01s because the context had died
      // and the old catch swallowed every exception — record failures
      // as -1 and abort outright once the SparkContext is gone (every
      // later timing would be garbage)
      var err: Throwable = null
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case e: Throwable => if (err == null) err = e }
        (System.nanoTime() - t0) / 1e9
      }
      if (spark.sparkContext.isStopped) {
        System.err.println(s"[bench] ABORT: SparkContext stopped during $name")
        sys.exit(1)
      }
      val dt = if (err != null) -1.0 else ts.min
      // per-rep times expose cold-vs-warm attribution (a big rep-1 is
      // a cache build landing on its family's first consumer)
      // shuffle files of finished queries are only deleted when their
      // ShuffleDependency is GC'd (ContextCleaner weak refs) — with a
      // 48g heap that barely fills, a 300-query run accumulated 49 GB
      // of dead shuffle spill at sf10 and ENOSPC'd the container. The
      // r9 unconditional per-query System.gc() sat one line from the
      // timing loop during the round's unadjudicated regression
      // cluster: now GC fires ONLY under measured scratch-disk
      // pressure (sf10 territory — never at the bench SFs, where free
      // space stays far above the floor), so quiet-window sf0.1 runs
      // have no GC in the timed path at all
      ran += name
      val pressure = maybeReclaimShuffleDisk()
      // consumer-aware valve: release LIVE family caches whose
      // (census ∪ observed) consumers have all run — proactive, so a
      // sweep's peak scratch footprint tracks the ACTIVE family, not
      // the whole day's history; under measured pressure also evict
      // census-unknown idle entries (SF-dependent regime caches)
      if (census.nonEmpty || pressure) {
        val evicted = PlanCache.releaseAfter(sfDir, ran.toSet, census, pressure)
        if (evicted.nonEmpty)
          System.err.println(
            s"[bench] released after $name: ${evicted.sorted.mkString(", ")}")
      }
      if (err != null)
        System.err.println(s"[bench] $name FAILED: ${err.getClass.getName}: " +
          s"${err.getMessage}")
      else
        System.err.println(f"[bench] $name%-24s $dt%8.2f s  " +
          ts.map(t => f"$t%.2f").mkString("[", " ", "]"))
      (name, dt, ts)
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // failed queries carry -1 in the map; keep them out of the total so
    // a failure can only make the headline number look WORSE (missing
    // coverage), never better
    val total = results.filter(_._2 >= 0).map(_._2).sum
    val nFailed = results.count(_._2 < 0)
    if (nFailed > 0) System.err.println(s"[bench] $nFailed queries FAILED")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // the stdout line gets tail-truncated by log capture once the
    // query map outgrows ~2000 chars — also land the full artifact in
    // a file so every timing stays machine-diffable. The file carries
    // what the stdout contract line cannot: the PER-REP arrays that
    // separate cold builds (big rep-1) and container noise from real
    // plan regressions — the r7 adjudication hinged on exactly this.
    // BENCH_FULL.json is the RATCHET artifact: it must always cover
    // the full registry with zero failures, or later rounds diff a
    // partial map against a full one (r10 committed a 1-query probe
    // over the 312-query artifact and orphaned the ratchet evidence).
    // Partial or failed runs route to a side file unconditionally —
    // an explicit SPARK_GRAFT_BENCH_OUT=BENCH_FULL.json cannot
    // override the refusal.
    val requested = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val fullRegistry = only.isEmpty && nFailed == 0
    // canonical-path compare: SPARK_GRAFT_BENCH_OUT=./BENCH_FULL.json
    // (or an absolute spelling) must hit the same partial-run refusal
    // as the bare name — the guard protects the artifact, not a string
    val isRatchetTarget = java.nio.file.Paths.get(requested)
      .toAbsolutePath.normalize ==
      java.nio.file.Paths.get("BENCH_FULL.json").toAbsolutePath.normalize
    val out =
      if (isRatchetTarget && !fullRegistry) {
        val side = "bench_probe.json"
        System.err.println(s"[bench] partial/failed run (only=${only.size} " +
          s"failed=$nFailed): refusing to write BENCH_FULL.json, using $side")
        side
      } else requested
    val repsJson = results.map { case (k, _, ts) =>
      s"\"" + k + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""cpus":$cpus,"n_queries":${results.length},"reps":$reps,""" +
      s""""queries":$qs,"reps_per_query":$repsJson}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[bench] write $out: $e") }
    // a full clean registry run that just rewrote BENCH_FULL.json also
    // regenerates PLANS.md from ITS OWN timings, so the two artifacts
    // land consistent in the same commit and PlanHeadsSpec's owed-full
    // set can never be orphaned by a later bench (the r9 failure).
    // Plans are generated at the canonical tiny dir (plan shapes are
    // data-size independent; gate decisions recorded per-dir) from a
    // cleared PlanCache so no InMemoryRelation from the timing run
    // masks a scan head.
    if (fullRegistry && isRatchetTarget && out == requested &&
        sys.env.get("SPARK_GRAFT_SKIP_PLANS").isEmpty) {
      PlanCache.clear()
      try Plans.write(spark, "/root/testdata/sf0.001",
        results.collect { case (k, v, _) if v >= 0 => k -> v }.toMap)
      catch { case e: Exception =>
        System.err.println(s"[bench] plans regen failed: $e") }
    }
    PlanCache.clear()
    spark.stop()
    // the contract line again as the process's FINAL stdout, after
    // every Spark shutdown message — the driver parses the LAST
    // stdout line of the run as the bench summary, and build.sbt's
    // `Global / showSuccess := false` keeps sbt from trailing a
    // "[success]" line behind it (the r10/r11 parsed:null cause)
    println(line)
  }
}
