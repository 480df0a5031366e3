package graft

class PipelineSpec extends SparkSpec {

  test("full clean->match->quality pipeline writes every stage") {
    val out = java.nio.file.Files.createTempDirectory("graft-pipeline").toString
    val results = Pipeline.run(spark, sf, out)
    assert(results.map(_.name) ==
      Seq("abr_cleaned", "cc_cleaned", "entity_matches", "quality_metrics"))
    assert(results.forall(_.rows > 0), results.mkString(", "))
    // partitioned stages have key directories
    val matchDirs = new java.io.File(s"$out/entity_matches").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(matchDirs.exists(_.startsWith("method=")))
    // stage outputs re-read cleanly
    assert(spark.read.parquet(s"$out/quality_metrics").count() == 10)
  }

  test("curation pipeline: quality -> dup components -> curated sample") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft-curation").toString
    val results = Pipeline.runCuration(spark, sf, out)
    assert(results.map(_.name) ==
      Seq("doc_quality", "dup_components", "curation_decisions", "curated_sample",
        "training_export"))
    assert(results.forall(_.rows > 0), results.mkString(", "))
    // the curated sample is a strict subset of the corpus...
    val nDocs = Tables.documents(spark, sf).count()
    val curated = spark.read.parquet(s"$out/curated_sample")
    assert(curated.count() < nDocs)
    // ...that chains on the earlier stages: no quality failures, no
    // dup-election losers survive
    val quality = spark.read.parquet(s"$out/doc_quality")
    assert(curated.join(quality.filter(col("quality_bucket") =!= "ok"), "doc_id").count() == 0)
    val losers = spark.read.parquet(s"$out/dup_components")
      .filter(col("id") =!= col("component")).select(col("id").as("doc_id"))
    assert(curated.join(losers, "doc_id").count() == 0)
    // the export ships exactly the curated docs, laid out by split
    // (partition pruning serves a trainer's split without a scan),
    // with the PII detectors reporting clean redacted text
    val export = spark.read.parquet(s"$out/training_export")
    assert(export.count() == curated.count())
    assert(export.select("split").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("train", "val", "test")))
    val splitDirs = new java.io.File(s"$out/training_export").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(splitDirs.forall(_.startsWith("split=")), splitDirs.toString)
    assert(export.filter(
      col("text").rlike(operators.TextAnalysis.piiEmailRe)).count() == 0)
  }

  test("stage policy: a transient failure is retried, a persistent one alerts and aborts") {
    import org.apache.spark.sql.functions.lit
    val out = java.nio.file.Files.createTempDirectory("graft-retry").toString
    // transient: first evaluation throws, the retry succeeds — the
    // stage thunk must be re-evaluated per attempt (by-name, not eager)
    var calls = 0
    val flaky = Pipeline.StagePolicy(retries = 1)
    val r = Pipeline.runStageForTest(spark, out, flaky)("flaky_stage", {
      calls += 1
      if (calls == 1) sys.error("transient stage failure")
      Tables.nation(spark, sf).withColumn("marker", lit(1))
    })
    assert(r.attempts == 2 && r.rows > 0, r.toString)
    assert(spark.read.parquet(s"$out/flaky_stage").count() == r.rows)
    // persistent: retries exhaust, the failure hook fires with the
    // stage name, and the error propagates so downstream stages
    // never run against a missing input
    var alerted: Option[(String, String)] = None
    val alertPolicy = Pipeline.StagePolicy(retries = 1,
      onFailure = (n, e) => alerted = Some((n, e.getMessage)))
    val ex = intercept[RuntimeException] {
      Pipeline.runStageForTest(spark, out, alertPolicy)("doomed_stage", {
        sys.error("persistent stage failure")
      })
    }
    assert(ex.getMessage == "persistent stage failure")
    assert(alerted.contains(("doomed_stage", "persistent stage failure")))
  }

  test("stage rows come from the write and equal the published parquet's count") {
    import org.apache.spark.sql.functions.{col, lit, udf}
    val out = java.nio.file.Files.createTempDirectory("graft-rows").toString
    val policy = Pipeline.StagePolicy(retries = 1)
    def published(name: String): Long = spark.read.parquet(s"$out/$name").count()
    val flat = Pipeline.runStageForTest(spark, out, policy)("flat",
      Tables.lineitem(spark, sf).filter(col("l_quantity") > 10))
    assert(flat.rows > 0 && flat.rows == published("flat"), flat.toString)
    val parts = Pipeline.runStageForTest(spark, out, policy)("parts",
      Tables.nation(spark, sf), Seq("n_regionkey"))
    assert(parts.rows == Tables.nation(spark, sf).count() &&
      parts.rows == published("parts"), parts.toString)
    // the first attempt dies task-side, mid-write; the retry's count
    // must be its own, not the failed attempt's
    val boom = udf((k: Long) => { if (k >= 0) sys.error("disk full"); k })
    Seq(Nil, Seq("n_regionkey")).foreach { partitionCols =>
      var calls = 0
      val name = s"retried_${partitionCols.size}"
      val r = Pipeline.runStageForTest(spark, out, policy)(name, {
        calls += 1
        Tables.nation(spark, sf).withColumn("v",
          if (calls == 1) boom(col("n_nationkey")) else lit(1L))
      }, partitionCols)
      assert(r.attempts == 2 && r.rows == parts.rows && r.rows == published(name),
        r.toString)
    }
  }

  test("atomic stage publish: a crash mid-write keeps the prior artifact; re-run is exactly-once") {
    import org.apache.spark.sql.functions.{col, lit, udf}
    val out = java.nio.file.Files.createTempDirectory("graft-atomic").toString
    val policy = Pipeline.StagePolicy(retries = 0)
    // run 1: publish a good artifact
    val r1 = Pipeline.runStageForTest(spark, out, policy)("stage_a",
      Tables.nation(spark, sf).withColumn("v", lit(1)))
    val before = spark.read.parquet(s"$out/stage_a")
      .orderBy("n_nationkey").collect().toSeq
    assert(r1.rows == before.length.toLong)
    // run 2: the write itself crashes task-side, mid-job (not in the
    // thunk) — the live path must still hold run 1's artifact intact
    val boom = udf((k: Long) => {
      if (k >= 0) sys.error("disk full"); k
    })
    intercept[Exception] {
      Pipeline.runStageForTest(spark, out, policy)("stage_a",
        Tables.nation(spark, sf).withColumn("v", boom(col("n_nationkey"))))
    }
    val after = spark.read.parquet(s"$out/stage_a")
      .orderBy("n_nationkey").collect().toSeq
    assert(after == before, "crashed write must not touch the live artifact")
    // run 3 (the orchestrator's replay): same deterministic thunk —
    // artifacts land exactly-once, byte-equal rows, no staging litter
    val r3 = Pipeline.runStageForTest(spark, out, policy)("stage_a",
      Tables.nation(spark, sf).withColumn("v", lit(1)))
    val replay = spark.read.parquet(s"$out/stage_a")
      .orderBy("n_nationkey").collect().toSeq
    assert(replay == before && r3.rows == r1.rows)
    val litter = new java.io.File(out).listFiles().map(_.getName)
      .filter(n => n.startsWith("_stg_") || n.startsWith("_old_"))
    assert(litter.isEmpty, litter.mkString(", "))
    // crash BETWEEN the publish renames (live gone, _old_ parked):
    // the next attempt restores the prior artifact before rebuilding
    val hfs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.rename(new org.apache.hadoop.fs.Path(s"$out/stage_a"),
      new org.apache.hadoop.fs.Path(s"$out/_old_stage_a"))
    val r4 = Pipeline.runStageForTest(spark, out, policy)("stage_a",
      Tables.nation(spark, sf).withColumn("v", lit(1)))
    assert(r4.rows == r1.rows)
    assert(spark.read.parquet(s"$out/stage_a")
      .orderBy("n_nationkey").collect().toSeq == before)
  }
}
