package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import graft.operators.{Cleaning, Dedup, Matching, Quality, Sampling, TextAnalysis}
import graft.sources.Sinks

/** End-to-end pipeline composition — the graft equivalent of the
  * reference's Airflow DAG (dags/etl_pipeline.py: extract →
  * create_schema → clean → load → match). Here every stage is a
  * DataFrame transform, so "orchestration" is function composition
  * and the whole flow optimizes as one lazy plan per sink; stage
  * boundaries exist only where results are written.
  */
object Pipeline {

  case class StageResult(name: String, rows: Long, seconds: Double,
                         attempts: Int = 1)

  /** Orchestration policy — the retry/alert semantics an Airflow DAG
    * carries in its operator config (the reference's per-task
    * logger.error + raise, dags/etl_pipeline.py:85-88), expressed as
    * a policy VALUE so it composes with plain function composition.
    * A failed stage is retried up to `retries` times after
    * `retryDelayMs`; each attempt re-evaluates the stage's DataFrame
    * thunk from its (already-materialized) inputs, so a retry redoes
    * one stage, not the pipeline. Exhausting retries fires
    * `onFailure` and rethrows — downstream stages never run on a
    * missing input. `onSuccess` is the per-stage log/metrics hook.
    */
  case class StagePolicy(
      retries: Int = 1,
      retryDelayMs: Long = 0L,
      onFailure: (String, Throwable) => Unit = (_, _) => (),
      onSuccess: StageResult => Unit = _ => ())

  private def runStage(spark: SparkSession, outDir: String, policy: StagePolicy)(
      name: String, df: => DataFrame, partitionCols: Seq[String] = Nil): StageResult = {
    val t0 = System.nanoTime()
    var attempt = 0
    var result: Option[StageResult] = None
    while (result.isEmpty) {
      attempt += 1
      try {
        // the published row count comes from the write itself, not a
        // re-read: one Observation per attempt, read once _SUCCESS is in
        val written = new Observation()
        val out = df.observe(written, count(lit(1)).as("rows"))
        // ATOMIC publish: every attempt writes to a staging dir and
        // only a COMPLETE write (_SUCCESS present) is renamed over the
        // live path — a crash mid-write leaves the previous successful
        // artifact untouched, so an orchestrator's at-least-once re-run
        // of the stage is exactly-once on the published output. A
        // direct mode("overwrite") to the live path would truncate it
        // first and a mid-write crash would destroy the prior artifact.
        val live = new org.apache.hadoop.fs.Path(s"$outDir/$name")
        val stg = new org.apache.hadoop.fs.Path(s"$outDir/_stg_$name")
        val old = new org.apache.hadoop.fs.Path(s"$outDir/_old_$name")
        val hfs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // recovery from a crash BETWEEN the publish renames (live
        // absent, prior artifact parked at _old_): restore the prior
        // artifact first so the "old or new, never neither" invariant
        // holds across the re-run too
        if (!hfs.exists(live) && hfs.exists(old)) hfs.rename(old, live)
        hfs.delete(stg, true); hfs.delete(old, true)
        if (partitionCols.nonEmpty) Sinks.writePartitioned(out, stg.toString, partitionCols)
        else out.write.mode("overwrite").parquet(stg.toString)
        require(hfs.exists(new org.apache.hadoop.fs.Path(stg, "_SUCCESS")),
          s"stage $name: staging write incomplete (no _SUCCESS)")
        if (hfs.exists(live)) hfs.rename(live, old)
        hfs.rename(stg, live)
        hfs.delete(old, true)
        val rows = written.get("rows").asInstanceOf[Long]
        result = Some(StageResult(name, rows, (System.nanoTime() - t0) / 1e9, attempt))
      } catch {
        case e: Exception if attempt <= policy.retries =>
          System.err.println(s"[pipeline] stage $name attempt $attempt failed, retrying: $e")
          if (policy.retryDelayMs > 0) Thread.sleep(policy.retryDelayMs)
        case e: Exception =>
          policy.onFailure(name, e)
          throw e
      }
    }
    policy.onSuccess(result.get)
    result.get
  }

  /** Test seam for the stage runner (retry/alert behavior is pinned
    * directly, without paying for a full pipeline run per case).
    */
  private[graft] def runStageForTest(spark: SparkSession, outDir: String,
      policy: StagePolicy)(name: String, df: => DataFrame,
      partitionCols: Seq[String] = Nil): StageResult =
    runStage(spark, outDir, policy)(name, df, partitionCols)

  /** Run clean → match → quality over a testdata dir, writing each
    * stage's output as partitioned parquet under outDir. Returns
    * per-stage row counts and timings (the DAG's per-stage logs).
    */
  def run(spark: SparkSession, dir: String, outDir: String,
          policy: StagePolicy = StagePolicy()): Seq[StageResult] = {
    // a local forwarder, NOT eta-expansion — eta-expanding a by-name
    // parameter evaluates it eagerly, which would run the stage once
    // outside the retry loop
    def stage(name: String, df: => DataFrame, partitionCols: Seq[String] = Nil): StageResult =
      runStage(spark, outDir, policy)(name, df, partitionCols)
    Seq(
      stage("abr_cleaned", Cleaning.cleanAbr(spark, dir)),
      stage("cc_cleaned", Cleaning.cleanCc(spark, dir)),
      stage("entity_matches", Matching.matchCombined(spark, dir), Seq("method")),
      stage("quality_metrics", Quality.qualityMetrics(spark, dir), Seq("table_name")))
  }

  /** The LLM-training-data curation flow over the documents corpus:
    * quality-score → near-dup components → curated sample. The final
    * stage CHAINS on the earlier stages' parquet outputs — the sample
    * keeps only docs whose quality bucket is 'ok' and drops every doc
    * that lost its near-dup family election (keeper = the component's
    * min id) — and each stage is materialized, so a failed stage
    * restarts from its input, not the source (the reference DAG's
    * retry-per-task property, without the driver orchestration).
    */
  def runCuration(spark: SparkSession, dir: String, outDir: String,
                  policy: StagePolicy = StagePolicy()): Seq[StageResult] = {
    import org.apache.spark.sql.functions.col
    def stage(name: String, df: => DataFrame, partitionCols: Seq[String] = Nil): StageResult =
      runStage(spark, outDir, policy)(name, df, partitionCols)
    val quality = stage("doc_quality", TextAnalysis.textQuality(spark, dir))
    val comps = stage("dup_components", Dedup.dedupComponents(spark, dir))
    // the per-doc end-product table (dup/repetition/quality/
    // contamination signals + final verdict) — materialized so
    // downstream consumers read decisions, not signal internals
    val decisions = stage("curation_decisions", Quality.curationDecisions(spark, dir))
    val curated = stage("curated_sample", {
      val keep = spark.read.parquet(s"$outDir/curation_decisions")
        .filter(col("decision") === "keep").select("doc_id")
      val dupLosers = spark.read.parquet(s"$outDir/dup_components")
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      Sampling.sampleStratified(spark, dir)
        .join(keep, Seq("doc_id"))
        .join(dupLosers, Seq("doc_id"), "left_anti")
    })
    // the shippable artifact: curated docs with PII redacted at the
    // boundary (same detectors as the batch operator and streaming
    // gate), a deterministic content-hash train/val/test split, and
    // the export laid out BY split so a trainer reads its split via
    // partition pruning, not a scan-and-filter
    val exported = stage("training_export", {
      val curatedIds = spark.read.parquet(s"$outDir/curated_sample").select("doc_id")
      val split = Sampling.sampleHashSplit(spark, dir).select("doc_id", "split")
      Tables.documents(spark, dir)
        .join(curatedIds, Seq("doc_id"))
        .select(Seq(col("doc_id"), col("lang"), col("source"),
          TextAnalysis.piiRedact(col("text")).as("text")) ++
          TextAnalysis.piiCounts(col("text")): _*)
        .join(split, Seq("doc_id"))
    }, Seq("split"))
    Seq(quality, comps, decisions, curated, exported)
  }
}
