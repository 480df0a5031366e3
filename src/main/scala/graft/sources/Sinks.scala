package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Output sinks — the loading layer
  * (loading/loadingcsv_topostgre_optimized.py, entity_matching_tfidf
  * .py upsert_matches_to_postgres) re-expressed for a data lake:
  * partitioned columnar writes instead of row-batch INSERTs, and
  * merge-by-key compaction instead of ON CONFLICT upserts. Both scale
  * horizontally — the writer shuffles once on the partition key, the
  * merge once on the merge key.
  */
object Sinks {

  /** Partitioned parquet write: one directory per key value, files
    * sized by pre-repartitioning on the partition columns (the
    * loader's batching, minus the driver bottleneck).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       filesPerPartition: Int = 1): Unit =
    df.repartition(filesPerPartition, partitionCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** CDC-style snapshot diff: classify every key as insert / delete
    * / update between two table versions — the change feed a
    * downstream consumer applies instead of re-reading the full
    * table (the batch analog of a Postgres logical-replication
    * stream, and the audit view behind "what did last night's load
    * change?"). Unchanged keys are dropped, so the output is
    * O(changes), not O(table).
    *
    * Scale shape: ONE full outer shuffle join on the key — both
    * snapshots arrive key-partitioned, classification is map-side
    * math after the join, and nothing else touches the table.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCols: Seq[String], valueCol: String): DataFrame = {
    val o = oldDf.select(keyCols.map(col) :+ col(valueCol).as("old_val"): _*)
    val n = newDf.select(keyCols.map(col) :+ col(valueCol).as("new_val"): _*)
    o.join(n, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("new_val").isNull, "delete")
          .when(col("old_val").isNull, "insert")
          .when(col("old_val") =!= col("new_val"), "update")
          .otherwise("unchanged"))
      .filter(col("change_type") =!= "unchanged")
      .select(keyCols.map(col) :+ col("change_type") :+
        col("old_val") :+ col("new_val"): _*)
  }

  /** The consumer side of [[snapshotDiff]]: apply a change feed to
    * the old snapshot and reconstruct the new one — deletes drop
    * their keys, updates replace the value, inserts append. The
    * round-trip law `applyDiff(old, snapshotDiff(old, new)) == new`
    * is pinned in SinksSpec; together the pair is incremental table
    * replication (ship O(changes), apply O(old + changes)) instead
    * of re-shipping the table.
    */
  def applyDiff(oldDf: DataFrame, changes: DataFrame,
                keyCols: Seq[String], valueCol: String): DataFrame = {
    val touched = changes.select(keyCols.map(col): _*)
    val kept = oldDf.join(touched, keyCols, "left_anti")
    val applied = changes.filter(col("change_type") =!= "delete")
      .select(keyCols.map(col) :+ col("new_val").as(valueCol): _*)
    kept.select(keyCols.map(col) :+ col(valueCol): _*).unionByName(applied)
  }

  /** Versioned-table storage over [[snapshotDiff]]/[[applyDiff]]: a
    * base snapshot (version 0) plus one O(changes) diff file per
    * commit, with `readVersion` reconstructing ANY historical version
    * by folding the diff chain — time travel without storing V full
    * copies (the lakehouse versioned-table idea reduced to its
    * algebra). Writing version v+1 costs one snapshotDiff against
    * the CURRENT reconstruction; reading version v costs
    * O(base + Σ changes ≤ v), each fold one key-partitioned join —
    * at 100 TB the diffs are the cheap part, and CHECKPOINTS bound
    * read cost: every `checkpointEvery` commits the full snapshot —
    * which the committer already holds in hand as `newDf` — is also
    * materialized as `ckpt_N`, and `readVersion` folds from the
    * nearest checkpoint at or below the target. Any read (and any
    * commit's own current-state reconstruction) therefore plans at
    * most `checkpointEvery` chained joins no matter how long the
    * history grows — the streaming-changelog checkpoint discipline
    * applied to table time travel. SinksSpec pins both the plan
    * bound and exact reconstruction across checkpoint boundaries.
    */
  def commitVersion(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                    newDf: DataFrame, keyCols: Seq[String], valueCol: String,
                    checkpointEvery: Int = 8): Int = {
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$tableDir/base"))) {
      newDf.write.mode(SaveMode.Overwrite).parquet(s"$tableDir/base")
      0
    } else {
      val versions = listVersions(spark, tableDir)
      val next = versions.lastOption.getOrElse(0) + 1
      val current = readVersion(spark, tableDir, versions.lastOption.getOrElse(0),
        keyCols, valueCol)
      snapshotDiff(current, newDf, keyCols, valueCol)
        .write.mode(SaveMode.ErrorIfExists).parquet(f"$tableDir/diff_$next%05d")
      // the diff is durable first, the checkpoint after: a crash
      // between the writes costs only a missed checkpoint (reads fall
      // back to the previous one), never a version
      if (checkpointEvery > 0 && next % checkpointEvery == 0)
        newDf.select(keyCols.map(col) :+ col(valueCol): _*)
          .write.mode(SaveMode.Overwrite).parquet(f"$tableDir/ckpt_$next%05d")
      next
    }
  }

  private def listNumbered(spark: org.apache.spark.sql.SparkSession,
                           tableDir: String, prefix: String): Seq[Int] = {
    val dir = new org.apache.hadoop.fs.Path(tableDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).toSeq
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toInt).sorted
  }

  def listVersions(spark: org.apache.spark.sql.SparkSession,
                   tableDir: String): Seq[Int] =
    listNumbered(spark, tableDir, "diff_")

  def listCheckpoints(spark: org.apache.spark.sql.SparkSession,
                      tableDir: String): Seq[Int] =
    listNumbered(spark, tableDir, "ckpt_")

  def readVersion(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                  version: Int, keyCols: Seq[String], valueCol: String): DataFrame = {
    // fold from the nearest checkpoint at or below the target — the
    // plan depth is bounded by the checkpoint interval, not by how
    // many commits the table has ever seen
    val from = listCheckpoints(spark, tableDir).filter(_ <= version).lastOption
    val start = from match {
      case Some(c) => spark.read.parquet(f"$tableDir/ckpt_$c%05d")
        .select(keyCols.map(col) :+ col(valueCol): _*)
      case None => spark.read.parquet(s"$tableDir/base")
        .select(keyCols.map(col) :+ col(valueCol): _*)
    }
    listVersions(spark, tableDir)
      .filter(v => v <= version && v > from.getOrElse(0))
      .foldLeft(start) { (acc, v) =>
        applyDiff(acc, spark.read.parquet(f"$tableDir/diff_$v%05d"), keyCols, valueCol)
      }
  }

  /** Latest-wins keyed merge: rows from `updates` replace rows in
    * `base` with the same key when their version orders higher —
    * the distributed form of the reference's
    * `ON CONFLICT DO UPDATE ... WHERE confidence < EXCLUDED` upsert.
    * One shuffle on the key; deterministic tiebreak on provenance
    * (updates beat base at equal version).
    */
  def upsertLatestWins(base: DataFrame, updates: DataFrame,
                       keyCols: Seq[String], versionCol: String): DataFrame = {
    val tagged = base.withColumn("_src", lit(0))
      .unionByName(updates.withColumn("_src", lit(1)))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col("_src").desc)
    tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_src")
  }

  /** PREDICATE-guarded keyed upsert — the exact semantics of the
    * reference's conditional `ON CONFLICT ... DO UPDATE ... WHERE
    * <predicate over old and EXCLUDED>` (loadingcsv_topostgre_fast
    * .py:65 / the confidence-guarded variant in loadcsv_topostgres
    * .py), which [[upsertLatestWins]] only covers for the
    * version-orders-higher special case. `updateWhen` is an arbitrary
    * boolean Column over the aliases `t` (the existing row) and `s`
    * (the incoming row — Postgres's EXCLUDED), e.g.
    * `col("t.confidence") < col("s.confidence")`.
    *
    * Semantics match ON CONFLICT: new keys always INSERT; existing
    * keys UPDATE only when the predicate holds (a NULL predicate
    * keeps the old row, like SQL's WHERE). `updates` must be
    * key-unique. One equi-join shuffle on the key, no windows —
    * at 100 TB this is a plain co-partitioned merge.
    */
  def upsertWhere(base: DataFrame, updates: DataFrame,
                  keyCols: Seq[String], updateWhen: Column): DataFrame = {
    val cols = base.columns.toSeq
    val t = base.withColumn("_t_present", lit(1)).alias("t")
    val s = updates.withColumn("_s_present", lit(1)).alias("s")
    val onKeys = keyCols.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    // row only in updates -> insert; in both -> predicate decides;
    // row only in base -> keep (the when() falls through to t)
    val takeUpdate = col("t._t_present").isNull ||
      (col("s._s_present").isNotNull && updateWhen)
    t.join(s, onKeys, "full_outer")
      .select(cols.map(c =>
        when(takeUpdate, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)): _*)
  }

  /** Incremental aggregate maintenance: fold ONE new batch of facts
    * into a persisted keyed aggregate table (counts + sums merge
    * exactly: they are commutative monoids), instead of recomputing
    * over all history. This is the batch analog of a streaming state
    * store — cost is O(batch + |keys|) per run, not O(history) — and
    * the pattern behind every "daily rollup updated hourly" table.
    * The batch is pre-aggregated BEFORE the union (map-side combine:
    * only |batch keys| rows meet the table), and the rewrite goes
    * through a temp directory so a failed job never truncates the
    * live table (same staging discipline as [[compact]]). avg-style
    * ratios must be derived from (sum, count) at READ time — storing
    * them would not merge.
    */
  def incrementalAggregate(spark: org.apache.spark.sql.SparkSession,
                           tablePath: String, batch: DataFrame,
                           keyCols: Seq[String], sumCol: String): DataFrame = {
    val part = batch.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), sum(col(sumCol)).as("sum_val"))
    // Hadoop FS, not java.io.File: tablePath may be hdfs://, s3a://,
    // or a file: URI — a local-only existence probe would silently
    // rebuild the table from one batch and DROP the history
    val hPath = new org.apache.hadoop.fs.Path(tablePath)
    val hfs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(tablePath + ".tmp")
    val trash = new org.apache.hadoop.fs.Path(tablePath + ".old")
    // recovery: a crash between rename(live→trash) and rename(tmp→live)
    // leaves the live path absent while tmp holds the complete merged
    // table and trash holds the pre-merge history. Restore TRASH when
    // it exists — the caller's at-least-once contract (see
    // Pipeline.StagePolicy) re-runs the failed batch, and promoting
    // tmp (which already folded that batch in) would double-count it
    // on the re-run. Promote tmp only when trash is absent AND its
    // write provably finished (_SUCCESS present — a crash mid-write
    // leaves a partial dir that must never become the live table);
    // after a tmp promotion the batch IS merged, so callers must not
    // re-submit it. This runs BEFORE the existence probe, or this run
    // would treat the incoming batch as the entire history and then
    // delete the only surviving copies.
    if (!hfs.exists(hPath)) {
      val tmpComplete = hfs.exists(
        new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))
      if (hfs.exists(trash)) hfs.rename(trash, hPath)
      else if (tmpComplete) hfs.rename(tmp, hPath)
    }
    val exists = hfs.exists(hPath) && hfs.listStatus(hPath).nonEmpty
    val merged =
      if (exists)
        spark.read.parquet(tablePath).unionByName(part)
          .groupBy(keyCols.map(col): _*)
          .agg(sum("n_rows").as("n_rows"), sum("sum_val").as("sum_val"))
      else part
    // crash-safe swap: write the merged table to a tmp dir (which
    // also materializes the read of the OLD table before anything
    // touches it), then rename old→trash, tmp→live, drop trash.
    // A crash before the first rename leaves the old table live; a
    // crash between the renames leaves the full result in tmp/trash,
    // which the recovery step above promotes on the next run —
    // nothing is ever truncated in place. Deleting staging dirs here
    // is safe only because a healthy live table now exists (or there
    // was never any history).
    hfs.delete(tmp, true); hfs.delete(trash, true)
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (hfs.exists(hPath)) hfs.rename(hPath, trash)
    hfs.rename(tmp, hPath)
    hfs.delete(trash, true)
    spark.read.parquet(tablePath)
  }

  /** Range-partitioned, sorted parquet write: the data-lake analog of
    * the reference loader's CREATE INDEX step
    * (loadingcsv_topostgre_optimized.py optimize_table) — sorting by
    * the filter keys tightens parquet row-group min/max stats so
    * selective scans skip row groups instead of probing a btree.
    */
  def writeSortedForPruning(df: DataFrame, path: String, sortCols: Seq[String],
                            partitions: Int = 8): Unit =
    df.repartitionByRange(partitions, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** CSV write+read round-trip with an explicit schema — the
    * reference's CSV interchange format, kept schema-stable.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def readCsv(spark: org.apache.spark.sql.SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** CSV ingestion with a quarantine lane: lines are read as text and parsed with from_csv
    * in PERMISSIVE mode against the explicit schema — malformed rows
    * neither crash the load (FAILFAST) nor vanish (DROPMALFORMED);
    * their RAW BYTES land in [[csvQuarantine]] for triage. Parsing
    * via text + from_csv (not the native csv scan) both preserves the
    * original line and sidesteps Spark's corrupt-column-only query
    * restriction. The reference loader reads CSVs with pandas
    * defaults, which silently coerces — this keeps the contract
    * explicit. Header lines (exact field-name match, bare or
    * double-quoted) are dropped per-file, so globs of many files
    * work; for an all-string schema a data row literally equal to
    * the header is indistinguishable from one — inherent to headered
    * CSV, not to this reader.
    *
    * Spark's PERMISSIVE CSV treats a token-count mismatch as
    * non-corrupt (missing fields → null, extra fields → dropped), so
    * the quarantine predicate ALSO routes wrong-arity lines: a short
    * row would otherwise sail through as nulls and a long row would
    * silently lose data — both are exactly what triage exists for.
    */
  private val csvCorrupt = "_corrupt_record"

  def readCsvPermissive(spark: org.apache.spark.sql.SparkSession, path: String,
                        schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val full = schema.add(org.apache.spark.sql.types.StructField(
      csvCorrupt, org.apache.spark.sql.types.StringType))
    val header = schema.fieldNames.mkString(",")
    val quotedHeader = schema.fieldNames.map("\"" + _ + "\"").mkString(",")
    // arity of the raw line: split on commas outside double quotes
    val arity = size(split(col("value"), ",(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)", -1))
    spark.read.text(path)
      .filter(col("value") =!= header && col("value") =!= quotedHeader)
      .select(
        from_csv(col("value"), full, Map(
          "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> csvCorrupt)).as("r"),
        col("value"),
        (arity === schema.fields.length).as("_arity_ok"))
  }

  def csvGood(spark: org.apache.spark.sql.SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    readCsvPermissive(spark, path, schema)
      .filter(col(s"r.$csvCorrupt").isNull && col("_arity_ok"))
      .select(col("r.*")).drop(csvCorrupt)

  def csvQuarantine(spark: org.apache.spark.sql.SparkSession, path: String,
                    schema: org.apache.spark.sql.types.StructType): DataFrame =
    readCsvPermissive(spark, path, schema)
      .filter(col(s"r.$csvCorrupt").isNotNull || !col("_arity_ok"))
      .select(col("value").as("raw_line"))

  /** ORC write+read round-trip — the second columnar interchange
    * format (Hive-ecosystem handoff). Same pushdown/pruning contract
    * as parquet: predicates and column pruning reach the ORC scan.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JDBC SOURCE with partition-parallel reads — the migration path
    * for pulling the reference's Postgres tables INTO the lake, and
    * the read half of the [[writeJdbc]]/[[upsertJdbc]] loader.
    * `numPartitions` tasks each pull one [lower, upper) stride of
    * `partCol` concurrently (a single-connection read serializes the
    * whole table through the driver); filters and column pruning
    * push into the remote WHERE clause (the JDBCRelation scan prints
    * PushedFilters), so selective extracts never ship full rows.
    */
  def readJdbcPartitioned(spark: org.apache.spark.sql.SparkSession, url: String,
                          table: String, partCol: String, lower: Long, upper: Long,
                          numPartitions: Int,
                          props: java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, partCol, lower, upper, numPartitions, props)

  /** Z-ordered parquet write: sort by the Morton interleave of two
    * filter dimensions so each file covers a RECTANGLE in (x, y) —
    * row-group min/max stats then prune selective scans on either
    * column, where a single-column sort only helps one
    * (see [[graft.functions.ZOrder]]).
    */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                    partitions: Int = 8): Unit =
    df.withColumn("_z", graft.functions.ZOrder.zvalue(col(xCol), col(yCol)))
      .repartitionByRange(partitions, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Bucketed table write: hash-cluster rows into a fixed number of
    * buckets on the join key at WRITE time, so every later join or
    * aggregation on that key is exchange-free — the shuffle the join
    * would pay per query is paid once at load. This is the
    * co-location contract big fact-to-fact joins need at 100 TB: two
    * tables bucketed the same way (same key, same count) sort-merge
    * join with zero Exchange on either side.
    *
    * The pre-repartition matches Spark's bucket-id hash (Murmur3 pmod
    * numBuckets), so each task owns exactly its buckets and the write
    * emits one file per bucket instead of numBuckets files per task —
    * the classic bucketed-write small-file explosion. Bucket metadata
    * lives in the session catalog (a metastore on a real cluster),
    * which is what lets the planner PROVE co-partitioning and drop
    * the exchanges.
    */
  /** The pre-write layout of [[writeShards]], exposed so its plan can
    * be pinned: ONE hash exchange on the shard id (each shard lands
    * whole in one task, so each shard directory gets ONE file) and a
    * WITHIN-partition sort — no range exchange, no global sort
    * anywhere. The registered `sample_shard_shuffle` query ends in a
    * global orderBy purely so the DuckDB oracle sees a total order;
    * a trainer handoff must not pay that, because within-shard order
    * is all a shard reader consumes and (shard, u, doc_id) sorts
    * each task's rows into exactly that order locally.
    */
  private[graft] def shardLayout(docs: DataFrame, shards: Int): DataFrame =
    graft.operators.Sampling.shardAssign(docs, shards)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("u"), col("doc_id"))

  /** Production twin of the `sample_shard_shuffle` query: write the
    * deterministically shuffled corpus as `shard=K/` parquet
    * directories whose row order IS the query's within-shard
    * (u, doc_id) order — byte-identical shards across runs, engines,
    * and input partitionings, with no rand() and no global sort. The
    * shard count is the scale knob (corpus_bytes / target shard size;
    * thousands of bounded shards at 100 TB), and each shard is one
    * task's bounded sort, spill-safe.
    */
  def writeShards(docs: DataFrame, path: String, shards: Int = 8): Unit =
    shardLayout(docs, shards)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard")
      .parquet(path)

  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.repartition(numBuckets, col(bucketCol))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(rows / rowsPerFile) files. Streaming upserts and
    * per-partition writers accrete small files, and at scale scan
    * cost degrades to per-file open overhead — periodic compaction is
    * the lakehouse OPTIMIZE step. Atomic-ish: writes to a temp dir,
    * then swaps.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              rowsPerFile: Long): Unit = {
    val df = spark.read.parquet(path)
    val files = math.max(1L, (df.count() + rowsPerFile - 1) / rowsPerFile).toInt
    // Hadoop FileSystem, not java.io.File: the path may be hdfs:// or
    // s3a://, where local renames silently do nothing. Resolve the FS
    // from the path's own scheme.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + "_compact_tmp")
    val bak = new org.apache.hadoop.fs.Path(path + "_compact_bak")
    try {
      df.repartition(files).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      // swap via a backup rename so the original is never deleted until
      // the compacted copy is in place — an unchecked delete-then-rename
      // destroys the only copy when the rename fails. Note: the swap is
      // not atomic for concurrent readers (directory renames are not
      // transactional on any of these filesystems) — schedule compaction
      // when the table is not being scanned, or use a table format with
      // snapshot isolation.
      if (fs.exists(bak)) fs.delete(bak, true)
      if (!fs.rename(hPath, bak))
        sys.error(s"compact: could not move $path aside to $bak")
      if (!fs.rename(tmp, hPath)) {
        fs.rename(bak, hPath) // restore
        sys.error(s"compact: could not move $tmp into place at $path")
      }
      fs.delete(bak, true)
    } finally {
      // never strand the tmp copy (e.g. the write or a rename threw)
      if (fs.exists(tmp)) fs.delete(tmp, true)
    }
  }

  /** JDBC batch write — the transport of the reference's loading
    * layer (loadingcsv_topostgre_optimized.py:100-235, execute_values
    * page-size batching / fast_copy_load). Each Spark partition opens
    * its own connection and sends `batchsize` rows per round-trip, so
    * load bandwidth scales with executors instead of funneling through
    * the driver the way the reference's single psycopg2 connection
    * does.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
                props: java.util.Properties, batchSize: Int = 10000,
                mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, props)

  /** Staged JDBC upsert — the distributed form of the reference's
    * `INSERT ... ON CONFLICT DO UPDATE ... WHERE confidence <
    * EXCLUDED.confidence` (entity_matching_tfidf.py
    * upsert_matches_to_postgres): batch-load `updates` into a staging
    * table in parallel, then one set-based MERGE into the target,
    * latest `versionCol` winning (ties go to the update, matching
    * [[upsertLatestWins]]). `updates` must be key-unique — run
    * [[upsertLatestWins]] over the micro-batch first if it is not.
    *
    * `updateWhen` generalizes the guard to the reference's arbitrary
    * `DO UPDATE ... WHERE <old vs EXCLUDED>` predicate: an SQL
    * boolean expression over aliases `t` (target row) and `s` (the
    * staged incoming row — EXCLUDED), e.g.
    * `Some("t.\"confidence\" < s.\"confidence\"")`. When absent the
    * guard stays the latest-wins version comparison. The predicate
    * only gates UPDATEs — unmatched keys always INSERT, as in
    * Postgres.
    */
  def upsertJdbc(updates: DataFrame, url: String, table: String,
                 keyCols: Seq[String], versionCol: String,
                 props: java.util.Properties, batchSize: Int = 10000,
                 updateWhen: Option[String] = None): Unit = {
    val cols = updates.columns.toSeq
    require(cols.exists(!keyCols.contains(_)),
      "upsertJdbc needs at least one non-key column to merge")
    // the table name is interpolated into MERGE/DROP SQL and handed to
    // Spark's JDBC writer verbatim (the writer does not quote table
    // identifiers) — restrict it to plain identifiers rather than
    // trusting the caller's string
    require(table.matches("[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)?"),
      s"upsertJdbc: unsafe table identifier '$table'")
    // unique per-run staging name: two concurrent upserts into the same
    // target must not overwrite each other's staged batch
    val staging = table + "_stg_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    def dropStaging(): Unit = {
      val c = java.sql.DriverManager.getConnection(url, props)
      try {
        val st = c.createStatement()
        try st.executeUpdate(s"DROP TABLE $staging")
        catch { case _: java.sql.SQLException => () }
        finally st.close()
      } finally c.close()
    }
    // a failed batch load must not strand the uniquely-named staging
    // table (unlike a fixed name, nothing would ever reclaim it)
    try writeJdbc(updates, url, staging, props, batchSize, SaveMode.Overwrite)
    catch { case e: Throwable =>
      try dropStaging() catch { case _: Exception => () }
      throw e
    }
    // Spark's JDBC writer quotes COLUMN names (case-exact) but passes
    // the table name through verbatim — mirror that here, or the DB
    // resolves the identifiers differently than the writer created them.
    def q(id: String) = "\"" + id + "\""
    val on = keyCols.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
    val set = cols.filterNot(keyCols.contains).map(c => s"${q(c)} = s.${q(c)}").mkString(", ")
    val guard = updateWhen.getOrElse(s"s.${q(versionCol)} >= t.${q(versionCol)}")
    val merge =
      s"""MERGE INTO $table t USING $staging s ON $on
         |WHEN MATCHED AND $guard THEN UPDATE SET $set
         |WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")})
         |  VALUES (${cols.map(c => s"s.${q(c)}").mkString(", ")})""".stripMargin
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(merge)
      finally {
        // drop staging even when the MERGE throws (e.g. duplicate
        // keys in updates) — otherwise it strands in the DB
        try st.executeUpdate(s"DROP TABLE $staging")
        catch { case _: java.sql.SQLException => () }
        st.close()
      }
    } finally conn.close()
  }
}
