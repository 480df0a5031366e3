package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate-nearest-neighbor search over the embedding column.
  * Brute-force cosine is the correctness baseline; sign-bit LSH is
  * the scale path (candidates shrink ~2^bits-fold, and the bucket id
  * is a map-side computation, so the search is one equi-join).
  */
object Similarity {

  private def vecsWithNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(
      col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("norm", expr(
        "sqrt(aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"))

  private def cosine: Column =
    round(graft.functions.VectorExprs.dot(col("q.v"), col("e.v"))
      / (col("q.norm") * col("e.norm")), 6)

  /** Brute-force cosine top-10 for the fixed query vector (vec_id 0):
    * a broadcast of one row against the corpus — the exact baseline
    * every ANN variant is judged against. Top-k via TakeOrderedAndProject
    * (per-partition heaps), never a single-partition window sort.
    */
  def knnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = vecsWithNorm(spark, dir)
    val q = e.filter(col("vec_id") === 0)
    val scored = e.as("e").filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q.as("q")))
      .withColumn("cosine", cosine)
      .select(col("e.vec_id").as("vec_id"), col("cosine"))
    graft.functions.TopK.globalWithRank(scored, 10,
      col("cosine").desc, col("vec_id"))
  }

  /** IVF with multi-probe: coarse-quantize with per-label centroids
    * (element-wise mean), route the query to its nprobe=2 nearest
    * centroids, search only those inverted lists. Probing the
    * runner-up cell is the standard recall fix for queries sitting on
    * a Voronoi boundary, at 2/nlist of the corpus instead of all of
    * it. The centroid table is tiny → broadcast; at scale the lists
    * are the partition layout, so a query touches nprobe partitions.
    */
  def knnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = vecsWithNorm(spark, dir)
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"), col("norm").as("qn"))
    ivfProbe(e, ivfCentroids(e), q)
  }

  /** The IVF coarse quantizer: element-wise mean per label via
    * posexplode + regroup — a (label, dim)-keyed aggregation, |labels|
    * output rows.
    */
  private def ivfCentroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(avg("x").as("cx"))
      .groupBy("label")
      .agg(expr("transform(sort_array(collect_list(struct(pos, cx))), s -> s.cx)").as("cv"))

  /** The IVF probe, shared by the in-memory and the persisted-index
    * paths so their results match exactly: route the query to its
    * nprobe=2 nearest centroids (a bounded TakeOrdered over ≤nlist
    * centroid rows by rounded cosine, tie → smallest label), then
    * score only the probed inverted lists.
    */
  private def ivfProbe(lists: DataFrame, centroids: DataFrame, q: DataFrame): DataFrame = {
    val best = centroids.crossJoin(broadcast(q))
      .withColumn("cnorm", graft.functions.Vectors.normHof("cv"))
      .withColumn("csim", round(
        graft.functions.VectorExprs.dot(col("cv"), col("qv"))
          / (col("cnorm") * col("qn")), 6))
      .orderBy(col("csim").desc, col("label"))
      .limit(2)
      .select(col("label").as("target_label"))
    val scored = lists.as("e").join(broadcast(best), col("e.label") === col("target_label"))
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q.as("q")))
      .withColumn("cosine", round(
        graft.functions.VectorExprs.dot(col("e.v"), col("q.qv"))
          / (col("e.norm") * col("q.qn")), 6))
      .select(col("e.vec_id").as("vec_id"), col("e.label").as("label"), col("cosine"))
    graft.functions.TopK.globalWithRank(scored, 5,
      col("cosine").desc, col("vec_id"))
  }

  /** Build the IVF index ONCE and persist it: the centroid table plus
    * the corpus (with precomputed norms) written PARTITIONED BY coarse
    * cell. A stored probe then reads just the nprobe matching
    * partitions — the partition layout IS the inverted-list structure,
    * so index build cost is paid once, not per query (the data-lake
    * analog of the reference loader's build-once CREATE INDEX step,
    * loadingcsv_topostgre_optimized.py optimize_table).
    */
  def buildIvfIndex(spark: SparkSession, dir: String, indexPath: String): Unit = {
    val e = vecsWithNorm(spark, dir)
    ivfCentroids(e).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$indexPath/centroids")
    e.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("label")
      .parquet(s"$indexPath/lists")
  }

  /** Probe a stored IVF index built by [[buildIvfIndex]]. Nothing is
    * recomputed: centroids and inverted lists come off disk, and the
    * probe join against the 2-row broadcast cell set triggers DYNAMIC
    * PARTITION PRUNING on the list layout — the scan touches only the
    * probed cells' files, which is what makes a stored index cheaper
    * than a corpus scan at 100× (nprobe/nlist of the bytes).
    * Identical output to [[knnIvf]] (same probe plan over the same
    * data — IndexSpec pins the round-trip).
    */
  def knnIvfPersisted(spark: SparkSession, dir: String, indexPath: String): DataFrame = {
    val cents = spark.read.parquet(s"$indexPath/centroids")
    val lists = spark.read.parquet(s"$indexPath/lists")
      // partition-column inference may narrow the label type; restore
      // the centroid table's (original) type so output schemas match
      .withColumn("label", col("label").cast(cents.schema("label").dataType))
    val q = vecsWithNorm(spark, dir).filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("norm").as("qn"))
    ivfProbe(lists, cents, q)
  }

  /** [[knnIvfPersisted]] with the index lifecycle handled: build into
    * a per-corpus staging dir on first use, probe the stored index on
    * every later call (bench reps, repeated queries). The staging dir
    * is keyed by an md5 FINGERPRINT of the source file paths, sizes,
    * and mtimes — regenerating the corpus in place changes the
    * fingerprint and forces a rebuild (a path-hash key would silently
    * serve neighbors from the OLD data), and full md5 makes path
    * aliasing across corpora practically impossible.
    */
  def knnIvfIndexed(spark: SparkSession, dir: String): DataFrame = {
    val idx = ensureIndex(dir, "graft_ivf", Seq("centroids", "lists"),
      stage => buildIvfIndex(spark, dir, stage))
    knnIvfPersisted(spark, dir, idx)
  }

  /** Corpus content fingerprint for index staging-dir keys: md5 over
    * the source file paths, sizes, and mtimes — regenerating the
    * corpus in place changes the fingerprint and forces a rebuild (a
    * path-hash key would silently serve neighbors from OLD data).
    */
  private def corpusFingerprint(dir: String, srcFile: String): String = {
    val src = new java.io.File(dir, srcFile)
    val files =
      if (src.isDirectory) src.listFiles().sortBy(_.getName).toSeq else Seq(src)
    java.security.MessageDigest.getInstance("MD5")
      .digest(files.map(f => s"${f.getAbsolutePath}:${f.length}:${f.lastModified}")
        .mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Index lifecycle with a SAFE publish protocol: build into a
    * process-unique staging dir, then atomically rename it onto the
    * fingerprint path. Two concurrent sessions indexing the same
    * corpus each build privately; the first rename wins and the loser
    * discards its staging dir — no session ever probes a dir another
    * session is mid-Overwrite on (the race the old check-then-build
    * had). Stale fingerprint dirs for the SAME corpus path (old
    * mtimes/sizes) are evicted via a `_corpus` marker file, so
    * regenerated corpora don't leak dead indexes into tmpdir forever.
    */
  private[graft] def ensureIndex(dir: String, prefix: String, parts: Seq[String],
                                 build: String => Unit,
                                 srcFile: String = "embeddings.parquet"): String = {
    val corpus = new java.io.File(dir, srcFile).getAbsolutePath
    val fp = corpusFingerprint(dir, srcFile)
    val tmpRoot = new java.io.File(sys.props("java.io.tmpdir"))
    val target = new java.io.File(tmpRoot, s"${prefix}_$fp")
    def complete(d: java.io.File): Boolean =
      parts.forall(p => new java.io.File(d, s"$p/_SUCCESS").exists())
    if (!complete(target)) {
      val stage = new java.io.File(tmpRoot,
        s"${prefix}_stage_${fp}_${java.lang.ProcessHandle.current.pid}_${System.nanoTime}")
      build(stage.getAbsolutePath)
      val marker = new java.io.File(stage, "_corpus")
      java.nio.file.Files.write(marker.toPath, corpus.getBytes("UTF-8"))
      // self-heal: an existing-but-INCOMPLETE target (a publisher
      // crashed mid-rename, or debris from the old build-in-place
      // code) would block renameTo forever — every later call would
      // rebuild and then throw here. Delete the husk before
      // publishing; if a concurrent session completes the target in
      // the window, the rename fails, complete() sees theirs, and
      // ours is discarded as before.
      if (target.exists() && !complete(target)) deleteRecursively(target)
      // rename is atomic on a local filesystem; if a concurrent
      // session published first, keep theirs and drop ours
      if (!stage.renameTo(target) || !complete(target)) {
        if (complete(target)) deleteRecursively(stage)
        else throw new IllegalStateException(
          s"index publish failed for $target")
      }
    }
    // evict stale fingerprints of the same corpus path
    Option(tmpRoot.listFiles()).getOrElse(Array.empty)
      .filter(d => d.getName.startsWith(s"${prefix}_") &&
        !d.getName.startsWith(s"${prefix}_stage_") &&
        d.getName != target.getName)
      .foreach { d =>
        val m = new java.io.File(d, "_corpus")
        if (m.exists() &&
            new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8") == corpus)
          deleteRecursively(d)
      }
    // sweep staging dirs orphaned by crashed builders: a LIVE builder's
    // stage dir is at most minutes old, so an hour-old one is debris
    // (the age gate is what keeps this from racing a concurrent build)
    Option(tmpRoot.listFiles()).getOrElse(Array.empty)
      .filter(d => d.getName.startsWith(s"${prefix}_stage_") &&
        System.currentTimeMillis - d.lastModified > 3600L * 1000)
      .foreach(deleteRecursively)
    target.getAbsolutePath
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Batch ANN: top-3 cosine neighbors for EACH query vector
    * (vec_id < 8) against the rest of the corpus, through the
    * TopKPerGroup custom exec — per-partition bounded heaps per query
    * id, no per-group sort, no window shuffle of the full score
    * stream. This is the shape of production ANN serving (N queries
    * per batch), where a row_number window would sort |corpus|·|batch|
    * scored pairs.
    */
  def knnBatch(spark: SparkSession, dir: String): DataFrame = {
    val e = vecsWithNorm(spark, dir)
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn"))
    val scored = e.filter(col("vec_id") >= 8)
      .crossJoin(broadcast(q))
      .withColumn("cosine", round(
        graft.functions.VectorExprs.dot(col("v"), col("qv"))
          / (col("norm") * col("qn")), 6))
      .select(col("q_id"), col("vec_id"), col("cosine"))
    val top = graft.plans.TopKPerGroup(scored, Seq("q_id"),
      Seq(("cosine", true), ("vec_id", false)), 3)
    // rank recovered over ≤3 rows per group (partitioned window — fine)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cosine").desc, col("vec_id"))))
      .orderBy("q_id", "rank")
  }

  /** Sign-bit LSH with multi-probe: bucket = 8 sign bits of the first
    * 8 dimensions (random-hyperplane LSH with axis-aligned planes —
    * deterministic and engine-portable). The query probes its own
    * bucket plus all 8 Hamming-1 neighbors — the multi-probe LSH
    * recall fix for vectors whose signs sit near a hyperplane —
    * searching 9/2^bits of the corpus instead of one bucket. The
    * probe list is 9 broadcast rows; candidates stay an equi-join.
    */
  def knnSignLsh(spark: SparkSession, dir: String): DataFrame = {
    val bucketExpr = expr(
      """aggregate(sequence(1, 8),
        | CAST(0 AS BIGINT),
        | (acc, i) -> acc + CASE WHEN element_at(v, i) >= 0.0
        |   THEN CAST(pow(2, i - 1) AS BIGINT) ELSE CAST(0 AS BIGINT) END)""".stripMargin)
    val e = vecsWithNorm(spark, dir).withColumn("bucket", bucketExpr)
    // rename the query side before the join: q shares e's lineage, and
    // alias-qualified column refs on a self-join resolve ambiguously.
    // Multi-probe as a Hamming-≤1 condition on the ONE broadcast query
    // row — a map-side filter over the corpus, equivalent to probing
    // the 9 bucket values but with no generator for the optimizer to
    // misprune.
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("norm").as("qn"), col("bucket").as("qbucket"))
    val scored = e.filter(col("vec_id") =!= 0)
      .join(broadcast(q), expr("bit_count(bucket ^ qbucket) <= 1"))
      .withColumn("cosine", round(
        graft.functions.VectorExprs.dot(col("v"), col("qv"))
          / (col("norm") * col("qn")), 6))
      .select(col("vec_id"), col("bucket"), col("cosine"))
    graft.functions.TopK.globalWithRank(scored, 5,
      col("cosine").desc, col("vec_id"))
  }

  /** Deterministic Lloyd's k-means (k=8, 2 assignment rounds, seeds =
    * the first k vectors) over the embedding corpus — the clustering
    * step behind semantic dedup / diversity-balanced sampling of
    * training data (SemDeDup-style: prune within clusters, sample
    * across them).
    *
    * Scale shape: an assignment round is a broadcast of k centroids
    * against the corpus (map-side native dot per (vector, centroid),
    * argmin via min(struct) — partial-aggregated, never a window);
    * the update round is posexplode + per-(cluster, dim) avg — two
    * shuffles of k·dim rows. Nothing is ever collected to the driver
    * and no stage depends on corpus size beyond the scans.
    *
    * Determinism: distances use the ||v||² − 2·v·c + ||c||² identity,
    * rounded to 6 before the argmin (tie → smaller cluster id);
    * updated centroids are rounded per-dimension, so both engines run
    * round 2 from identical inputs.
    */
  /** Shared (vec_id, v, n2) relation under the PlanCache — built once
    * per (session, dir) for every operator that scores against the
    * embedding corpus (k-means, semantic dedup).
    */
  private[operators] def kmeansVecs(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("kmeans_vecs", spark, dir) {
      Tables.embeddings(spark, dir).select(
        col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("n2", graft.functions.VectorExprs.dot(col("v"), col("v")))
    }

  /** One assignment round of the corpus against a broadcast centroid
    * table — the ||v||² − 2·v·c + ||c||² identity with the distance
    * rounded before the min(struct) argmin (tie → smaller cluster
    * id), so both engines agree bit-for-bit.
    */
  private[operators] def assignToCentroids(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(
        cents.withColumn("c2", graft.functions.VectorExprs.dot(col("c"), col("c")))))
      .withColumn("d2", round(
        col("n2") - lit(2.0) * graft.functions.VectorExprs.dot(col("v"), col("c"))
          + col("c2"), 6))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cluster"), col("m.d2").as("dist2"))

  /** Seed-centroid assignment (centroids = the first k vectors) —
    * round 1 of [[clusterKmeans]], also the coarse partition for
    * [[Dedup.dedupSemantic]]. PlanCache'd per k: dedupSemantic feeds
    * it into three plan branches (both pair sides + the output join),
    * which would otherwise re-run the corpus×k argmin three times.
    */
  private[operators] def seedAssignment(spark: SparkSession, dir: String, k: Int): DataFrame =
    graft.PlanCache.cached(s"seed_assign_$k", spark, dir) {
      val e = kmeansVecs(spark, dir)
      assignToCentroids(e,
        e.filter(col("vec_id") < k)
          .select(col("vec_id").cast("int").as("cid"), col("v").as("c")))
    }

  /** Round-1 Lloyd centroids (means of the seed assignment) —
    * PlanCache-shared by [[clusterKmeans]] and the margin diagnostic.
    */
  private def kmeansCentroids(spark: SparkSession, dir: String, k: Int): DataFrame =
    graft.PlanCache.cached(s"kmeans_cents_$k", spark, dir) {
      seedAssignment(spark, dir, k).join(kmeansVecs(spark, dir), "vec_id")
        .select(col("cluster").as("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cid", "dim").agg(round(avg("x"), 6).as("cx"))
        .groupBy("cid")
        .agg(expr("transform(sort_array(collect_list(struct(dim, cx))), s -> s.cx)").as("c"))
    }

  def clusterKmeans(spark: SparkSession, dir: String): DataFrame =
    assignToCentroids(kmeansVecs(spark, dir), kmeansCentroids(spark, dir, 8))
      .orderBy("vec_id")

  /** Cluster-assignment CONFIDENCE: per vector, the distance to its
    * nearest and second-nearest round-1 centroid and the relative
    * margin (d₂−d₁)/d₂ — ≈0 means the vector sits on a cluster
    * boundary (ambiguous under SemDeDup-style semantic partitioning,
    * the re-embed/relabel candidates), →1 means core membership. The
    * 25 most ambiguous vectors, rank-ordered.
    *
    * Scale shape: the corpus × broadcast-k distance scan of
    * [[assignToCentroids]], but keeping the TWO smallest via one
    * bounded sort_array(collect_list) per vector — the array is
    * exactly k entries (k = 8 here; at production k the top-2 would
    * come from two min(struct) passes instead) — then a TakeOrdered
    * top-25. No shuffle carries more than |corpus| bounded rows.
    */
  def embedClusterMargin(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val e = kmeansVecs(spark, dir)
    val cents = kmeansCentroids(spark, dir, k)
      .withColumn("c2", graft.functions.VectorExprs.dot(col("c"), col("c")))
    val scored = e.crossJoin(broadcast(cents))
      .withColumn("d2", round(
        col("n2") - lit(2.0) * graft.functions.VectorExprs.dot(col("v"), col("c"))
          + col("c2"), 6))
      .groupBy("vec_id")
      .agg(sort_array(collect_list(struct(col("d2"), col("cid")))).as("ds"))
      .select(col("vec_id"),
        col("ds")(0).getField("cid").as("cluster"),
        col("ds")(0).getField("d2").as("dist2"),
        round((col("ds")(1).getField("d2") - col("ds")(0).getField("d2"))
          / col("ds")(1).getField("d2"), 6).as("margin"))
    graft.functions.TopK.globalWithRank(scored, 25,
      col("margin").asc, col("vec_id"))
  }

  /** Per-label embedding population stats: count, mean vector norm,
    * and the norm of the label CENTROID — the collapse diagnostic for
    * embedding spaces (centroid_norm ≪ mean_norm ⇒ the label's
    * vectors point in scattered directions; ≈ mean_norm ⇒ they are
    * aligned/duplicated). Norms are one native-codegen dot per row;
    * the centroid is a (label, dim) average — both aggregations are
    * map-side-combinable and the output is |labels| rows.
    */
  def embedLabelStats(spark: SparkSession, dir: String): DataFrame = {
    val e = vecsWithNorm(spark, dir)
    val byLabel = e.groupBy("label").agg(
      count(lit(1)).as("n_vecs"),
      round(avg("norm"), 6).as("mean_norm"))
    val cent = e
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("label", "dim").agg(round(avg("x"), 6).as("cx"))
      .groupBy("label")
      .agg(round(sqrt(sum(col("cx") * col("cx"))), 6).as("centroid_norm"))
    byLabel.join(cent, "label")
      .select("label", "n_vecs", "mean_norm", "centroid_norm")
      .orderBy("label")
  }

  /** Per-dimension embedding health report: mean, population sd, and
    * exact min/max for every coordinate — the first thing to read
    * when a producer ships a broken encoder (dead dims, exploding
    * scales, un-centered axes). One posexplode + one dim-keyed
    * aggregation: partial aggregation happens map-side, so the
    * shuffle carries |dims| rows per partition regardless of corpus
    * size — the same two-scan shape as embed_quantize_int8. Dims are
    * 1-indexed to line up with the oracle's generate_series. min/max
    * are exact float→double casts (order-free); mean/sd round to 6
    * like every embedding aggregate here.
    */
  def embedDimStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(expr(
        "transform(embedding, x -> CAST(x AS DOUBLE))")).as(Seq("dim0", "x")))
      .select((col("dim0") + 1).as("dim"), col("x"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        round(avg("x"), 6).as("mean_x"),
        round(sqrt(greatest(lit(0.0),
          avg(col("x") * col("x")) - avg("x") * avg("x"))), 6).as("sd_x"),
        round(min("x"), 6).as("min_x"),
        round(max("x"), 6).as("max_x"))
      .orderBy("dim")

  /** Mutual k-NN graph over the embedding corpus — the NN-descent /
    * graph-clustering precursor: every vector's top-5 neighbors, then
    * per-node degree, MUTUAL degree (i∈knn(j) ∧ j∈knn(i) — the edge
    * set density-based methods actually trust), and similarity
    * moments. Candidates come from deterministic IVF blocking, not an
    * all-pairs join: each vector routes to its nprobe=2 nearest
    * per-label centroids (rounded cosine, tie → smallest label) and
    * scores only vectors HOMED in those cells — a label-equi-join
    * whose per-source candidate count is ~nprobe/nlist of the corpus.
    * At scale the inverted lists are the partition layout, so the
    * routing broadcast is |labels| rows and the self-join shuffles
    * each vector nprobe times, linear in the corpus. Top-5 via the
    * heap-based TopKPerGroup (no per-group sort); mutuality is one
    * (src,dst)-keyed self-equi-join of the bounded edge list.
    */
  /** IVF-blocked top-5 kNN edge list (src, dst, cosine) shared by
    * [[knnGraphMutual]] and [[embedKnnClassifier]] under the
    * PlanCache — both the mutuality self-join and the vote read it
    * twice; cached it is n·k tiny rows, uncached each consumer
    * re-scores every candidate.
    */
  private def knnGraphEdges(spark: SparkSession, dir: String): DataFrame =
    knnGraphEdges(spark, dir, KnnGraphBroadcastMaxBytes)

  /** Broadcast cap for the kNN-graph corpus side — surfaced like the
    * other measured gates (tfidf dense regime, blocking-eval supplier
    * side) so deployments size it to their executor memory instead of
    * inheriting a buried constant.
    */
  val KnnGraphBroadcastMaxBytes: Long = 256L << 20

  private[graft] def knnGraphEdges(spark: SparkSession, dir: String,
                                   broadcastCorpusMaxBytes: Long): DataFrame = {
    val e = vecsWithNorm(spark, dir)
    val cent = ivfCentroids(e)
      .withColumn("cnorm", graft.functions.Vectors.normHof("cv"))
    val routes = e
      .select(col("vec_id").as("src"), col("v").as("sv"), col("norm").as("sn"))
      .crossJoin(broadcast(cent))
      .withColumn("csim", round(
        graft.functions.VectorExprs.dot(col("cv"), col("sv"))
          / (col("cnorm") * col("sn")), 6))
      .select(col("src"), col("sv"), col("sn"), col("label"), col("csim"))
    val probes = graft.plans.TopKPerGroup(routes,
      Seq("src"), Seq(("csim", true), ("label", false)), 2)
      .select(col("src"), col("sv"), col("sn"), col("label").as("probe_label"))
    // The cell join explodes to ~n·(n·nprobe/nlist) scored rows with
    // the label key's cardinality (~10 cells) as its only
    // parallelism — as a plain shuffle join at sf10 (200k vecs) that
    // wrote tens of GB of wide spill and died on disk. Broadcast the
    // corpus side when its measured bytes fit (decision logged) so
    // the pair stream is generated IN-STAGE, and collapse it with
    // STAGED top-k: map-side partial heaps eat the stream where it is
    // born (each src is partition-local under a broadcast join), the
    // exchange carries only n·k survivors. Per-row bytes are derived
    // from the MEASURED vector dim (vec_id+label+norm+array header
    // ≈ 64 B, 8 B per double element), not a hardcoded constant — a
    // wider embedding column must shrink the row budget, not blow the
    // driver. Above the cap, the label join is SALTED (the Dedup
    // bitset-join discipline): same pairs, `salts`× the parallelism
    // of the ~10-value label key, and the staged top-k still collapses
    // each salt shard map-side before the exchange.
    val nVecs = e.count()
    val dim = if (nVecs > 0)
      e.select(size(col("v"))).head().getInt(0) else 0
    val corpusBytes = nVecs * (64L + 8L * dim)
    val dFits = corpusBytes <= broadcastCorpusMaxBytes
    graft.GateLog.decide("knn_graph.corpus_side", dir,
      if (dFits) "broadcast" else "shuffle_salted",
      s"vecs=$nVecs dim=$dim est=${corpusBytes}B max=${broadcastCorpusMaxBytes}B")
    val dSide = e.select(col("vec_id").as("d_vec_id"), col("label"),
      col("v").as("d_v"), col("norm").as("d_norm"))
    val paired =
      if (dFits)
        probes.withColumnRenamed("probe_label", "label")
          .join(broadcast(dSide), "label")
      else graft.functions.Skew.saltedJoin(
        probes.withColumnRenamed("probe_label", "label"),
        dSide, Seq("label"), col("src"), salts = 32)
    val scored = paired
      .filter(col("src") =!= col("d_vec_id"))
      .withColumn("cosine", round(
        graft.functions.VectorExprs.dot(col("sv"), col("d_v"))
          / (col("sn") * col("d_norm")), 6))
      .select(col("src"), col("d_vec_id").as("dst"), col("cosine"))
    // forced-cap callers (regime specs) must not serve or poison the
    // default-regime cache entry — key the pin by the effective cap
    val cacheKey = if (broadcastCorpusMaxBytes == KnnGraphBroadcastMaxBytes)
      "knn_graph_edges" else s"knn_graph_edges_cap$broadcastCorpusMaxBytes"
    graft.PlanCache.cached(cacheKey, spark, dir) {
      graft.plans.TopKPerGroup.staged(scored, Seq("src"),
        Seq(("cosine", true), ("dst", false)), 5)
    }
  }

  def knnGraphMutual(spark: SparkSession, dir: String): DataFrame = {
    val edges = knnGraphEdges(spark, dir)
    edges.as("a").join(edges.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"),
        "left_outer")
      .select(col("a.src").as("vec_id"), col("a.cosine"),
        col("b.src").isNotNull.cast("long").as("is_mutual"))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("deg"), sum("is_mutual").as("mutual_deg"),
        round(avg("cosine"), 6).as("mean_sim"),
        round(max("cosine"), 6).as("max_sim"))
      .orderBy("vec_id")
  }

  /** kNN label classifier evaluated on the blocked kNN graph: each
    * vector's predicted label is the MAJORITY label of its top-5
    * IVF-blocked cosine neighbors (ties → smaller label), compared to
    * its own label — the standard embedding-space quality probe
    * (label coherence under the metric). Output is the confusion
    * matrix with per-true-label accuracy. The neighbor lists come
    * from the SAME PlanCache'd edge relation [[knnGraphMutual]]
    * reports on, so the two read-outs can never describe different
    * graphs. Bias note: candidates are restricted to the 2 probed
    * cells (documented ANN recall contract, quantified by
    * knn_recall_vs_nprobe) — this evals the SERVED graph, not an
    * exact brute-force one.
    *
    * Scale shape: the vote is one count-by-(src, label) over the n·k
    * edge list + a heap argmax (TopKPerGroup k=1, no per-group
    * sort); the confusion rollup is a bounded |labels|² aggregate.
    */
  def embedKnnClassifier(spark: SparkSession, dir: String): DataFrame = {
    val e = vecsWithNorm(spark, dir)
      .select(col("vec_id"), col("label"))
    val edges = knnGraphEdges(spark, dir)
    val votes = edges
      .join(e.select(col("vec_id").as("dst"), col("label").as("nbr_label")),
        "dst")
      .groupBy(col("src"), col("nbr_label"))
      .agg(count(lit(1)).as("c"))
    val pred = graft.plans.TopKPerGroup(votes, Seq("src"),
      Seq(("c", true), ("nbr_label", false)), 1)
      .select(col("src").as("vec_id"), col("nbr_label").as("pred_label"))
    val cm = pred
      .join(e.select(col("vec_id"), col("label").as("true_label")), "vec_id")
      .groupBy("true_label", "pred_label")
      .agg(count(lit(1)).as("n"))
    val per = cm.groupBy("true_label")
      .agg(sum("n").as("n_true"),
        sum(when(col("pred_label") === col("true_label"), col("n"))
          .otherwise(0L)).as("n_correct"))
    cm.join(per, "true_label")
      .select(col("true_label"), col("pred_label"), col("n"),
        round(col("n_correct").cast("double") / col("n_true"), 6)
          .as("label_accuracy"))
      .orderBy("true_label", "pred_label")
  }

  /** Symmetric per-dimension int8 scalar quantization of the embedding
    * corpus — the storage/bandwidth step before ANN serving (4x smaller
    * vectors, dot products in integer SIMD). Two passes: (1) per-dim
    * scale = max |x| (order-independent exact aggregate — never
    * rounded, the q2 lesson), (2) codes = floor(x·127/scale + 0.5)
    * clamped by construction to [-127, 127], with the per-dim mean
    * absolute reconstruction error reported alongside. The scale table
    * is |dims| rows → broadcast back; both passes are
    * map-side-combinable aggregations over the posexploded corpus, so
    * the plan is two scans + two dim-keyed shuffles of |dims| rows —
    * nothing grows with corpus size except the scans. floor(x + 0.5)
    * instead of round(): identical IEEE semantics in every engine,
    * no HALF_UP-vs-float-round boundary cases.
    */
  def embedQuantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(spark, dir).select(
      posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .as(Seq("pos", "x")))
      .select((col("pos") + 1).as("dim"), col("x"))
    val scales = dims.groupBy("dim").agg(max(abs(col("x"))).as("scale"))
      .filter(col("scale") > 0)
    dims.join(broadcast(scales), "dim")
      .withColumn("code", floor(col("x") * lit(127.0) / col("scale") + lit(0.5)).cast("long"))
      .withColumn("err", abs(col("x") - col("code") * col("scale") / lit(127.0)))
      .groupBy("dim")
      .agg(
        max("scale").as("scale"), // constant within the group
        round(avg("err"), 6).as("avg_abs_err"),
        max(abs(col("code"))).as("max_code"))
      .select(col("dim").cast("int").as("dim"), col("scale"),
        col("avg_abs_err"), col("max_code"))
      .orderBy("dim")
  }

  /** Top principal component of the (centered) embedding corpus via
    * THREE fixed power-iteration rounds — the dimensionality
    * diagnostic behind embedding whitening, anisotropy correction,
    * and "is this space collapsed onto one axis" checks. Output: the
    * 64 loadings of the dominant direction plus the variance share it
    * explains.
    *
    * Scale shape: one round is y = X·v (a map-side native dot against
    * the broadcast one-row direction) then z = Xᵀ·y (posexplode +
    * dim-keyed sum — |dims| output rows), so each round is one corpus
    * pass with nothing driver-side and no d×d Gram matrix
    * materialized (Xᵀ X would be d² per row). Determinism: the seed
    * direction is e₁ and every iterate's loadings are rounded to 6
    * before the next round, so both engines run each round from
    * identical inputs.
    */
  /** Mean-centered corpus (vec_id, c) — shared by [[embedTopPc]] and
    * [[embedTop2Pc]] under the PlanCache.
    */
  private def pcCentered(spark: SparkSession, dir: String): DataFrame = {
    val e = kmeansVecs(spark, dir)
    val mean = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(avg("x").as("mx"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, mx))), s -> s.mx)").as("m"))
    graft.PlanCache.cached("pc_centered", spark, dir) {
      e.crossJoin(broadcast(mean))
        .select(col("vec_id"), expr("zip_with(v, m, (a, b) -> a - b)").as("c"))
    }
  }

  /** 3 fixed power-iteration rounds over `src(vecCol)` from the
    * startAxis basis vector; per-round round-6 pins both engines.
    * Returns the one-row unit direction (column `pc`).
    */
  private def powerIterate(spark: SparkSession, src: DataFrame,
                           vecCol: String, startAxis: Int): DataFrame = {
    val v0 = spark.range(1).select(expr(
      s"transform(sequence(1, 64), i -> CASE WHEN i = $startAxis THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)")
      .as("pc"))
    (1 to 3).foldLeft(v0) { (v, _) =>
      src.crossJoin(broadcast(v))
        .select(posexplode(col(vecCol)).as(Seq("pos", "x")),
          graft.functions.VectorExprs.dot(col(vecCol), col("pc")).as("y"))
        .select(col("pos"), (col("x") * col("y")).as("zy"))
        .groupBy("pos").agg(sum("zy").as("z"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, z))), s -> s.z)").as("zv"))
        .select(expr(
          "transform(zv, x -> round(x / sqrt(aggregate(zv, CAST(0.0 AS DOUBLE), (acc, t) -> acc + t * t)), 6))")
          .as("pc"))
    }
  }

  /** Explained-variance share of direction `pc` on the ORIGINAL
    * centered corpus.
    */
  private def pcShare(cent: DataFrame, direction: DataFrame): DataFrame =
    cent.crossJoin(broadcast(direction))
      .select(graft.functions.VectorExprs.dot(col("c"), col("pc")).as("y"),
        graft.functions.VectorExprs.dot(col("c"), col("c")).as("cn"))
      .agg(round(sum(col("y") * col("y")) / sum("cn"), 6).as("var_share"))

  def embedTopPc(spark: SparkSession, dir: String): DataFrame = {
    val cent = pcCentered(spark, dir)
    val vFinal = powerIterate(spark, cent, "c", startAxis = 1)
    vFinal.select(posexplode(col("pc")).as(Seq("pos", "loading")))
      .crossJoin(broadcast(pcShare(cent, vFinal)))
      .select((col("pos") + 1).cast("int").as("dim"), col("loading"), col("var_share"))
      .orderBy("dim")
  }

  /** Top TWO principal components by DEFLATION: after the dominant
    * direction v1 converges, project it out of every centered vector
    * (c₂ = c − (c·v1)v1 — one map-side zip_with against the broadcast
    * direction, no d×d Gram matrix ever materializes) and run the
    * same fixed power iteration on the residual corpus from the e2
    * axis. Both components' explained-variance shares are measured
    * against the ORIGINAL centered corpus, so they are comparable and
    * (for an exact v1) additive. One corpus pass per round per
    * component — the deflation pattern extends to top-k unchanged.
    */
  def embedTop2Pc(spark: SparkSession, dir: String): DataFrame = {
    val cent = pcCentered(spark, dir)
    val v1 = powerIterate(spark, cent, "c", startAxis = 1)
    val deflated = graft.PlanCache.cached("pc2_deflated", spark, dir) {
      cent.crossJoin(broadcast(v1))
        .withColumn("y", graft.functions.VectorExprs.dot(col("c"), col("pc")))
        .select(col("vec_id"),
          expr("zip_with(c, pc, (a, b) -> a - y * b)").as("c2"))
    }
    val v2 = powerIterate(spark, deflated, "c2", startAxis = 2)
    def component(k: Int, v: DataFrame): DataFrame =
      v.select(posexplode(col("pc")).as(Seq("pos", "loading")))
        .crossJoin(broadcast(pcShare(cent, v)))
        .select(lit(k.toLong).as("component"),
          (col("pos") + 1).cast("int").as("dim"), col("loading"), col("var_share"))
    component(1, v1).unionAll(component(2, v2)).orderBy("component", "dim")
  }

  /** Matryoshka-truncation ablation: recall@10 of a 16-dim PREFIX
    * cosine search against the full 64-dim brute-force truth, per
    * query — the measurement behind shipping truncated (MRL-style)
    * embeddings: how much retrieval quality does 4x less vector
    * memory/bandwidth cost? The dimension-axis counterpart of
    * [[knnRecallPq]] (quantization axis) and [[knnRecallVsNprobe]]
    * (probe axis).
    *
    * Scale shape: ONE scored pass computes both metrics — the corpus
    * streams once against the 8-query broadcast, full and prefix
    * cosines in the same codegen'd projection — then two
    * bounded-heap TopKPerGroup reads and a k-row-per-query semi-join
    * count the overlap. Cosines round to 6 BEFORE ranking with a
    * vec_id tiebreak, so both engines pick identical top-k sets even
    * on the tie-heavier 16-dim scores.
    */
  def embedMatryoshkaRecall(spark: SparkSession, dir: String,
                            prefixDims: Int = 16): DataFrame = {
    val e = vecsWithNorm(spark, dir)
      .withColumn("vp", expr(s"slice(v, 1, $prefixDims)"))
      .withColumn("pnorm", expr(
        "sqrt(aggregate(vp, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn"),
        col("vp").as("qvp"), col("pnorm").as("qpn"))
    val scored = e.filter(col("vec_id") >= 8)
      .crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        round(graft.functions.VectorExprs.dot(col("v"), col("qv"))
          / (col("norm") * col("qn")), 6).as("cos_full"),
        round(graft.functions.VectorExprs.dot(col("vp"), col("qvp"))
          / (col("pnorm") * col("qpn")), 6).as("cos_pre"))
    val truth = graft.plans.TopKPerGroup(
      scored.select("q_id", "vec_id", "cos_full"),
      Seq("q_id"), Seq(("cos_full", true), ("vec_id", false)), 10)
    val cand = graft.plans.TopKPerGroup(
      scored.select("q_id", "vec_id", "cos_pre"),
      Seq("q_id"), Seq(("cos_pre", true), ("vec_id", false)), 10)
    // count via left-outer against the candidate set so a 0-recall
    // query still emits its row (a semi-join would drop it)
    truth
      .join(cand.select(col("q_id"), col("vec_id"), lit(1L).as("hit")),
        Seq("q_id", "vec_id"), "left_outer")
      .groupBy("q_id").agg(coalesce(sum("hit"), lit(0L)).as("n_hits"))
      .select(col("q_id"), lit(10L).as("k"), lit(prefixDims).as("prefix_dims"),
        col("n_hits"),
        round(col("n_hits").cast("double") / 10.0, 6).as("recall_at10"))
      .orderBy("q_id")
  }

  /** ANN quality evaluation: recall@10 of the sign-LSH multi-probe
    * candidate set against the brute-force cosine ground truth for the
    * fixed query — the measure-your-index step every ANN deployment
    * needs before swapping the exact path out. The truth set is k rows
    * (TakeOrdered heaps), the candidate set is a map-side Hamming
    * filter; the intersection is a k-row broadcast semi-join, so the
    * eval costs one corpus scan more than the search itself. One
    * summary row: candidate count, hits, recall.
    */
  def knnRecallEval(spark: SparkSession, dir: String): DataFrame = {
    val bucketExpr = expr(
      """aggregate(sequence(1, 8),
        | CAST(0 AS BIGINT),
        | (acc, i) -> acc + CASE WHEN element_at(v, i) >= 0.0
        |   THEN CAST(pow(2, i - 1) AS BIGINT) ELSE CAST(0 AS BIGINT) END)""".stripMargin)
    val e = vecsWithNorm(spark, dir).withColumn("bucket", bucketExpr)
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("norm").as("qn"), col("bucket").as("qbucket"))
    val truth = graft.functions.TopK.globalWithRank(
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cosine", round(
          graft.functions.VectorExprs.dot(col("v"), col("qv"))
            / (col("norm") * col("qn")), 6))
        .select(col("vec_id"), col("cosine")),
      10, col("cosine").desc, col("vec_id"))
    val cands = e.filter(col("vec_id") =!= 0)
      .join(broadcast(q.select("qbucket")), expr("bit_count(bucket ^ qbucket) <= 1"))
      .select("vec_id")
    val nCands = cands.agg(count(lit(1)).as("n_candidates"))
    val hits = truth.join(cands, "vec_id", "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    nCands.crossJoin(hits)
      .select(lit(10).as("k"), col("n_candidates"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(10.0), 6).as("recall"))
  }

  /** Per-subspace PQ relation: each 64-dim vector split into M=16
    * 4-dim subvectors with their squared norms — the input of
    * codebook training, encoding, and the ADC lookup table. Built
    * once per (session, dir) under the PlanCache.
    */
  private def pqSubs(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("pq_subs", spark, dir) {
      kmeansVecs(spark, dir)
        .select(col("vec_id"), posexplode(expr(
          "transform(sequence(0, 15), m -> slice(v, m * 4 + 1, 4))"))
          .as(Seq("m", "sv")))
        .withColumn("s2", graft.functions.VectorExprs.dot(col("sv"), col("sv")))
    }

  /** One per-subspace assignment round against a broadcast codebook —
    * the subspace form of [[assignToCentroids]]: d² via the norm
    * identity, rounded to 6 before the min(struct) argmin (tie →
    * smaller code id) so both engines agree bit-for-bit.
    */
  private def pqAssign(subs: DataFrame, codebook: DataFrame): DataFrame =
    subs.join(broadcast(codebook.withColumn("c2",
        graft.functions.VectorExprs.dot(col("c"), col("c")))), "m")
      .withColumn("d2", round(
        col("s2") - lit(2.0) * graft.functions.VectorExprs.dot(col("sv"), col("c"))
          + col("c2"), 6))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d2"), col("cid"))).as("mm"))
      .select(col("vec_id"), col("m"), col("mm.cid").as("code"))

  /** Product-quantization ANN — the compression layer of the
    * IVF+PQ design every billion-vector serving stack runs: each
    * vector is stored as M=16 one-byte codes (64 doubles → 16 bytes,
    * 32× smaller), and a query is answered by ADC (asymmetric
    * distance computation) — one M×K (16×64) lookup table of exact
    * query-to-centroid distances, then each candidate's distance is
    * the SUM of M table lookups, never touching the original vectors.
    *
    * Codebooks are trained per subspace exactly like
    * [[clusterKmeans]]: seed centroids = the first K=64 vectors'
    * subvectors, one Lloyd refinement with centroids rounded to 6 —
    * deterministic, so the DuckDB oracle replays training
    * digit-for-digit. Scale shape: training/encoding are corpus ×
    * (M·K)-broadcast passes (map-side, no shuffle of the corpus
    * beyond the per-vec code agg); serving moves only the codes table
    * and broadcasts the M×K lookup table; top-k is
    * TakeOrderedAndProject. At 100 TB the codes table is what makes
    * exhaustive re-ranking feasible — it fits in memory where the
    * vectors do not.
    */
  /** Refined PQ codebook (seed = first 64 vectors' subvectors, one
    * Lloyd round, centroids rounded to 6) — shared by the flat ADC
    * search and the IVF+PQ composition under the PlanCache.
    */
  private def pqCodebook(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("pq_codebook", spark, dir) {
      codebookFrom(pqSubs(spark, dir))
    }

  /** Train the per-subspace codebook from an arbitrary subvector
    * relation (one seeded assignment + mean round — the shared logic
    * behind the cached corpus codebook and append-time rebuilds).
    */
  private def codebookFrom(subs: DataFrame): DataFrame = {
    val seeds = subs.filter(col("vec_id") < 64)
      .select(col("m"), col("vec_id").cast("int").as("cid"), col("sv").as("c"))
    pqAssign(subs, seeds).join(subs, Seq("vec_id", "m"))
      .select(col("m"), col("code").as("cid"), posexplode(col("sv")).as(Seq("dim", "x")))
      .groupBy("m", "cid", "dim").agg(round(avg("x"), 6).as("cx"))
      .groupBy("m", "cid")
      .agg(expr("transform(sort_array(collect_list(struct(dim, cx))), s -> s.cx)").as("c"))
  }

  /** Per-subspace slices of an arbitrary (vec_id, v) relation. */
  private def subsOf(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(expr(
      "transform(sequence(0, 15), m -> slice(v, m * 4 + 1, 4))"))
      .as(Seq("m", "sv")))
      .withColumn("s2", graft.functions.VectorExprs.dot(col("sv"), col("sv")))

  /** The encoded corpus — every vector as M=16 codebook codes. At
    * scale this table (not the vectors) is what a PQ search scans.
    */
  private def pqCodes(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached("pq_codes", spark, dir) {
      pqAssign(pqSubs(spark, dir), pqCodebook(spark, dir))
    }

  /** The query's ADC lookup table: exact distance from each query
    * subvector to each codebook centroid — M×K rows, broadcast.
    */
  private def pqLut(spark: SparkSession, dir: String): DataFrame = {
    val qsub = pqSubs(spark, dir).filter(col("vec_id") === 0)
      .select(col("m"), col("sv").as("qv"), col("s2").as("q2"))
    pqCodebook(spark, dir).join(qsub, "m")
      .withColumn("c2", graft.functions.VectorExprs.dot(col("c"), col("c")))
      .select(col("m"), col("cid").as("code"),
        round(col("q2") - lit(2.0) * graft.functions.VectorExprs.dot(col("qv"), col("c"))
          + col("c2"), 6).as("qd2"))
  }

  def knnPqAdc(spark: SparkSession, dir: String): DataFrame = {
    val adc = pqCodes(spark, dir).filter(col("vec_id") =!= 0)
      .join(broadcast(pqLut(spark, dir)), Seq("m", "code"))
      .groupBy("vec_id").agg(round(sum("qd2"), 6).as("adc_d2"))
    graft.functions.TopK.globalWithRank(adc, 10, col("adc_d2").asc, col("vec_id"))
  }

  /** IVF+PQ — the two-stage design every billion-vector serving
    * stack runs (coarse cells prune the corpus, PQ codes compress
    * what's left): the query routes to its nprobe=2 nearest coarse
    * cells exactly like [[knnIvf]], then ONLY the probed cells'
    * PQ codes are scored by ADC lookup — the scan touches
    * nprobe/nlist of the codes table and never a raw vector. Both
    * stages reuse the cached building blocks ([[ivfCentroids]],
    * [[pqCodebook]], [[pqCodes]]), so the composition adds no new
    * training pass. At 100 TB the codes live partitioned BY cell
    * (the [[buildIvfIndex]] layout), making a query nprobe partition
    * reads of 16-byte rows.
    */
  def knnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = vecsWithNorm(spark, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("norm").as("qn"))
    val best = ivfCentroids(e).crossJoin(broadcast(q))
      .withColumn("cnorm", graft.functions.Vectors.normHof("cv"))
      .withColumn("csim", round(
        graft.functions.VectorExprs.dot(col("cv"), col("qv"))
          / (col("cnorm") * col("qn")), 6))
      .orderBy(col("csim").desc, col("label"))
      .limit(2)
      .select(col("label").as("target_label"))
    val probed = pqCodes(spark, dir)
      .join(e.select("vec_id", "label"), "vec_id")
      .join(broadcast(best), col("label") === col("target_label"))
      .filter(col("vec_id") =!= 0)
    val adc = probed
      .join(broadcast(pqLut(spark, dir)), Seq("m", "code"))
      .groupBy("vec_id", "label").agg(round(sum("qd2"), 6).as("adc_d2"))
    graft.functions.TopK.globalWithRank(adc, 5, col("adc_d2").asc, col("vec_id"))
  }

  /** PQ quantization-distortion report — the OTHER quality gate on
    * the 32x compression: [[knnRecallPq]] asks "does the lossy stack
    * still retrieve the right neighbors", this asks "how much of the
    * signal does each subspace's codebook destroy". Per subspace m:
    * reconstruction MSE (mean ||sv − c_code||², exactly the
    * assignment-time d²), mean subvector energy ||sv||², and their
    * ratio — the per-subspace quantization error rate. A subspace
    * whose err_share is an outlier is where to spend codebook bits
    * (or where a rotation/OPQ step would pay) BEFORE re-encoding a
    * 100-TB corpus. Reuses the cached [[pqSubs]]/[[pqCodebook]]/
    * [[pqCodes]] relations — no new training pass; one broadcast
    * join + a 16-key aggregate over the per-(vec, subspace) stream.
    * err_share divides the two ROUNDED aggregates so both engines
    * compute the ratio from identical operands.
    */
  def embedPqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val cb = pqCodebook(spark, dir)
      .select(col("m").as("cm"), col("cid"), col("c"))
      .withColumn("c2", graft.functions.VectorExprs.dot(col("c"), col("c")))
    pqCodes(spark, dir)
      .join(pqSubs(spark, dir), Seq("vec_id", "m"))
      .join(broadcast(cb), col("m") === col("cm") && col("code") === col("cid"))
      .withColumn("d2", round(col("s2")
        - lit(2.0) * graft.functions.VectorExprs.dot(col("sv"), col("c"))
        + col("c2"), 6))
      .groupBy(col("m").cast("bigint").as("m"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg("d2"), 6).as("mse"),
        round(avg("s2"), 6).as("mean_energy"))
      .withColumn("err_share", round(col("mse") / col("mean_energy"), 6))
      .orderBy("m")
  }

  /** End-to-end quality gate for the lossy serving stack: recall@5
    * of the two-stage IVF+PQ answer ([[knnIvfPq]] — coarse routing +
    * ADC over 16-byte codes) against the exact cosine top-5
    * ([[knnBrute]] truth) — the number that decides whether 32×
    * compression plus nprobe=2 routing is ACCEPTABLE before a corpus
    * commits to the index layout. Complements [[knnRecallEval]]
    * (sign-LSH candidate recall) and [[knnRecallVsNprobe]] (routing
    * sweep); this one measures the full pipeline including
    * quantization distortion. Both member queries are PlanCache
    * -shared compositions, so the eval costs two top-5 joins beyond
    * work already done; its oracle embeds the members' oracles as
    * subqueries (the dedup_method_agreement convention — it can
    * never drift from them).
    */
  def knnRecallPq(spark: SparkSession, dir: String): DataFrame = {
    val truth = knnBrute(spark, dir).filter(col("rank") <= 5).select("vec_id")
    val got = knnIvfPq(spark, dir).select("vec_id")
    got.join(truth, "vec_id")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(5L).as("k"), col("n_hits"),
        round(col("n_hits") / 5.0, 6).as("recall"))
  }

  /** Persist the full IVF+PQ index: coarse centroids, the trained
    * per-subspace codebook, and the encoded corpus (16 bytes/vector)
    * written PARTITIONED BY coarse cell — the complete billion-vector
    * serving layout on disk. Build cost is paid once; a probe reads
    * the 2 small tables plus nprobe partitions of 16-byte code rows.
    */
  def buildIvfPqIndex(spark: SparkSession, dir: String, indexPath: String): Unit = {
    val e = vecsWithNorm(spark, dir)
    ivfCentroids(e).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$indexPath/centroids")
    val subs = subsOf(e)
    val cb = codebookFrom(subs)
    cb.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$indexPath/codebook")
    pqAssign(subs, cb).join(e.select("vec_id", "label"), "vec_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("label")
      .parquet(s"$indexPath/codes")
  }

  /** Probe a stored IVF+PQ index: centroids, codebook, and codes all
    * come off disk; only the query's own subvectors are computed
    * in-memory. The cell join against the 2-row broadcast routing
    * set partition-prunes the codes layout, and the ADC sum never
    * touches a raw corpus vector — identical output to [[knnIvfPq]]
    * (IndexSpec pins the round-trip).
    */
  def knnIvfPqPersisted(spark: SparkSession, dir: String,
                        indexPath: String): DataFrame = {
    val cents = spark.read.parquet(s"$indexPath/centroids")
    val codes = spark.read.parquet(s"$indexPath/codes")
      .withColumn("label", col("label").cast(cents.schema("label").dataType))
    val cb = spark.read.parquet(s"$indexPath/codebook")
    val q = vecsWithNorm(spark, dir).filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("norm").as("qn"))
    val best = cents.crossJoin(broadcast(q))
      .withColumn("cnorm", graft.functions.Vectors.normHof("cv"))
      .withColumn("csim", round(
        graft.functions.VectorExprs.dot(col("cv"), col("qv"))
          / (col("cnorm") * col("qn")), 6))
      .orderBy(col("csim").desc, col("label"))
      .limit(2)
      .select(col("label").as("target_label"))
    val qsub = pqSubs(spark, dir).filter(col("vec_id") === 0)
      .select(col("m"), col("sv").as("qsv"), col("s2").as("q2"))
    val lut = cb.join(broadcast(qsub), "m")
      .withColumn("c2", graft.functions.VectorExprs.dot(col("c"), col("c")))
      .select(col("m"), col("cid").as("code"),
        round(col("q2") - lit(2.0) * graft.functions.VectorExprs.dot(col("qsv"), col("c"))
          + col("c2"), 6).as("qd2"))
    val probed = codes
      .join(broadcast(best), col("label") === col("target_label"))
      .filter(col("vec_id") =!= 0)
    val adc = probed.join(broadcast(lut), Seq("m", "code"))
      .groupBy("vec_id", "label").agg(round(sum("qd2"), 6).as("adc_d2"))
    graft.functions.TopK.globalWithRank(adc, 5, col("adc_d2").asc, col("vec_id"))
  }

  /** [[knnIvfPqPersisted]] with the [[knnIvfIndexed]] lifecycle:
    * build into a corpus-fingerprint staging dir on first use, serve
    * every later query from the stored index.
    */
  def knnIvfPqIndexed(spark: SparkSession, dir: String): DataFrame = {
    val idx = ensureIndex(dir, "graft_ivfpq",
      Seq("centroids", "codebook", "codes"),
      stage => buildIvfPqIndex(spark, dir, stage))
    knnIvfPqPersisted(spark, dir, idx)
  }

  /** FILTERED vector search: top-5 cosine neighbors of the query
    * among vectors satisfying a metadata predicate (label = 3) — the
    * filter+ANN composition every vector store serves (RAG retrieval
    * scoped to a tenant / language / license class). Strategy is
    * PRE-filter: the predicate is applied before any scoring, so it
    * reaches the parquet scan as a pushed filter, and on the
    * [[buildIvfIndex]] layout (partitioned by label) it becomes
    * partition PRUNING — the search never reads, let alone scores, a
    * non-matching cell. Post-filtering an unfiltered top-k would
    * return < k rows whenever the filter is selective; pre-filter
    * keeps top-k semantics exact.
    */
  def knnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = vecsWithNorm(spark, dir)
    val q = e.filter(col("vec_id") === 0)
    val scored = e.as("e")
      .filter(col("e.label") === 3 && col("vec_id") =!= 0)
      .crossJoin(broadcast(q.as("q")))
      .withColumn("cosine", cosine)
      .select(col("e.vec_id").as("vec_id"), col("e.label").as("label"), col("cosine"))
    graft.functions.TopK.globalWithRank(scored, 5,
      col("cosine").desc, col("vec_id"))
  }

  /** Batch ANN through the IVF index: every query in the batch
    * (vec_id < 8) is routed to its own nprobe=2 coarse cells, and
    * only those cells' lists are scored for that query — the
    * production serving shape at 100 TB, where a batch of N queries
    * costs N·(nprobe/nlist) of the corpus instead of N corpus scans
    * ([[knnBatch]] is the exact all-cells baseline).
    *
    * Scale shape: routing is |batch|×|cells| rows (tiny, broadcast
    * both ways); the candidate join replicates each corpus row once
    * per QUERY THAT PROBES ITS CELL (not per query), and per-query
    * top-3 runs through the TopKPerGroup bounded heaps — no window
    * over the score stream.
    */
  def knnBatchIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = vecsWithNorm(spark, dir)
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qn"))
    val routes = ivfCentroids(e).crossJoin(broadcast(q))
      .withColumn("cnorm", graft.functions.Vectors.normHof("cv"))
      .withColumn("csim", round(
        graft.functions.VectorExprs.dot(col("cv"), col("qv"))
          / (col("cnorm") * col("qn")), 6))
    val best = graft.plans.TopKPerGroup(
      routes.select(col("q_id"), col("label"), col("csim")),
      Seq("q_id"), Seq(("csim", true), ("label", false)), 2)
      .select(col("q_id").as("r_qid"), col("label").as("target_label"))
    val scored = e.as("e").filter(col("vec_id") >= 8)
      .join(broadcast(best), col("e.label") === col("target_label"))
      .join(broadcast(q), col("q_id") === col("r_qid"))
      .withColumn("cosine", round(
        graft.functions.VectorExprs.dot(col("e.v"), col("qv"))
          / (col("e.norm") * col("qn")), 6))
      .select(col("q_id"), col("vec_id"), col("label"), col("cosine"))
    val top = graft.plans.TopKPerGroup(scored, Seq("q_id"),
      Seq(("cosine", true), ("vec_id", false)), 3)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cosine").desc, col("vec_id"))))
      .orderBy("q_id", "rank")
  }

  /** Embedding-space outlier report (prototypicality pruning — the
    * SemDeDup-family signal that drops vectors far from their
    * cluster's center as likely mislabeled/noise): every vector's L2
    * distance to its LABEL centroid, z-scored within the label, top-20
    * by |z| (rounded, id tiebreak). Distances and moments come from
    * two label-keyed aggregation passes over the same cached vectors;
    * centroids and stats are broadcast back — the corpus is scanned,
    * never shuffled on anything but the label key.
    */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = vecsWithNorm(spark, dir)
    val cents = ivfCentroids(e)
    val dists = e.join(broadcast(cents), "label")
      .withColumn("d2", expr(
        """aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)),
          | CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin))
      .select(col("vec_id"), col("label"), sqrt(col("d2")).as("dist"))
    val stats = dists.groupBy("label").agg(
      (sum("dist") / count(lit(1))).as("mu"),
      sqrt((sum(col("dist") * col("dist")) / count(lit(1))) -
        (sum("dist") / count(lit(1))) * (sum("dist") / count(lit(1)))).as("sd"))
    val scored = dists.join(broadcast(stats), "label")
      .select(col("vec_id"), col("label"),
        round(col("dist"), 6).as("dist"),
        round((col("dist") - col("mu")) / col("sd"), 6).as("z"))
    graft.functions.TopK.globalWithRank(scored, 20,
      abs(col("z")).desc, col("vec_id"))
  }

  /** The ANN tuning curve: recall@10 of the IVF candidate set as
    * nprobe sweeps 1..3 — measured against the brute-force cosine
    * truth, the "measure, don't guess" table that picks nprobe before
    * a 100 TB index commits to it (more probed cells = more recall =
    * proportionally more bytes read per query; the curve shows where
    * it saturates).
    *
    * Scale shape: truth is one TakeOrdered top-10; ranked cells are a
    * ≤nlist-row relation crossed with 3 nprobe values (broadcast both
    * ways); candidates join the corpus ONCE against the broadcast
    * (nprobe, cell) table, so sweeping nprobe re-reads nothing.
    */
  def knnRecallVsNprobe(spark: SparkSession, dir: String): DataFrame = {
    val e = vecsWithNorm(spark, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("norm").as("qn"))
    val truth = graft.functions.TopK.globalWithRank(
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cosine", round(
          graft.functions.VectorExprs.dot(col("v"), col("qv"))
            / (col("norm") * col("qn")), 6))
        .select(col("vec_id"), col("cosine")),
      10, col("cosine").desc, col("vec_id"))
    val rankedCells = graft.functions.TopK.globalWithRank(
      ivfCentroids(e).crossJoin(broadcast(q))
        .withColumn("cnorm", graft.functions.Vectors.normHof("cv"))
        .withColumn("csim", round(
          graft.functions.VectorExprs.dot(col("cv"), col("qv"))
            / (col("cnorm") * col("qn")), 6))
        .select(col("label"), col("csim")),
      3, col("csim").desc, col("label"))
    val nps = spark.range(1, 4).select(col("id").as("nprobe"))
    val cells = rankedCells.crossJoin(broadcast(nps))
      .filter(col("rank") <= col("nprobe"))
      .select(col("nprobe"), col("label").as("cell"))
    val cands = e.filter(col("vec_id") =!= 0)
      .join(broadcast(cells), col("label") === col("cell"))
      .select("nprobe", "vec_id")
    val counts = cands.groupBy("nprobe").agg(count(lit(1)).as("n_candidates"))
    val hits = cands
      .join(broadcast(truth.select("vec_id")), Seq("vec_id"), "left_semi")
      .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
    counts.join(hits, Seq("nprobe"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("nprobe"), col("n_candidates"), col("n_hits"),
        round(col("n_hits").cast("double") / 10.0, 6).as("recall"))
      .orderBy("nprobe")
  }

  /** Diagonal whitening (per-dimension standardization): corpus
    * per-dim mean/std from ONE (dim)-keyed aggregation pass
    * (E[x²]−E[x]² — no second scan), then w = (x−μ)/σ map-side.
    * Emitted EXPLODED for the first 10 vectors (vec_id, pos, x,
    * white) — the embedding preprocessing step before PQ/IVF
    * training when dimensions have wildly different scales.
    */
  def embedWhitening(spark: SparkSession, dir: String): DataFrame = {
    val px = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .as(Seq("pos", "x")))
    val stats = px.groupBy("pos").agg(
      (sum("x") / count(lit(1))).as("mu"),
      sqrt((sum(col("x") * col("x")) / count(lit(1))) -
        (sum("x") / count(lit(1))) * (sum("x") / count(lit(1)))).as("sd"))
    px.filter(col("vec_id") < 10)
      .join(broadcast(stats), "pos")
      .select(col("vec_id"), col("pos"),
        round(col("x"), 6).as("x"),
        round((col("x") - col("mu")) / col("sd"), 6).as("white"))
      .orderBy("vec_id", "pos")
  }

  /** Normalized mutual information between the k-means partition and
    * the labels — the clustering family's eval metric (the
    * counterpart of community_modularity for LPA and
    * embed_knn_classifier for the kNN graph): NMI =
    * I(C;L) / √(H(C)·H(L)), 0 = independent, 1 = identical
    * partitions. Assignments come from the SAME round-1 centroids
    * cluster_kmeans reports (shared kmeans relations/CTE chain), so
    * the eval can never score a different clustering.
    *
    * Scale shape: the contingency table is one (cluster, label)
    * count aggregate — |C|·|L| cells regardless of corpus size; the
    * entropy/MI terms are per-cell doubles QUANTIZED to
    * round(1e9·term) and summed as BIGINT (the adamic_adar
    * discipline — a float Σ over cells would be partial-aggregation
    * -order dependent), and only the final ratios divide back. One
    * row out.
    */
  def embedClusterNmi(spark: SparkSession, dir: String): DataFrame = {
    val assign = graft.functions.Unordered(clusterKmeans(spark, dir))
      .select("vec_id", "cluster")
    val lbl = Tables.embeddings(spark, dir).select("vec_id", "label")
    val cells = assign.join(lbl, "vec_id")
      .groupBy("cluster", "label").agg(count(lit(1)).as("n_ij"))
    val rc = cells.groupBy("cluster").agg(sum("n_ij").as("n_i"))
    val cc = cells.groupBy("label").agg(sum("n_ij").as("n_j"))
    val tot = cells.agg(sum("n_ij").as("nn"))
    val terms = cells.join(rc, "cluster").join(cc, "label")
      .crossJoin(broadcast(tot))
      .withColumn("mi_u9", round(lit(1e9) *
        (col("n_ij").cast("double") / col("nn")) *
        log(col("nn").cast("double") * col("n_ij")
          / (col("n_i").cast("double") * col("n_j")))).cast("long"))
    val hc = rc.crossJoin(broadcast(tot))
      .withColumn("h_u9", round(lit(-1e9) *
        (col("n_i").cast("double") / col("nn")) *
        log(col("n_i").cast("double") / col("nn"))).cast("long"))
      .agg(sum("h_u9").as("hc_u9"))
    val hl = cc.crossJoin(broadcast(tot))
      .withColumn("h_u9", round(lit(-1e9) *
        (col("n_j").cast("double") / col("nn")) *
        log(col("n_j").cast("double") / col("nn"))).cast("long"))
      .agg(sum("h_u9").as("hl_u9"))
    terms
      .agg(count(lit(1)).as("n_cells"), sum("mi_u9").as("mi_u9"))
      .crossJoin(broadcast(hc)).crossJoin(broadcast(hl))
      .select(col("n_cells"),
        round(col("mi_u9") / 1e9, 6).as("mutual_info"),
        round(col("hc_u9") / 1e9, 6).as("h_cluster"),
        round(col("hl_u9") / 1e9, 6).as("h_label"),
        round(col("mi_u9").cast("double")
          / sqrt(col("hc_u9").cast("double") * col("hl_u9").cast("double")),
          6).as("nmi"))
  }

  /** IVF list-balance health check: per inverted list (coarse cell),
    * its vector count, share, imbalance factor vs the mean list, and
    * the mean member-to-centroid cosine (cell tightness) — the table
    * that predicts ANN tail latency (a hot cell serves every query
    * routed to it; imbalance ×4 ≈ tail ×4) and recall (loose cells
    * leak neighbors to their Voronoi boundary). Run it BEFORE
    * shipping an index; rebalance (split hot cells) when imbalance
    * drifts past ~2.
    *
    * Scale shape: centroids are the tiny broadcast side; member
    * cosines are map-side projections with per-row micro-unit
    * rounding before the per-cell sum; ONE |cells|-key aggregate,
    * totals from the cell table. |cells| rows out.
    */
  def knnIvfBalance(spark: SparkSession, dir: String): DataFrame = {
    val e = vecsWithNorm(spark, dir)
    val cents = ivfCentroids(e)
    val cells = e.join(broadcast(cents), "label")
      .withColumn("cnorm", graft.functions.Vectors.normHof("cv"))
      .withColumn("csim", round(
        graft.functions.Vectors.dot("v", "cv")
          / (col("norm") * col("cnorm")), 6))
      .withColumn("c_u6", round(col("csim") * 1e6).cast("long"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("c_u6").as("s_u6"))
    val tot = cells.agg(sum("n_vecs").as("n_total"),
      count(lit(1)).as("n_lists"))
    cells.crossJoin(broadcast(tot))
      .select(col("label"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("n_total"), 6)
          .as("share"),
        round(col("n_vecs").cast("double") * col("n_lists")
          / col("n_total"), 6).as("imbalance"),
        round(col("s_u6").cast("double") / col("n_vecs") / 1e6, 6)
          .as("avg_centroid_cos"))
      .orderBy("label")
  }

  /** Embedding-space anisotropy histogram: cosine similarity over a
    * deterministic O(N) pair sample (each vector paired with its
    * +1 / +17 / +101 stride neighbors mod N), binned into ten 0.2-wide
    * buckets over [-1, 1] with the per-bucket exact mean — the
    * embedding-collapse health check (a healthy space centers random-
    * pair cosine near 0; mass piling toward 1 means the encoder
    * collapsed and every ANN / dedup / cluster op downstream
    * degrades). Strides are coprime to typical batch sizes, so the
    * sample can't alias a batch-ordering artifact.
    *
    * Scale shape: partner ids are a map-side projection (no pair
    * explosion — exactly 3N pairs); the partner join is an equi-join
    * on the id; per-pair cosines round to micro-units BEFORE the
    * ≤10-key rollup (float sums are order-dependent across engines);
    * the count scalar is a broadcast 1-row relation. ≤10 rows out.
    */
  def embedCosineHistogram(spark: SparkSession, dir: String): DataFrame = {
    val e = vecsWithNorm(spark, dir).select("vec_id", "v", "norm")
    val n = e.agg(count(lit(1)).as("n_vecs"))
    val strides = spark.createDataFrame(
      Seq(Tuple1(1L), Tuple1(17L), Tuple1(101L))).toDF("stride")
    val pairs = e.crossJoin(broadcast(strides)).crossJoin(broadcast(n))
      .withColumn("partner",
        (col("vec_id") + col("stride")) % col("n_vecs"))
      .filter(col("partner") =!= col("vec_id"))
      .select(col("vec_id"), col("partner"),
        col("v").as("va"), col("norm").as("na"))
    val scored = pairs
      .join(e.select(col("vec_id").as("partner"), col("v").as("vb"),
        col("norm").as("nb")), "partner")
      .withColumn("cos", round(
        graft.functions.VectorExprs.dot(col("va"), col("vb"))
          / (col("na") * col("nb")), 6))
      .withColumn("c_u6", round(col("cos") * 1e6).cast("long"))
      .withColumn("bucket", least(lit(9L),
        greatest(lit(0L), floor((col("cos") + 1.0) * 5).cast("long"))))
    // denominator from the PRE-join pair frame (the partner equi-join
    // preserves cardinality — every partner id exists) so the scoring
    // join never runs twice (the graph_clustering_local lesson)
    val tot = pairs.agg(count(lit(1)).as("n_total"))
    scored.groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"), sum("c_u6").as("s_u6"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"),
        round(col("bucket").cast("double") / 5.0 - 1.0, 1).as("lo_edge"),
        col("n_pairs"),
        round(col("n_pairs").cast("double") / col("n_total"), 6)
          .as("share"),
        round(col("s_u6").cast("double") / col("n_pairs") / 1e6, 6)
          .as("avg_cos"))
      .orderBy("bucket")
  }
}
