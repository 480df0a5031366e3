package graft

import java.nio.file.Files

/** Lifecycle pins for the persisted ANN index: build once, write,
  * probe the stored copy — the probe must match the in-memory result
  * exactly AND touch only the probed cells (dynamic partition pruning
  * on the list layout). Recall of the candidate generation itself is
  * pinned separately by knn_recall_eval.
  */
class IndexSpec extends SparkSpec {

  test("IVF index round-trip: build -> write -> probe matches in-memory knn_ivf") {
    val idx = Files.createTempDirectory("graft-ivf").toString
    operators.Similarity.buildIvfIndex(spark, sf, idx)
    val mem = operators.Similarity.knnIvf(spark, sf)
    val disk = operators.Similarity.knnIvfPersisted(spark, sf, idx)
    assert(disk.schema == mem.schema,
      s"stored-index probe must keep the schema:\n${disk.schema}\nvs\n${mem.schema}")
    assert(disk.collect().toSeq == mem.collect().toSeq,
      "stored-index probe must return the in-memory result")
  }

  test("IVF probe prunes the list partitions it does not probe") {
    val idx = Files.createTempDirectory("graft-ivf-dpp").toString
    operators.Similarity.buildIvfIndex(spark, sf, idx)
    val probe = operators.Similarity.knnIvfPersisted(spark, sf, idx)
    val p = probe.queryExecution.executedPlan.toString
    // the 2-cell broadcast must reach the lists scan as a dynamic
    // partition filter — without it the "index" degenerates to a full
    // corpus scan and the stored layout buys nothing at scale
    assert(p.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the lists scan:\n${p.take(3000)}")
  }

  test("IVF+PQ index round-trip: stored probe equals the in-memory composition") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    operators.Similarity.buildIvfPqIndex(spark, sf, dir)
    val stored = operators.Similarity.knnIvfPqPersisted(spark, sf, dir).collect()
    val mem = operators.Similarity.knnIvfPq(spark, sf).collect()
    assert(stored.map(_.toSeq).toSeq == mem.map(_.toSeq).toSeq,
      s"stored ${stored.toSeq} vs in-memory ${mem.toSeq}")
    // the codes layout is partitioned by coarse cell
    val cells = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.getName.startsWith("label="))
    assert(cells.nonEmpty, "codes must be laid out one directory per cell")
  }

  test("knnIvfIndexed builds on first use and reuses the stored index after") {
    val out1 = operators.Similarity.knnIvfIndexed(spark, sf).collect().toSeq
    // second call must hit the already-written index (same result)
    val out2 = operators.Similarity.knnIvfIndexed(spark, sf).collect().toSeq
    val mem = operators.Similarity.knnIvf(spark, sf).collect().toSeq
    assert(out1 == mem && out2 == mem)
  }

  test("ensureIndex self-heals an incomplete target and sweeps orphan stages") {
    val prefix = s"graft_testidx${System.nanoTime}"
    var builds = 0
    def build(stage: String): Unit = {
      builds += 1
      spark.range(3).write.parquet(s"$stage/part")
    }
    val tmpRoot = new java.io.File(sys.props("java.io.tmpdir"))
    try {
      val p1 = operators.Similarity.ensureIndex(sf, prefix, Seq("part"), build)
      assert(builds == 1)
      // cached: a second call must not rebuild
      assert(operators.Similarity.ensureIndex(sf, prefix, Seq("part"), build) == p1)
      assert(builds == 1)
      // an existing-but-incomplete target (crashed publisher debris)
      // must be replaced, not block every later publish forever
      assert(new java.io.File(s"$p1/part/_SUCCESS").delete())
      val orphan = new java.io.File(tmpRoot, s"${prefix}_stage_orphan")
      assert(orphan.mkdir())
      assert(orphan.setLastModified(System.currentTimeMillis - 2 * 3600L * 1000))
      val p2 = operators.Similarity.ensureIndex(sf, prefix, Seq("part"), build)
      assert(builds == 2 && p2 == p1)
      assert(new java.io.File(s"$p2/part/_SUCCESS").exists())
      assert(spark.read.parquet(s"$p2/part").count() == 3)
      // the hour-old orphaned staging dir was swept; the fresh target stayed
      assert(!orphan.exists())
    } finally {
      Option(tmpRoot.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(prefix))
        .foreach { d =>
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(); ()
          }
          rm(d)
        }
    }
  }
}
