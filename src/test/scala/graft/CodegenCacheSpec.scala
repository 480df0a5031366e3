package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Pins the generated-code cache to graft's working set: a second
  * `Pipeline.run` over the same inputs finds every class it needs in
  * the cache. Fails when the cache is smaller than the DAG's classes
  * (Spark's default 100 entries evicts each before its next use) and
  * when a plan inlines a per-run literal into generated code.
  */
class CodegenCacheSpec extends SparkSpec {

  test("a second Pipeline.run compiles no class") {
    val out = java.nio.file.Files.createTempDirectory("graft-codegen").toString
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // each run rebuilds its PlanCache entries, as a fresh pass does
    PlanCache.clear()
    Pipeline.run(spark, sf, out)
    val afterFirst = compiles
    PlanCache.clear()
    Pipeline.run(spark, sf, out)
    assert(compiles - afterFirst == 0)
  }
}
