package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark caches compiled codegen classes JVM-wide, in an LRU cache whose
  * size is the static conf `spark.sql.codegen.cache.maxEntries` (default
  * 100). A working set larger than the cache makes every warm query
  * recompile; `Session.builder` sizes the cache so that it does not.
  */
class CodegenCacheSpec extends SparkTestBase {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the session's codegen cache is graft's size, not Spark's default") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt ==
      Session.CodegenCacheMaxEntries)
  }

  test("a working set above the 100-entry default stays compiled") {
    // each literal is inlined into the generated code, so every projection
    // compiles its own class
    def project(i: Int): Unit = spark.range(8).selectExpr(s"id * $i + 1").collect()
    val before = compiles
    (1 to 150).foreach(project)
    assert(compiles - before > 100, "the fill must overflow Spark's default cache")
    val warm = compiles
    project(1)
    assert(compiles == warm, "the first projection was evicted and recompiled")
  }
}
