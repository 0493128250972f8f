package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Generated classes are compiled once per JVM: the engine's session sizes
  * Spark's JVM-global codegen cache above graft's working set, so a query
  * shape seen before is a cache hit and never recompiles.
  */
class CodegenCacheSpec extends SparkSpec {

  test("the engine's session reports its codegen cache cap") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000")
  }

  test("a second round of 150 distinct projections compiles no class") {
    // 150 shapes: more than Spark's default cap of 100, so an LRU at the
    // default cycles and recompiles every shape on the second round
    def round(): Unit = (1 to 150).foreach { i =>
      spark.range(4).select((col("id") + i).as("y")).collect()
    }
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    round()
    val before = compiles
    round()
    assert(compiles - before == 0)
  }
}
