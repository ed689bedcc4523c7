package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The shared test session runs under the library's codegen cache size
  * ([[GraftSession.codegenCache]]), and a working set larger than
  * Spark's default of 100 entries stays compiled across passes. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("160 plans with distinct generated code compile once: a second pass compiles nothing") {
    // each literal is inlined into the generated code, so every plan
    // compiles classes of its own (two here: 320 a pass under a
    // 100-entry cache, where the second pass compiles them all again)
    def pass(): Long = {
      val before = compiles
      for (i <- 1 to 160) {
        val got = spark.range(1).selectExpr(s"id * $i + $i AS v").collect()
        assert(got.map(_.getLong(0)).toSeq == Seq(i.toLong))
      }
      compiles - before
    }
    val first = pass()
    assert(first >= 150, s"the first pass compiled only $first classes: too few to exceed a 100-entry cache")
    assert(pass() == 0)
  }
}
