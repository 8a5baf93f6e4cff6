package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The engine's codegen-cache bound ([[Engine.CodegenCacheEntries]]) keeps
  * a warm query's generated classes across more distinct compiles than
  * Spark's default bound of 100 holds. */
class CodegenCacheSpec extends SparkTestBase {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm query compiles nothing after 100+ other classes were generated") {
    def fixed(): Unit =
      spark.range(0, 1000, 1, 2).selectExpr("id * 7919 + 13 AS x").where("x % 3 = 1").collect()
    fixed()
    val warm = compiles
    fixed()
    assert(compiles == warm, "an identical re-run must hit the cache")

    // distinct literals: each query generates its own classes
    (1 to 80).foreach { i =>
      spark.range(0, 100, 1, 2).selectExpr(s"id * ${7 * i + 1} + $i AS x").collect()
    }
    val others = compiles - warm
    assert(others > 100, s"only $others classes compiled; the check needs more than 100")

    val before = compiles
    fixed()
    assert(compiles == before,
      s"the warm query recompiled ${compiles - before} classes after $others others")
  }
}
