package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session defaults every entry point builds from
  * (`GraftSession.configs`). */
class GraftSessionSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("codegen cache: a plan stays compiled while 200 other plans run") {
    def planA(): Unit =
      spark.range(1000).selectExpr("id % 7 AS k", "id * 3 AS v")
        .groupBy("k").sum("v").collect()
    planA()
    val afterA = compiles
    (1 to 200).foreach(i => spark.range(10).selectExpr(s"id + $i").collect())
    val afterOthers = compiles
    // the other plans really compiled: enough to evict A from a cache of
    // Spark's default 100 entries
    assert(afterOthers - afterA >= 150, s"only ${afterOthers - afterA} compiles")
    planA()
    assert(compiles === afterOthers, "plan A was compiled again")
  }
}
