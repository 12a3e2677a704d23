package graft

import graft.runner.Measure

/** The measurement harness's own correctness: counters are deterministic
  * properties of the code only if each query's region is reset and
  * drained on its own. */
class MeasureSpec extends SparkTestBase {

  test("Measure counters: two runs of one query give identical jobs, stages and shuffle") {
    val counters = Measure.Counters.install(spark)
    try {
      val Seq(a, b) = Seq.fill(2)(
        Measure.countQuery(spark, counters, sfDir, "q01_pricing_summary"))
      assert(a.jobs > 0 && a.stages > 0 && a.shuffleBytes > 0 && a.shuffleRows > 0, a)
      assert((a.jobs, a.stages, a.shuffleBytes, a.shuffleRows) ===
        ((b.jobs, b.stages, b.shuffleBytes, b.shuffleRows)))
      // every pipeline of the second run was compiled by the first
      assert(b.codegenCompiles === 0, b)
    } finally spark.sparkContext.removeSparkListener(counters)
  }
}
