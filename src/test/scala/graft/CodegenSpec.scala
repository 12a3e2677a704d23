package graft

import org.apache.spark.sql.execution.WholeStageCodegenExec

import graft.core.{Lake, SilverWriter}
import graft.runner.Measure

/** Each query shape compiles once per JVM (`GraftSession.configure`): a
  * compiled pipeline survives more distinct classes than Spark's default
  * 100-entry codegen cache holds, and one pipeline is one class whatever
  * its codegen stage id. Compiles are Janino cache misses, counted by
  * [[Measure.codegenCompiles]]. */
class CodegenSpec extends SparkTestBase {

  /** `f`'s result and the classes compiled while it ran. */
  private def compiling[A](f: => A): (A, Long) = {
    val before = Measure.codegenCompiles()
    val a = f
    (a, Measure.codegenCompiles() - before)
  }

  test("a compiled query is not recompiled after 150 other generated classes") {
    def q() = spark.range(50).selectExpr("id * 7919 + 3 AS x").where("x % 5 = 1").collect()
    val want = q().toSeq
    // int literals are inlined into the generated code: 150 distinct classes
    val (_, others) = compiling(
      (1 to 150).foreach(i => spark.range(3).selectExpr(s"id + $i").collect()))
    assert(others > 100, "the loop must outgrow a 100-entry cache")
    val (again, compiles) = compiling(q().toSeq)
    assert(compiles === 0)
    assert(again === want)
  }

  test("one scan-filter-project pipeline compiles once, as stage 1 or as a later stage") {
    val dir = java.nio.file.Files.createTempDirectory("graft-codegen").toString
    spark.range(200).selectExpr("id", "id % 13 AS k", "CAST(id AS STRING) AS s")
      .write.mode("overwrite").parquet(s"$dir/t")
    val t = Lake.open(spark, s"$dir/t")
    val other = t.where("k = 4").selectExpr("id + 1 AS v", "s")
    val pipeline = t.where("k = 3").selectExpr("id * 2 AS v", "upper(s) AS s")
    val want = other.collect().toSet ++ pipeline.collect().toSet // each as stage 1
    val both = other.union(pipeline)
    val stageIds = both.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.codegenStageId
    }
    assert(stageIds.sorted === Seq(1, 2), "the union's second branch is codegen stage 2")
    val (got, compiles) = compiling(both.collect().toSet)
    assert(compiles === 0)
    assert(got === want)
    SilverWriter.deleteOnExit(dir)
  }
}
