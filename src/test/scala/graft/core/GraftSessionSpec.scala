package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec

import graft.SparkSuite

class GraftSessionSpec extends SparkSuite {

  private def stageCode(df: DataFrame) =
    df.queryExecution.executedPlan.collectFirst { case w: WholeStageCodegenExec => w }
      .getOrElse(fail(s"no whole-stage codegen in ${df.queryExecution.executedPlan}"))
      .doCodeGen()._2

  test("the codegen cache keeps a class while more than Spark's default 100 others compile") {
    val first = stageCode(spark.range(1).selectExpr("id * 7 + 3 AS cache_probe"))
    val compiled = CodeGenerator.compile(first)._1
    // each literal is inlined into the generated source: 150 distinct classes
    (1 to 150).foreach(i => CodeGenerator.compile(stageCode(spark.range(1).selectExpr(s"id + $i"))))
    assert(CodeGenerator.compile(first)._1 eq compiled,
      "the first class was evicted and compiled again")
  }
}
