package graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Rewrite

/** [[graft.functions.Rewrite.thenKeep]]: a stage that rewrites a column
  * and then filters on it evaluates its kernel once per row. */
class RewriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("thenKeep: same rows, column order and nulls as withColumn + where") {
    val df = Seq((1L, "a", "x"), (2L, null, "y"), (3L, "ccc", null), (4L, "", "z"))
      .toDF("id", "s", "t")
    def same(name: String, value: org.apache.spark.sql.Column,
        keep: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit = {
      val want = df.withColumn(name, value).where(keep(col(name)))
      val got = Rewrite.thenKeep(df, name, value)(keep)
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(got.schema == want.schema)
      assert(got.collect().toSeq == want.collect().toSeq)
    }
    same("s", upper(col("s")), _ =!= "") // in place, nulls filtered
    same("s", upper(col("s")), c => c.isNull || c =!= "") // in place, nulls kept
    same("n", length(col("t")), _ > 0) // appended
  }

  test("editDistancePairs evaluates levenshtein once") {
    val strs = Seq((1L, "kitten"), (2L, "sitten"), (3L, "mitten"), (4L, "dog"))
      .toDF("id", "t")
    val out = graft.llm.Dedup.editDistancePairs(strs, "id", "t", maxDist = 1)
    assert(RewriteSpec.kernelCount(out.queryExecution.optimizedPlan,
      _.prettyName == "levenshtein") == 1, out.queryExecution.optimizedPlan)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
      Set((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 1)))
  }
}

object RewriteSpec {
  /** Expressions in `plan`'s nodes (generators included) that `is` picks. */
  def kernelCount(plan: LogicalPlan,
      is: org.apache.spark.sql.catalyst.expressions.Expression => Boolean): Int =
    plan.collect { case n =>
      n.expressions.map(_.collect { case e if is(e) => 1 }.size).sum
    }.sum
}
