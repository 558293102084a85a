package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.functions.Text
import graft.plans.ShingleExplode

/** Custom Generator tier: [[ShingleExplode]] must emit exactly the
  * rows explode(Text.shingles(...)) emits, run inside GenerateExec
  * (whole-stage codegen path), and handle edge inputs like the
  * expression does.
  */
class ShingleExplodeSpec extends SparkSpec {

  private def shingleExplode(toks: Column, n: Int): Column =
    column(ShingleExplode(expression(toks), n))

  test("generator == explode of the shingle expression") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x y"),          // shorter than n: whole-text fallback
      (3L, "one two three"),
      (4L, "")).toDF("id", "text")
    val gen = docs.select(col("id"),
        shingleExplode(split(col("text"), " "), 3).as("shingle"))
      .orderBy("id", "shingle").collect().map(r => (r.getLong(0), r.getString(1)))
    val ref = docs.select(col("id"),
        explode(Text.shingles(split(col("text"), " "), 3)).as("shingle"))
      .orderBy("id", "shingle").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(gen.toSeq === ref.toSeq)
    // sanity: 5 tokens -> 3 shingles; 2 tokens -> 1 fallback
    assert(gen.count(_._1 == 1L) === 3)
    assert(gen.count(_._1 == 2L) === 1)
  }

  test("the generator plans as a Generate over the scan") {
    val docs = Tables.documents(spark, sf)
    val p = docs.select(shingleExplode(split(col("text"), " "), 3).as("s"))
      .queryExecution.executedPlan.toString
    assert(p.contains("Generate"), p.take(400))
    assert(p.contains("graft_shingle_explode"), p.take(400))
  }
}
