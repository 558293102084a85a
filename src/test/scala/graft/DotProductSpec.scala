package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.functions.Vectors
import graft.plans.HllAgg
import graft.ref.VectorsRef

/** Native DotProduct expression: bit-equality with the HOF fold, null
  * semantics, codegen plan shape, and natives needing no session setup.
  */
class DotProductSpec extends SparkSpec {

  test("native dot == HOF dot bit-for-bit on real embeddings") {
    val e = Tables.embeddings(spark, sf)
      .select(Vectors.asDouble(col("embedding")).as("v"))
    val diff = e.select(
        Vectors.dot(col("v"), col("v")).as("a"),
        VectorsRef.dotHof(col("v"), col("v")).as("b"))
      .filter(col("a") =!= col("b"))
    assert(diff.isEmpty)
  }

  test("unequal lengths yield null, matching the zip_with HOF form") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val res = df.select(
      Vectors.dot(col("a"), col("b")).as("native"),
      VectorsRef.dotHof(col("a"), col("b")).as("hof")).head()
    assert(res.isNullAt(0) && res.isNullAt(1))
  }

  test("null array and null element propagate to null") {
    import spark.implicits._
    val df = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)))
      .toDF("a", "b")
    val res = df.select(Vectors.dot(col("a"), col("b")).as("d")).collect()
    assert(res(0).getDouble(0) === 11.0)
    assert(res(1).isNullAt(0))
    val nul = df.select(Vectors.dot(lit(null).cast("array<double>"), col("b"))).head()
    assert(nul.isNullAt(0))
  }

  test("natives evaluate on a session that was never prepared") {
    // a native is a Catalyst node built in Scala, not a session-scoped
    // function name: a fresh session resolves it with no registration
    val fresh = spark.newSession()
    val df = fresh.createDataFrame(Seq(
      (Seq(1.0, 2.0), Seq(2.0, 0.5), "x"),
      (Seq(0.5, 4.0), Seq(2.0, 1.0), "y"),
      (Seq(1.0, 1.0), Seq(1.0, 1.0), "x"))).toDF("a", "b", "v")
    val dots = df.select(Vectors.dot(col("a"), col("b")))
    assert(dots.columns.toSeq === Seq("dotproduct(a, b)"))
    assert(dots.collect().map(_.getDouble(0)).toSeq === Seq(3.0, 5.0, 2.0))
    val est = df.agg(column(HllAgg(expression(col("v"))).toAggregateExpression()))
    assert(est.columns.toSeq === Seq("graft_hll(v)"))
    assert(est.head().getLong(0) === 2L)
  }

  test("participates in codegen") {
    val e = Tables.embeddings(spark, sf)
      .select(Vectors.dot(Vectors.asDouble(col("embedding")),
        Vectors.asDouble(col("embedding"))).as("d"))
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    val plan = e.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("dotproduct") && l.trim.startsWith("*(")), plan.take(500))
  }
}
