package graft

import org.apache.spark.sql.functions._

import graft.functions.Vectors
import graft.ref.VectorsRef

/** Native DotProduct expression: bit-equality with the HOF fold, null
  * semantics, SQL callability, codegen plan shape.
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

  test("callable from SQL and participates in codegen") {
    val r = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(2.0D, 0.5D))").head()
    assert(r.getDouble(0) === 3.0)
    val e = Tables.embeddings(spark, sf)
      .select(Vectors.dot(Vectors.asDouble(col("embedding")),
        Vectors.asDouble(col("embedding"))).as("d"))
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    val plan = e.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("dotproduct") && l.trim.startsWith("*(")), plan.take(500))
  }
}
