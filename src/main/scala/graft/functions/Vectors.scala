package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.plans.DotProduct

/** Dense-vector column math over `array<float>` embedding columns,
  * computed in double precision via higher-order functions (`zip_with`
  * + `aggregate`) — no UDF, no linear-algebra dependency, deterministic
  * left-to-right summation (index order), which keeps results
  * reproducible across engines and run-to-run.
  */
object Vectors {

  /** Cast an embedding column to array<double> once, up front. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Codegen'd native dot product (graft.plans.DotProduct); bit-equal
    * to the HOF formulation `graft.ref.VectorsRef.dotHof` (same
    * ascending-index fold).
    */
  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Project `keep` columns (renamed `from -> to`) plus the
    * unit-normalized vector as `_uv` (zero vectors pass through
    * unchanged). The ONE definition of this oracle-sensitive
    * arithmetic — k-means, SemDeDup and PQ all normalize through it,
    * so the engines' cosine spaces cannot drift apart.
    */
  def unitized(df: DataFrame, vecCol: String,
      keep: (String, String)*): DataFrame = {
    val kept = keep.map { case (from, to) => col(from).as(to) }
    val outs = keep.map { case (_, to) => col(to) }
    df.select(kept :+ asDouble(col(vecCol)).as("_v"): _*)
      .withColumn("_n", norm(col("_v")))
      .select(outs :+
        when(col("_n") > 0, transform(col("_v"), x => x / col("_n")))
          .otherwise(col("_v")).as("_uv"): _*)
  }

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Symmetric int8 quantization scale: 127 / max|x|. Stored per
    * vector; dequantize = q * (1/scale). An all-zero vector (padding
    * row / dead embedding) gets scale 1.0 — the unguarded 127/0 =
    * Infinity would make quantize compute 0·Inf = NaN, which ANSI mode
    * (Spark 4 default) refuses to cast to int, failing the whole job
    * on one degenerate row (zero-passthrough convention of
    * [[unitized]]).
    */
  def quantScale(v: Column): Column = {
    val m = array_max(transform(v, x => abs(x)))
    when(m > 0, lit(127.0) / m).otherwise(lit(1.0))
  }

  /** Int8-quantized vector (round-half-up, like both engines' round on
    * doubles). Per-row map work — the 4× storage/bandwidth shrink that
    * makes billion-scale ANN serving fit in memory; pairs with
    * [[quantScale]] for dequantization.
    */
  def quantize(v: Column, scale: Column): Column =
    transform(v, x => round(x * scale).cast("int"))
}
