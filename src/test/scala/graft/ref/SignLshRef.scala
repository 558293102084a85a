package graft.ref

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.SignLsh._
import graft.functions.Vectors

/** Test-scope reference forms of [[graft.ext.SignLsh]]: the
  * formulations its production code is spec-checked against. Nothing
  * outside the specs runs them.
  */
object SignLshRef {

  /** The bucket self-join form of [[graft.ext.SignLsh.nearDupPairs]] — the
    * derivation the DuckDB oracle replays, kept as the equality twin.
    */
  def nearDupPairsJoined(df: DataFrame, idCol: String,
      vecCol: String, bits: Int, minCosine: Double,
      dim: Int = -1): DataFrame = {
    val planes = hyperplanes(bits, resolveDim(df, vecCol, dim))
    val e = Vectors.unitized(df, vecCol, idCol -> idCol)
      .withColumnRenamed("_uv", "_u")
      .withColumn("_bucket", signature(col("_u"), planes))
    val a = e.select(col("_bucket"), col(idCol).as("id_a"), col("_u").as("_ua"))
    val b = e.select(col("_bucket"), col(idCol).as("id_b"), col("_u").as("_ub"))
    a.join(b, Seq("_bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(Vectors.dot(col("_ua"), col("_ub")), 4))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
