package graft.ref

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Test-scope reference forms of [[graft.ext.KMeans]]: the
  * formulations its production code is spec-checked against. Nothing
  * outside the specs runs them.
  */
object KMeansRef {

  /** The k×-expand + rank-window form of [[graft.ext.KMeans.assign]] — the
    * derivation the DuckDB oracles replay, kept as the equality twin for
    * the native rewrite's spec.
    */
  def assignWindow(vecs: DataFrame, centroids: DataFrame,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(round(col("_sim"), 9).desc, col("cluster").asc)
    vecs.crossJoin(broadcast(centroids))
      .withColumn("_sim", Vectors.cosine(col("_uv"), col("_centroid")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(idCol), col("cluster"), col("_uv"),
        round(col("_sim"), 6).as("similarity"))
  }
}
