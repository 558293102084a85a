package graft.ref

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Test-scope reference forms of [[graft.operators.LatestPerKey]]: the
  * formulations its production code is spec-checked against. Nothing
  * outside the specs runs them.
  */
object LatestPerKeyRef {

  /** Literal window translation of the reference SQL (shuffles + sorts
    * all rows; prefer [[graft.operators.LatestPerKey.apply]] at scale).
    */
  def viaWindow(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }
}
