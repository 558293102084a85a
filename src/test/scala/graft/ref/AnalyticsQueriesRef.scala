package graft.ref

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Test-scope reference forms of [[graft.queries.AnalyticsQueries]]: the
  * formulations its production code is spec-checked against. Nothing
  * outside the specs runs them.
  */
object AnalyticsQueriesRef {

  /** The 3-pass broadcast-back form of
    * [[graft.queries.AnalyticsQueries.outlierMad]] — kept as the one-pass
    * rewrite's equality twin (the derivation the DuckDB oracle replays;
    * AnalyticsSpec pins array == aggregate medians).
    */
  def outlierMadJoined(spark: SparkSession,
      dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(
        round(max(col("med")), 4).as("med"),
        round(max(col("mad")), 4).as("mad"),
        count(lit(1)).as("n"),
        sum(when(abs(col("value") - col("med")) > lit(3.0) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_frac",
        col("n_outliers").cast("double") / col("n"))
      .orderBy("event_type")
  }
}
