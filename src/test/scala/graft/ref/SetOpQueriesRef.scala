package graft.ref

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Test-scope reference forms of [[graft.queries.SetOpQueries]]: the
  * formulations its production code is spec-checked against. Nothing
  * outside the specs runs them.
  */
object SetOpQueriesRef {

  /** The `percentile`-aggregate form of
    * [[graft.queries.SetOpQueries.percentiles]] — the derivation the DuckDB
    * oracle replays, kept as the equality twin.
    */
  def percentilesAgg(spark: SparkSession,
      dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
}
