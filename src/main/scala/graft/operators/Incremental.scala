package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** High-watermark incremental filter — the reference's hand-rolled
  * incremental-view-maintenance predicates, in the trailing-window
  * `>=` form of
  * `/root/reference/dbt/models/ods/ods_metar_latest.sql:34-39` and
  * `/root/reference/dbt/models/dwh/dw_daily_airport_metrics.sql:31-37`.
  * The strict `>` staging watermark
  * (`/root/reference/dbt/models/stg/stg_metar_observations.sql:14-19`,
  * F2) is applied by [[graft.pipeline.Medallion]]'s stg layer.
  *
  * The watermark is a 1-row aggregate. Instead of collecting it to the
  * driver we broadcast the 1-row aggregate and cross-join — the filter
  * stays fully distributed and the scalar is computed exactly once per
  * run regardless of source size.
  */
object Incremental {

  /** Trailing-window variant: rows with `tsCol >= max(tsCol) - lag`.
    * Used when the "target" is the source itself (reprocess the recent
    * tail; replays stay idempotent because downstream sinks merge on
    * key — reference K4-K7).
    */
  def recentTail(source: DataFrame, tsCol: String, lagExpr: String): DataFrame = {
    val wm = source.agg((max(col(tsCol)) - expr(lagExpr)).as("_wm"))
    source.crossJoin(broadcast(wm))
      .filter(col(tsCol) >= col("_wm"))
      .drop("_wm")
  }
}
