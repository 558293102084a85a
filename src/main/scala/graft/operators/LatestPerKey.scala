package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** "Latest full row per key" — the reference's `int` layer semantics:
  * `ROW_NUMBER() OVER (PARTITION BY icao ORDER BY observed DESC)` +
  * `rn = 1` (`/root/reference/dbt/models/int/int_metar_latest.sql:9-38`).
  *
  * Two physical strategies with very different 100 TB behavior:
  *
  *  - [[apply]] (default): `max_by(struct(allCols), struct(orderCols))`
  *    — an aggregation with map-side partial aggregation: the shuffle
  *    carries one pre-reduced row per key per map partition. (Spark
  *    plans it as SortAggregate — a per-partition sort on the group
  *    key only, because the struct buffer is not UnsafeRow-mutable —
  *    but never orders the full data.) This is the plan you want at
  *    scale.
  *  - the literal window-function translation shuffles *every* row
  *    and sorts each partition (its test-scope copy is
  *    `graft.ref.LatestPerKeyRef.viaWindow`).
  *
  * Determinism: callers must make `orderCols` a total order (append a
  * unique tie-breaker column, e.g. the row id); otherwise ties are
  * resolved arbitrarily on both paths.
  */
object LatestPerKey {

  /** Keep the max-`orderCols` row per `keys`, preserving the input
    * column set and order.
    */
  def apply(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val payload = struct(df.columns.map(col).toSeq: _*)
    val ord = struct(orderCols.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ord).as("_latest"))
      .select(df.columns.map(c => col(s"_latest.`$c`").as(c)).toSeq: _*)
  }
}
