package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental view maintenance for ADDITIVE aggregates: merge a
  * signed changelog into a materialized `GROUP BY` result without
  * recomputing untouched groups.
  *
  * The delta is rows tagged `signCol` = +1 (insert) / −1 (retract);
  * counts maintain as Σsign and sums as Σ(sign·x), so a retraction
  * exactly cancels the insert it revokes and replay order is
  * irrelevant (commutative, associative — safe under shuffle and
  * at-least-once delivery). Groups whose maintained count reaches 0
  * vanish, matching a recomputation that never saw them.
  *
  * Scale shape: the delta is aggregated FIRST (map-side partials,
  * delta-sized shuffle), then FULL OUTER joined with the materialized
  * base co-partitioned on the group keys — work proportional to
  * |delta groups| + |base|-scan, never a re-aggregation of the raw
  * fact history. Persisted through [[MergeWriter.upsertPartitioned]]
  * with a date group key, only partitions holding touched groups
  * rewrite — the standard nightly-rollup maintenance shape at 100 TB.
  * Non-additive measures (min/max/distinct) are NOT maintainable this
  * way under retraction — recompute affected groups instead.
  */
object Ivm {

  /** Apply `delta` (raw signed rows) onto `base` (materialized
    * aggregate). `base` must carry `keys`, `countCol` and the output
    * columns of `sumCols` (`source row column -> base/output name`).
    */
  def applyDelta(base: DataFrame, delta: DataFrame, keys: Seq[String],
      countCol: String, sumCols: Seq[(String, String)],
      signCol: String = "_sign"): DataFrame = {
    val sign = col(signCol).cast("long")
    val aggs = sum(sign).as(s"_d_$countCol") +:
      sumCols.map { case (src, out) => sum(sign * col(src)).as(s"_d_$out") }
    val dAgg = delta.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val merged = base.join(dAgg, keys, "full_outer")
    val outs = keys.map(col) ++ (
      (countCol +: sumCols.map(_._2)).map { c =>
        (coalesce(col(c), lit(0L)) + coalesce(col(s"_d_$c"), lit(0L))).as(c)
      })
    merged.select(outs: _*).filter(col(countCol) =!= 0)
  }

  /** Persisted form: maintain the materialized view at `viewDir` under
    * a delta batch — the `foreachBatch` body of a streaming IVM sink.
    * Read-merge-swap is O(|view|) per batch (the view is aggregate-
    * sized, not fact-sized); with a date group key the partitioned
    * variant of the same swap touches only partitions holding changed
    * groups.
    *
    * Unlike the keyed merge sinks (idempotent by construction), a
    * signed-delta fold is NOT naturally idempotent — an at-least-once
    * replayed batch would double-apply. `batchId` closes that: the
    * applied id commits in a [[BatchMarker]] INSIDE the same
    * atomic swap as the data, and a batch at or below the recorded id
    * is skipped on replay.
    */
  def applyDeltaToTable(viewDir: String, delta: DataFrame, keys: Seq[String],
      countCol: String, sumCols: Seq[(String, String)],
      signCol: String = "_sign", batchId: Option[Long] = None): Unit = {
    val spark = delta.sparkSession
    MergeWriter.restore(spark, viewDir)
    spark.catalog.refreshByPath(viewDir)
    val exists = MergeWriter.exists(spark, viewDir)
    if (exists && batchId.isDefined &&
        MergeWriter.marker(spark, viewDir, BatchMarker)
          .exists(_ >= batchId.get)) return
    val base =
      if (exists) spark.read.parquet(viewDir)
      else {
        // empty base in the view's shape: first delta bootstraps the view
        val zero = delta.filter(lit(false))
        val aggs = sum(col(signCol).cast("long")).as(countCol) +:
          sumCols.map { case (src, out) => sum(col(src)).cast("long").as(out) }
        zero.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      }
    MergeWriter.replace(spark, viewDir,
      applyDelta(base, delta, keys, countCol, sumCols, signCol),
      marker = batchId.map(BatchMarker -> _))
  }

  /** The [[MergeWriter.marker]] holding the last applied batch id. */
  val BatchMarker = "_ivm_batch"
}
