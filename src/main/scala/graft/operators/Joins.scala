package graft.operators

import org.apache.spark.sql.DataFrame

/** Plan-statistics sizing for operators that size their shuffles
  * before running anything ([[graft.ext.Clusters]]' label-propagation
  * width, [[graft.ext.Pq]]'s index-build and encode widths). The
  * estimate costs ZERO Spark jobs — no `count()` action per call.
  */
object Joins {

  /** Estimated row count from the optimized plan's statistics — CBO
    * rowCount when present, else sizeInBytes over the schema's default
    * row width. Never launches a job. The width heuristic can
    * undercount rows 10x+ on wide or well-compressed inputs, so
    * callers treat it as a sizing hint, never as a correctness bound.
    */
  private[graft] def estimatedRows(df: DataFrame): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.min(BigInt(Long.MaxValue)).toLong).getOrElse {
      val width = df.schema.fields.map(_.dataType.defaultSize.toLong).sum.max(1L)
      (stats.sizeInBytes / width).min(BigInt(Long.MaxValue)).toLong.max(1L)
    }
  }
}
