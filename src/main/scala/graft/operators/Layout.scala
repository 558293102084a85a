package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical data-layout optimization: write a table z-ordered on a set
  * of quantized dimensions so multi-dimensional predicates skip files.
  *
  * Shape: ONE range-partitioning shuffle on the z-index (sampled range
  * bounds → files tile the curve into disjoint z-intervals), an
  * in-partition sort, and a plain parquet write. No collect, no
  * global sort — `repartitionByRange` scales to any file count, and
  * the per-file footer min/max of every indexed dimension is what a
  * 100 TB scan prunes on.
  */
object Layout {

  /** Write `df` z-ordered by `z` into `numFiles` range-partitioned
    * parquet files at `path`. The z column is kept in the output
    * (name `_z`) — it is the file-pruning handle and costs 8 bytes.
    */
  def zorderWrite(df: DataFrame, z: Column, numFiles: Int, path: String): Unit =
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .write.mode("overwrite").parquet(path)

  /** Build the per-file min/max stats index of `cols` for the parquet
    * table at `path` — the skipping metadata a lakehouse keeps in its
    * manifest. One scan pruned to the indexed columns, partial min/max
    * per file before the (#files)-row shuffle; the index is file-count
    * sized, not data sized. Persist it with [[writeStatsIndex]] and
    * rebuild it when files change.
    */
  def statsIndex(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    spark.read.parquet(path)
      .select(col("_metadata.file_path").as("file") +: cols.map(col): _*)
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Persist the stats index next to the table (sibling `<path>_stats`
    * dir — parquet dirs cannot hold a second dataset).
    */
  def writeStatsIndex(spark: SparkSession, path: String, cols: Seq[String]): Unit =
    statsIndex(spark, path, cols).repartition(1)
      .write.mode("overwrite").parquet(path + "_stats")

  /** Read `path` scanning ONLY files whose [min,max] envelope overlaps
    * every `(col, lo, hi)` bound, using the persisted stats index; the
    * residual predicate still applies (file stats admit false
    * positives, never false negatives). The driver-side file list is
    * index-sized metadata — the same listing a format like Delta/Iceberg
    * resolves before planning. Combined with [[zorderWrite]], a k-dim
    * range predicate prunes to the few files tiling the matching curve
    * segment ([[LayoutSpec]] asserts the actual skip counts).
    */
  def prunedRead(spark: SparkSession, path: String,
      bounds: Seq[(String, Long, Long)]): DataFrame = {
    val idx = spark.read.parquet(path + "_stats")
    val overlap = bounds.map { case (c, lo, hi) =>
      col(s"max_$c") >= lo && col(s"min_$c") <= hi
    }.reduce(_ && _)
    val files = idx.filter(overlap).select("file")
      .collect().toSeq.map(_.getString(0))
    val residual = bounds.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi
    }.reduce(_ && _)
    val base =
      if (files.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(files: _*)
    base.filter(residual)
  }
}
