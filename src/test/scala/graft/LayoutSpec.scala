package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

import graft.functions.ZOrder
import graft.operators.Layout

/** Z-order layout: index math and the file-tiling contract of the
  * z-ordered writer (disjoint per-file z-intervals + tight per-file
  * dimension envelopes — what parquet footer pruning skips on).
  */
class LayoutSpec extends SparkSpec {

  test("zindex interleaves bits (known values)") {
    import spark.implicits._
    // x=2 (0b10), y=1 (0b01): bit layout z = y1 x1 y0 x0 = 0b0110 = 6
    val r = Seq((2L, 1L)).toDF("x", "y")
      .select(ZOrder.zindex(2, col("x"), col("y"))).head().getLong(0)
    assert(r === 6L)
    // identity on a single dimension
    val s = Seq(45L).toDF("x")
      .select(ZOrder.zindex(8, col("x"))).head().getLong(0)
    assert(s === 45L)
  }

  test("zindexSql generates the same index as zindex") {
    import spark.implicits._
    val df = Seq((3L, 200L), (255L, 0L), (128L, 127L), (99L, 250L))
      .toDF("zx", "zy")
    val both = df.select(
      ZOrder.zindex(8, col("zx"), col("zy")).as("a"),
      expr(ZOrder.zindexSql(8, Seq("zx", "zy"))).as("b"))
    assert(both.filter(col("a") =!= col("b")).isEmpty)
  }

  test("zorderWrite tiles files into disjoint z-ranges with tight dim envelopes") {
    val dirOut = PlanDsl.tempDir("graft-zorder").toString
    val ev = Tables.events(spark, sf)
      .select(col("event_id"),
        (col("user_id") % 256).as("zx"),
        least(floor(col("value") / lit(2.0)), lit(255.0)).cast("long").as("zy"))
    Layout.zorderWrite(ev, ZOrder.zindex(8, col("zx"), col("zy")), 8, dirOut)

    val files = new java.io.File(dirOut).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length > 1)
    // row count preserved
    val total = files.map(f => spark.read.parquet(f).count()).sum
    assert(total === ev.count())
    // per-file z-intervals are pairwise disjoint (range partitioning)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("_z")), max(col("_z"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) => assert(hiA <= loB)
      case _ =>
    }
    // per-file envelopes on BOTH dims are tighter than the global
    // extent on average — the property multi-dim file skipping rests on
    def area(loX: Long, hiX: Long, loY: Long, hiY: Long): Double =
      (hiX - loX + 1).toDouble * (hiY - loY + 1).toDouble
    val g = spark.read.parquet(dirOut)
      .agg(min("zx"), max("zx"), min("zy"), max("zy")).head()
    val globalArea = area(g.getLong(0), g.getLong(1), g.getLong(2), g.getLong(3))
    val avgFileArea = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("zx"), max("zx"), min("zy"), max("zy")).head()
      area(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }.sum / files.length
    assert(avgFileArea < globalArea / 2.0,
      s"z-order gave no locality: avg file area $avgFileArea vs global $globalArea")
  }

  test("stats index prunes most files on a z-ordered table, losing no rows") {
    val dirOut = PlanDsl.tempDir("graft-skipidx").toString + "/t"
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("value"),
        (col("user_id") % 256).as("zx"),
        least(floor(col("value") / lit(2.0)), lit(255.0)).cast("long").as("zy"))
    Layout.zorderWrite(ev, ZOrder.zindex(8, col("zx"), col("zy")), 32, dirOut)
    Layout.writeStatsIndex(spark, dirOut, Seq("zx", "zy"))

    val idx = spark.read.parquet(dirOut + "_stats")
    val totalFiles = idx.count()
    assert(totalFiles > 16) // the writer produced a real spread of files
    // index row count agrees with the table
    assert(idx.agg(sum("n_rows")).head().getLong(0) === ev.count())

    val bounds = Seq(("zx", 16L, 47L), ("zy", 32L, 95L))
    val selected = idx.filter(
      col("max_zx") >= 16 && col("min_zx") <= 47 &&
      col("max_zy") >= 32 && col("min_zy") <= 95).count()
    // the box is 1/8 x 1/4 of the space; z-order must confine it to a
    // small minority of files
    assert(selected.toDouble / totalFiles < 0.5,
      s"no pruning: $selected of $totalFiles files selected")

    // pruned read == full-scan filter, exactly
    val pruned = Layout.prunedRead(spark, dirOut, bounds)
      .select("event_id").orderBy("event_id").collect().toSeq
    val full = spark.read.parquet(dirOut)
      .filter(col("zx").between(16, 47) && col("zy").between(32, 95))
      .select("event_id").orderBy("event_id").collect().toSeq
    assert(pruned === full)

    // an empty box reads nothing and returns an empty frame
    assert(Layout.prunedRead(spark, dirOut,
      Seq(("zx", 999L, 1000L))).count() === 0)
  }

  test("writeStatsIndex covers appended files and a hive-partitioned layout") {
    import spark.implicits._
    val dir = PlanDsl.tempDir("graft-stats").toString + "/t"
    (0L until 100L).map(i => (i, i % 10)).toDF("id", "zx")
      .repartition(2).write.parquet(dir)
    Layout.writeStatsIndex(spark, dir, Seq("zx"))
    // append new files, then rebuild: every current file is indexed
    (100L until 160L).map(i => (i, 10L + i % 5)).toDF("id", "zx")
      .repartition(3).write.mode("append").parquet(dir)
    Layout.writeStatsIndex(spark, dir, Seq("zx"))
    val after = spark.read.parquet(dir + "_stats").collect()
    assert(after.length === 5)
    assert(after.map(_.getAs[Long]("n_rows")).sum === 160L)
    assert(Layout.prunedRead(spark, dir, Seq(("zx", 12L, 14L)))
      .count() === (100L until 160L).count(i => (10 + i % 5) >= 12 && (10 + i % 5) <= 14))
    // data files two levels down (day=X/part-*.parquet), the partition
    // column itself indexed
    val part = PlanDsl.tempDir("graft-stats-part").toString + "/t"
    (0L until 100L).map(i => (i, i % 10, s"2024-01-0${i % 3 + 1}"))
      .toDF("id", "zx", "day")
      .write.partitionBy("day").parquet(part)
    Layout.writeStatsIndex(spark, part, Seq("zx", "day"))
    val idx = spark.read.parquet(part + "_stats")
    assert(idx.agg(sum(col("n_rows"))).head().getLong(0) === 100L)
    assert(idx.filter(col("min_day") === "2024-01-02").count() >= 1)
  }
}
