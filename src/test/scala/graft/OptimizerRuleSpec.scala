package graft

import graft.operators.LatestPerKey
import graft.ref.LatestPerKeyRef

/** LatestWindowToMaxBy: the rn=1 window idiom must rewrite to a
  * partially-aggregating max_by and still produce identical rows.
  */
class OptimizerRuleSpec extends SparkSpec {

  private lazy val ev = Tables.events(spark, sf)
    .select("user_id", "ts", "event_id", "event_type", "value")

  test("rn=1 descending window dedup rewrites to max_by") {
    val win = LatestPerKeyRef.viaWindow(ev, Seq("user_id"), Seq("ts", "event_id"))
    val optimized = win.queryExecution.optimizedPlan.toString
    assert(optimized.contains("max_by"), optimized.take(600))
    assert(!optimized.contains("row_number"), optimized.take(600))
    val direct = LatestPerKey(ev, Seq("user_id"), Seq("ts", "event_id"))
    assert(win.exceptAll(direct).isEmpty && direct.exceptAll(win).isEmpty)
  }

  test("rn=1 ascending window rewrites to min_by and matches the window rows") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val wAsc = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val first = ev.withColumn("_rn", row_number().over(wAsc))
      .filter(col("_rn") === 1).drop("_rn")
    val optimized = first.queryExecution.optimizedPlan.toString
    assert(optimized.contains("min_by"), optimized.take(600))
    assert(!optimized.contains("row_number"), optimized.take(600))
    // ground truth via an un-rewritable shape: rank() (the rule only
    // matches row_number), identical rows since (ts, event_id) is unique
    val direct = ev.withColumn("_rk", rank().over(wAsc))
      .filter(col("_rk") === 1).drop("_rk")
    assert(first.exceptAll(direct).isEmpty && direct.exceptAll(first).isEmpty)
  }

  test("rn <= k keeps the window (Spark's WindowGroupLimit handles top-k)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val wDesc = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val top2 = ev.withColumn("_rn", row_number().over(wDesc))
      .filter(col("_rn") <= 2).drop("_rn")
    val optimized = top2.queryExecution.optimizedPlan.toString
    assert(optimized.contains("row_number"), optimized.take(600))
    // Spark's own InsertWindowGroupLimit must still kick in: only k rows
    // per (key, partition) survive the pre-shuffle limit
    assert(optimized.toLowerCase.contains("windowgrouplimit"), optimized.take(600))
    assert(top2.count() > ev.select("user_id").distinct().count())
  }

  test("non-default null ordering and non-deterministic order do NOT rewrite") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // DESC NULLS FIRST: window keeps a null-ordered row, max_by would
    // keep the max non-null row -> must stay a window
    val nullable = ev.withColumn("maybe_ts",
      when(col("event_id") % 7 === 0, col("ts")))
    val wNf = Window.partitionBy(col("user_id"))
      .orderBy(col("maybe_ts").desc_nulls_first, col("event_id").desc)
    val nf = nullable.withColumn("_rn", row_number().over(wNf))
      .filter(col("_rn") === 1).drop("_rn")
    assert(nf.queryExecution.optimizedPlan.toString.contains("row_number"))

    // non-deterministic order expression -> must stay a window
    val wRand = Window.partitionBy(col("user_id")).orderBy(rand(42).desc)
    val rnd = ev.withColumn("_rn", row_number().over(wRand))
      .filter(col("_rn") === 1).drop("_rn")
    assert(rnd.queryExecution.optimizedPlan.toString.contains("row_number"))
  }
}
