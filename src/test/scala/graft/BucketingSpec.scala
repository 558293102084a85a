package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** Bucketed-table co-located join: writing both join sides bucketed by
  * the join key lets the sort-merge join read pre-partitioned data with
  * NO exchange on either side — the bucketing story for repeated big
  * joins at 100 TB (pay the shuffle once at write time).
  */
class BucketingSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("bucketed join plans without exchanges and matches unbucketed result") {
    // default warehouse dir (./spark-warehouse, gitignored) — the
    // warehouse conf is static and can't move after session start
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val ord = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")

    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_b")
    ord.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("ord_b")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(800))

      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      assert(joined.count() === expected.count())
      assert(joined.agg(round(sum(col("l_quantity")), 2)).head() ===
        expected.agg(round(sum(col("l_quantity")), 2)).head())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("persisted layout re-attaches via DDL: no exchange, same result") {
    // first call builds the layout (or reuses a prior session's);
    // dropping the catalog entries simulates a NEW process that finds
    // the files on disk and must register them CLUSTERED BY instead of
    // rewriting — the production "existing layout, new metastore" path
    val (liTab, ordTab) =
      queries.RelationalQueries.ensureBucketedTables(spark, sf)
    val expected = spark.table(liTab)
      .join(spark.table(ordTab), col("l_orderkey") === col("o_orderkey"))
      .count()
    spark.sql(s"DROP TABLE $liTab")
    spark.sql(s"DROP TABLE $ordTab")
    val (liTab2, ordTab2) =
      queries.RelationalQueries.ensureBucketedTables(spark, sf)
    assert(liTab2 === liTab && ordTab2 === ordTab)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table(liTab2)
        .join(spark.table(ordTab2), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(800))
      assert(joined.count() === expected)
      // parity against the raw, unbucketed sources
      val raw = Tables.lineitem(spark, sf).select("l_orderkey")
        .join(Tables.orders(spark, sf).select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"))
      assert(joined.count() === raw.count())
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("join_bucketed runs a co-located sort-merge join: no broadcast, no exchange below it") {
    val df = SparkEntry.queries("join_bucketed")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val joins = collect(plan) { case j: SortMergeJoinExec => j }
    assert(joins.size == 1, plan)
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.isEmpty, plan)
    assert(collect(joins.head) { case e: Exchange => e }.isEmpty, joins.head)
  }
}
