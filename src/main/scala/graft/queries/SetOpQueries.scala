package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Set operations, outer joins, semi/anti (EXISTS) subqueries, HAVING,
  * conditional aggregation and exact percentiles — the remaining
  * general-engine surface a reference user would expect beyond
  * SURVEY §2's minimal inventory (§2.7 notes the reference has zero
  * explicit joins/set-ops; a complete engine must still provide them).
  */
object SetOpQueries {

  type Q = (SparkSession, String) => DataFrame

  /** UNION / INTERSECT / EXCEPT over customer key sets (buyers vs
    * BUILDING-segment customers), reported as labeled counts.
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val buyers = Tables.orders(spark, dir).select(col("o_custkey").as("k")).distinct()
    val building = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k")).distinct()
    def labeled(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("op"), col("n"))
    labeled("except_buyers_building", buyers.except(building))
      .unionByName(labeled("intersect", buyers.intersect(building)))
      .unionByName(labeled("union_all", buyers.unionAll(building)))
      .unionByName(labeled("union_distinct", buyers.union(building).distinct()))
      .orderBy("op")
  }

  /** Left outer join with null-group accounting: every customer with
    * their order count, including customers who never ordered.
    */
  def joinOuter(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("c_custkey")).as("n_customers"),
        count(col("o_orderkey")).as("n_orders"),
        countDistinct(when(col("o_orderkey").isNull, col("c_custkey")))
          .as("n_never_ordered"))
      .orderBy("c_mktsegment")
  }

  /** EXISTS / NOT EXISTS as left-semi / left-anti joins: orders that
    * do/don't contain a high-value line item.
    */
  def existsSubquery(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority")
    val bigItems = Tables.lineitem(spark, dir)
      .filter(col("l_extendedprice") > 50000)
      .select("l_orderkey")
    val withBig = ord.join(bigItems, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_with_big"))
    val withoutBig = ord.join(bigItems, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_without_big"))
    withBig.join(withoutBig, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority"),
        coalesce(col("n_with_big"), lit(0L)).as("n_with_big"),
        coalesce(col("n_without_big"), lit(0L)).as("n_without_big"))
      .orderBy("o_orderpriority")
  }

  /** HAVING + conditional aggregation: nations whose customers hold
    * more than a threshold of total balance, with sign-split sums.
    */
  def havingConditional(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        round(sum(when(col("c_acctbal") > 0, col("c_acctbal")).otherwise(0.0)), 2)
          .as("pos_bal"),
        round(sum(when(col("c_acctbal") <= 0, col("c_acctbal")).otherwise(0.0)), 2)
          .as("nonpos_bal"))
      .filter(col("n_customers") >= 3)
      .orderBy("n_name")
  }

  /** Exact interpolated percentiles (p50/p90/p99) of order value per
    * priority — `percentile` in Spark and `quantile_cont` in DuckDB
    * share the linear-interpolation definition.
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    // r16: exact quantiles by distributed order-statistic SELECTION
    // ([[graft.ext.Quantiles.groupedExact]]) instead of the
    // `percentile` aggregate, whose buffer holds every value of a
    // group in one task and whose final merge runs one task per group
    // (2.15 s at 30× for 5 groups on 32 threads; the selection runs
    // two two-column passes — bit-sliced histogram, then only the
    // slices holding the order statistics are collected; the former
    // global (min,max) pass fell to IEEE-754 order-isomorphic
    // slicing in r18). Interpolation replicates the
    // aggregate bit-for-bit; the aggregate form is the test-scope
    // equality twin `graft.ref.SetOpQueriesRef.percentilesAgg`.
    val res = graft.ext.Quantiles.groupedExact(Tables.orders(spark, dir),
      "o_orderpriority", "o_totalprice", Seq(0.5, 0.9, 0.99))
    def r4(d: Option[Double]): Option[Double] = d.map(x =>
      java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())
    import spark.implicits._
    res.map { case (g, n, vs) => (g, r4(vs(0)), r4(vs(1)), r4(vs(2)), n) }
      .toDF("o_orderpriority", "p50", "p90", "p99", "n")
      .orderBy("o_orderpriority")
  }

  val defs: Map[String, Q] = Map(
    "set_ops" -> (setOps _),
    "join_outer" -> (joinOuter _),
    "exists_subquery" -> (existsSubquery _),
    "having_conditional" -> (havingConditional _),
    "percentiles" -> (percentiles _))

  val oracles: Map[String, String] = Map(
    "set_ops" ->
      """WITH buyers AS (SELECT DISTINCT o_custkey AS k FROM orders),
        |building AS (SELECT DISTINCT c_custkey AS k FROM customer
        |             WHERE c_mktsegment = 'BUILDING')
        |SELECT * FROM (
        |  SELECT 'except_buyers_building' AS op,
        |    (SELECT count(*) FROM (SELECT k FROM buyers EXCEPT SELECT k FROM building) t) AS n
        |  UNION ALL SELECT 'intersect',
        |    (SELECT count(*) FROM (SELECT k FROM buyers INTERSECT SELECT k FROM building) t)
        |  UNION ALL SELECT 'union_all',
        |    (SELECT count(*) FROM (SELECT k FROM buyers UNION ALL SELECT k FROM building) t)
        |  UNION ALL SELECT 'union_distinct',
        |    (SELECT count(*) FROM (SELECT k FROM buyers UNION SELECT k FROM building) t)
        |) x ORDER BY op""".stripMargin,
    "join_outer" ->
      """SELECT c_mktsegment,
        |  count(DISTINCT c_custkey) AS n_customers,
        |  count(o_orderkey) AS n_orders,
        |  count(DISTINCT CASE WHEN o_orderkey IS NULL THEN c_custkey END)
        |    AS n_never_ordered
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "exists_subquery" ->
      """WITH w AS (
        |  SELECT o_orderpriority, count(*) AS n_with_big FROM orders
        |  WHERE EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_extendedprice > 50000)
        |  GROUP BY o_orderpriority),
        |wo AS (
        |  SELECT o_orderpriority, count(*) AS n_without_big FROM orders
        |  WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_extendedprice > 50000)
        |  GROUP BY o_orderpriority)
        |SELECT COALESCE(w.o_orderpriority, wo.o_orderpriority) AS o_orderpriority,
        |  COALESCE(n_with_big, 0) AS n_with_big,
        |  COALESCE(n_without_big, 0) AS n_without_big
        |FROM w FULL OUTER JOIN wo ON w.o_orderpriority = wo.o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "having_conditional" ->
      """SELECT n_name, count(*) AS n_customers,
        |  round(sum(CASE WHEN c_acctbal > 0 THEN c_acctbal ELSE 0 END), 2) AS pos_bal,
        |  round(sum(CASE WHEN c_acctbal <= 0 THEN c_acctbal ELSE 0 END), 2) AS nonpos_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name HAVING count(*) >= 3 ORDER BY n_name""".stripMargin,
    "percentiles" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |  round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
}
