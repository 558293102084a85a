package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Generalized relational surface over the TPC-H-ish tables: the
  * operator classes the reference exercises only in miniature
  * (aggregation, filters, casts) plus the ones any user of a general
  * engine needs (joins, windows, rollup) — SURVEY §2.5-§2.8's
  * "generalization" rows.
  *
  * Scale notes per query are in each Scaladoc; dimension joins use
  * explicit `broadcast()` so the 100 TB plan has no shuffle on the fact
  * table for dimension enrichment.
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** TPC-H Q1-shaped scan-heavy aggregation: single pass over
    * `lineitem`, hash agg with map-side combine on a 6-value grouping
    * key. The shipdate filter and the 7-column projection both push
    * into the parquet scan.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") < lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Fact-to-fact join (lineitem ⋈ orders, both shuffled on the join
    * key — AQE picks SMJ/SHJ) plus two broadcast dimension hops
    * (customer is small relative to facts; at 100 TB customer would be
    * bucketed or shuffled while nation/region always broadcast).
    * Revenue by market segment and order status.
    */
  def revenueBySegment(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val ord = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderstatus"))
      .agg(round(sum(col("rev")), 2).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("c_mktsegment", "o_orderstatus")
  }

  /** TPC-H Q5-shaped snowflake join: facts joined through customer →
    * nation → region with every dimension broadcast; group by the
    * region/nation names. No shuffle except the lineitem⋈orders one.
    */
  def regionalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("rev")), 2).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** The salted-join skew shape behind the correctness gate: revenue
    * per supplier nation through [[graft.operators.Skew.saltedJoin]]
    * (fact side salted 8 ways on a row-id expression, dimension
    * replicated per salt) — proving the rewrite is result-identical to
    * the plain join. On skew-free data the salt is pure overhead (and
    * supplier would broadcast anyway); the query exists to gate the
    * operator a 100 TB plan reaches for when one hot key owns a
    * reducer.
    */
  def joinSalted(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir).select(
      col("l_suppkey").as("suppkey"), col("l_extendedprice"),
      col("l_discount"), col("l_orderkey"), col("l_linenumber"))
    val small = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    graft.operators.Skew
      .saltedJoin(big, small, Seq("suppkey"),
        spread = col("l_orderkey") * lit(7) + col("l_linenumber"), salts = 8)
      .groupBy(col("s_nationkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("s_nationkey")
  }

  /** Bucketed co-located join behind the correctness gate: both sides
    * written bucketed on the join key (datasource tables, no Hive),
    * then joined under a `shuffle_merge` hint — the sort-merge join reads
    * pre-partitioned buckets with NO exchange on either side
    * (plan-guarded in `BucketingSpec`). This is how a 100 TB fact
    * table joins repeatedly without re-shuffling: pay the partition
    * once at write time — and the staging honors that contract ACROSS
    * processes: the layout persists under a corpus-signature key
    * (source path + file length/mtime, so a regenerated corpus
    * rebuilds), and a fresh session re-attaches to it with
    * `CREATE TABLE ... CLUSTERED BY ... LOCATION` instead of
    * rewriting — the exact DDL a production deployment uses to
    * register an existing bucketed layout with a new metastore. The
    * recurring cost is the join; only the first process after a
    * corpus change pays the write.
    */
  def ensureBucketedTables(spark: SparkSession, dir: String): (String, String) = {
    // signature = the data-file listing of both source tables
    // ([[graft.operators.Persisted.signature]]): a regenerated corpus
    // can never silently re-attach a stale bucketed layout
    val sig = graft.operators.Persisted.signature(spark, Nil,
      Seq(s"$dir/lineitem.parquet", s"$dir/orders.parquet"))
    val liTab = s"graft_li_bucketed_$sig"
    val ordTab = s"graft_ord_bucketed_$sig"
    val wh = graft.operators.Persisted
      .ensure(spark, "graft-bucketed", sig) { staging =>
        val li = Tables.lineitem(spark, dir).select("l_orderkey",
          "l_quantity", "l_extendedprice", "l_discount")
        val ord = Tables.orders(spark, dir).select("o_orderkey", "o_orderdate")
        // throwaway catalog names: the write API only produces a
        // BUCKETED layout through saveAsTable; the files outlive the
        // dropped external-table entries and the real names attach below
        spark.sql(s"DROP TABLE IF EXISTS ${liTab}_stage")
        spark.sql(s"DROP TABLE IF EXISTS ${ordTab}_stage")
        li.write.mode("overwrite").option("path", s"$staging/li")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable(s"${liTab}_stage")
        ord.write.mode("overwrite").option("path", s"$staging/ord")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(s"${ordTab}_stage")
        spark.sql(s"DROP TABLE IF EXISTS ${liTab}_stage")
        spark.sql(s"DROP TABLE IF EXISTS ${ordTab}_stage")
      }
    // register over the persisted files — never rewrite. saveAsTable-
    // written bucket files carry the bucket id in their names, so a
    // table declared with the IDENTICAL CLUSTERED BY spec reads them
    // co-located (BucketingSpec gates the re-attached plan for
    // no-exchange + result parity).
    def attach(tab: String, sub: String, key: String): Unit =
      if (!spark.catalog.tableExists(tab)) {
        val schema = spark.read.parquet(s"$wh/$sub").schema
        spark.sql(s"CREATE TABLE $tab (${schema.toDDL}) USING PARQUET " +
          s"CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS " +
          s"LOCATION '$wh/$sub'")
      }
    attach(liTab, "li", "l_orderkey")
    attach(ordTab, "ord", "o_orderkey")
    (liTab, ordTab)
  }

  def joinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val (liTab, ordTab) = ensureBucketedTables(spark, dir)
    // the hint keeps the co-located sort-merge join that the bucketing
    // exists for; without it the small orders side would broadcast
    spark.table(liTab)
      .join(spark.table(ordTab).hint("shuffle_merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        round(sum(col("l_quantity")), 2).as("total_qty"),
        count(lit(1)).as("n_items"))
      .orderBy("order_year")
  }

  /** Bloom-pruned fact-dim join: the filtered dim's keys become a
    * bitset ([[graft.operators.BloomPrune]], built distributed via the
    * codegen'd `graft_bloom_pos` + one word-level `bit_or`
    * aggregation), the fact side is pre-filtered by the broadcast
    * bitset (`graft_bloom_might`, false positives only), and the exact
    * join finishes. Result is IDENTICAL to the plain join — the oracle
    * is the plain-join SQL — while the fact rows entering the join
    * shuffle drop to ~the dim's selectivity (here ~1/5). At 100 TB
    * this is the difference between shuffling the whole fact table and
    * shuffling only the slice that can match; `BloomSpec` covers fpp,
    * determinism and codegen/interpreted agreement.
    */
  def joinBloom(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_orderdate")
    val bits = graft.operators.BloomPrune.build(dim, "o_orderkey",
      graft.operators.BloomPrune.sizeBits(dim.count()))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .filter(graft.operators.BloomPrune.mightContain(col("l_orderkey"), bits))
    li.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("price_cents"))
      .orderBy("order_year")
  }

  /** Entity resolution / record linkage: a "dirty" catalog (part names
    * deterministically corrupted — 'a' dropped — with the structured
    * attributes intact) is matched back against the master part table.
    * Candidate generation is BLOCKED on the clean structured
    * attributes — (brand, size) — and the join fans out per block,
    * never all-pairs (the same discipline as the dedup operators: at
    * 100 TB a linkage without blocking is a cartesian product, and
    * block WIDTH, not table size, is what the scorer pays). The block
    * uses the EXACT size because this corpus's corruption leaves the
    * numeric attributes intact — the production choice whenever an
    * attribute is trusted; a NOISY numeric attribute blocks on a band
    * (`size div 8`) instead, trading ~8× more scorer pairs for
    * tolerance (measured at sf0.1: the band form scored 2.44M pairs
    * in 4.2 s where the exact block runs in 1.3 s). Scoring is multi-attribute and
    * integer-exact (`levenshtein` on the name + absolute size delta),
    * and the best match per dirty record is one partial-aggregating
    * `min(struct(dist, p_partkey))` + `count` pass per `d_id` — a
    * single map-side-combining shuffle, no sort window (the unordered
    * `count` window the previous shape used forced a second full
    * window pass). The
    * scorer runs the banded 3-arg `levenshtein`: far pairs bail at the
    * cap in O(len·cap) instead of O(len²). Exactness is preserved
    * because the corruption only drops 'a's, so the self-pair (always
    * in its own block: same brand, same size) scores at most the
    * name's 'a'-count (≤2 in this corpus, names ≤12 chars) — any
    * capped-out candidate (dist > cap ≥ winner) is strictly worse and
    * the sentinel can never win. The `correct` column audits linkage
    * precision against the known ground truth.
    */
  def recordLinkage(spark: SparkSession, dir: String): DataFrame = {
    // cap ≥ max possible winner dist (a-count ≤ 2; margin for bigger SFs)
    val maxLev = 8
    val parts = Tables.part(spark, dir)
      .select("p_partkey", "p_name", "p_brand", "p_size")
    val dirty = parts.select(col("p_partkey").as("d_id"),
      expr("replace(p_name, 'a', '')").as("d_name"),
      col("p_brand").as("d_brand"), col("p_size").as("d_size"))
    val cand = dirty.join(parts, col("d_brand") === col("p_brand") &&
        col("d_size") === col("p_size"))
      .withColumn("lev",
        levenshtein(col("d_name"), col("p_name"), maxLev).cast("long"))
      .withColumn("dist",
        when(col("lev") >= 0,
          col("lev") + abs(col("d_size") - col("p_size")).cast("long"))
          .otherwise(lit(1L << 20)))
    // (dist, p_partkey) packed into one long: min over the packed key IS
    // the lexicographic (dist, partkey) argmin (dist ≤ 2^20 sentinel,
    // partkey < 2^32 — 4B parts — so the pack can't collide or overflow),
    // and a long min hash-aggregates where min(struct) would force a
    // SortAggregate — i.e. a full per-partition sort of every candidate
    cand
      .withColumn("_k", shiftleft(col("dist"), 32) + col("p_partkey"))
      .groupBy(col("d_id"))
      .agg(min(col("_k")).as("_m"), count(lit(1)).as("n_candidates"))
      .select(col("d_id"),
        (col("_m") % (1L << 32)).as("best_match"),
        shiftright(col("_m"), 32).as("best_dist"),
        col("n_candidates"),
        ((col("_m") % (1L << 32)) === col("d_id")).as("correct"))
      .orderBy("d_id")
  }

  val defs: Map[String, Q] = Map(
    "q1_agg" -> (q1Agg _),
    "join_bloom" -> (joinBloom _),
    "record_linkage" -> (recordLinkage _),
    "join_salted" -> (joinSalted _),
    "join_bucketed" -> (joinBucketed _),
    "join_revenue_by_segment" -> (revenueBySegment _),
    "join_regional_revenue" -> (regionalRevenue _))

  val oracles: Map[String, String] = Map(
    // The bloom prefilter admits false positives only, so the pruned
    // plan must aggregate to exactly the plain join.
    "join_bloom" ->
      """SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS order_year,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY order_year""".stripMargin,
    // Mirrors recordLinkage: same corruption, blocking, multi-attribute
    // score and (dist, partkey) tie-break.
    "record_linkage" ->
      """WITH dirty AS (
        |  SELECT p_partkey AS d_id, replace(p_name, 'a', '') AS d_name,
        |    p_brand AS d_brand, p_size AS d_size
        |  FROM part
        |), cand AS (
        |  SELECT d_id, p_partkey,
        |    CAST(levenshtein(d_name, p_name) AS BIGINT)
        |      + CAST(abs(d_size - p_size) AS BIGINT) AS dist
        |  FROM dirty JOIN part ON d_brand = p_brand
        |    AND d_size = p_size
        |), r AS (
        |  SELECT *, count(*) OVER (PARTITION BY d_id) AS n_candidates,
        |    row_number() OVER (PARTITION BY d_id
        |      ORDER BY dist, p_partkey) AS rn
        |  FROM cand)
        |SELECT d_id, p_partkey AS best_match, dist AS best_dist,
        |  n_candidates, p_partkey = d_id AS correct
        |FROM r WHERE rn = 1 ORDER BY d_id""".stripMargin,
    "join_bucketed" ->
      """SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS order_year,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  round(sum(l_quantity), 2) AS total_qty,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY order_year""".stripMargin,
    "join_salted" ->
      """SELECT s_nationkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "join_revenue_by_segment" ->
      """SELECT c_mktsegment, o_orderstatus,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, o_orderstatus
        |ORDER BY c_mktsegment, o_orderstatus""".stripMargin,
    "join_regional_revenue" ->
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin)
}
