package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.plans.HllReg

/** HLL sketch accuracy: approx distinct within the configured rsd of
  * the exact answer on real data.
  */
class ApproxSpec extends SparkSpec {

  test("approx_count_distinct within 3x rsd of exact") {
    val li = Tables.lineitem(spark, sf)
    val both = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), rsd = 0.01).as("approx"),
        countDistinct(col("l_partkey")).as("exact"))
      .collect()
    both.foreach { r =>
      val (a, e) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e <= 0.03, s"approx=$a exact=$e")
    }
  }

  // m=256 registers → rsd = 1.04/sqrt(256) ≈ 6.5%; allow 3 sigma.
  test("portable HLL within 3x rsd of exact on real keys") {
    val li = Tables.lineitem(spark, sf)
    val approx = ext.Hll.approxDistinct(li, Seq("l_returnflag"), "l_partkey", "approx")
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact"))
    approx.join(exact, "l_returnflag").collect().foreach { r =>
      val (a, e) = (r.getAs[Long]("approx").toDouble, r.getAs[Long]("exact").toDouble)
      assert(math.abs(a - e) / e <= 0.20, s"approx=$a exact=$e")
    }
  }

  test("portable HLL ignores nulls and is deterministic across runs") {
    import spark.implicits._
    val df = Seq(Some("a"), Some("b"), None, Some("a"), Some("c"))
      .toDF("v").withColumn("g", lit(1))
    val r1 = ext.Hll.approxDistinct(df, Seq("g"), "v", "n").collect()
    val r2 = ext.Hll.approxDistinct(df.repartition(7), Seq("g"), "v", "n").collect()
    assert(r1.sameElements(r2), s"${r1.toSeq} vs ${r2.toSeq}")
    // 3 distincts, tiny cardinality → linear-counting path, near-exact
    assert(math.abs(r1.head.getAs[Long]("n") - 3L) <= 1)
  }

  test("count-min estimate upper-bounds the exact count, tightly for most keys") {
    val ev = Tables.events(spark, sf)
    val sk = ext.CountMin.sketch(ev, "user_id")
    val probes = ev.filter(col("user_id").isNotNull).select("user_id").distinct()
    val est = ext.CountMin.estimate(sk, probes, "user_id", "est")
      .join(ev.groupBy("user_id").agg(count(lit(1)).as("exact")), Seq("user_id"))
      .collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("exact"),
        s"CM must never under-estimate: $r")
    }
    val tight = est.count(r => r.getAs[Long]("est") == r.getAs[Long]("exact"))
    assert(tight >= est.length / 2, s"only $tight/${est.length} exact")
  }

  test("count-min of an unseen key estimates 0 (no false floor)") {
    import spark.implicits._
    val data = Seq.tabulate(100)(i => s"k${i % 10}").toDF("v")
    val sk = ext.CountMin.sketch(data, "v")
    val unseen = Seq("never-seen-xyz").toDF("v")
    val est = ext.CountMin.estimate(sk, unseen, "v", "est").head().getAs[Long]("est")
    // 10 keys across 256 buckets: an unseen key colliding in ALL 4 rows
    // is (10/256)^4 ≈ 2e-6 — deterministic here, and it doesn't
    assert(est == 0L, s"est=$est")
  }

  test("graft_hll_reg equals the hex-string register derivation bit-for-bit") {
    import spark.implicits._
    // real keys + synthetic strings; the native digest-byte derivation
    // must match the conv/regex hex form (the one the oracle replays)
    // on every (bucket, rho)
    val keys = Tables.lineitem(spark, sf)
      .select(col("l_partkey").cast("string").as("v"))
      .union((0 until 5000).map(i => s"synthetic-$i").toDF("v"))
    val native = column(HllReg(expression(col("v"))))
    val hexF = graft.ref.HllRef.hexRegister(col("v"))
    val bad = keys.select(
        native.getField("bucket").as("a1"), native.getField("rho").as("a2"),
        hexF.getField("bucket").as("b1"), hexF.getField("rho").as("b2"))
      .filter(col("a1") =!= col("b1") || col("a2") =!= col("b2"))
      .count()
    assert(bad === 0)
  }

  test("portable HLL register shape: at most m rows shuffle per group") {
    val li = Tables.lineitem(spark, sf)
    val out = ext.Hll.approxDistinct(li, Seq("l_returnflag"), "l_orderkey", "n")
    val plan = out.queryExecution.executedPlan.toString
    // two-level aggregation: partial max per bucket before the exchange
    assert(plan.contains("partial_max") || plan.contains("HashAggregate"), plan.take(400))
    assert(out.count() == 3)
  }
}
