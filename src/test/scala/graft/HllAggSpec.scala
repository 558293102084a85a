package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.plans.HllAgg

/** The custom TypedImperativeAggregate (`graft_hll`) must be
  * bit-compatible with the declarative register pipeline
  * (graft.ext.Hll) and invariant under partitioning — the merge
  * (bytewise register max) is what partial aggregation exercises.
  */
class HllAggSpec extends SparkSpec {

  private def hll(v: Column): Column =
    column(HllAgg(expression(v)).toAggregateExpression())

  test("graft_hll matches the declarative Hll estimate exactly") {
    import spark.implicits._
    val df = (0L until 20000L).map(i => (s"g${i % 3}", s"v${i % 1777}"))
      .toDF("g", "v")
    val agg = df.groupBy("g")
      .agg(hll(col("v")).as("est"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1)))
    val decl = graft.ext.Hll.approxDistinct(df, Seq("g"), "v", "est")
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(agg.toSeq === decl.toSeq)
    // and the estimate is actually close to the truth (1777 distinct)
    agg.foreach { case (_, e) =>
      assert(math.abs(e - 1777.0) / 1777.0 < 0.2, s"estimate $e off")
    }
  }

  test("partitioning cannot change the estimate (register merge = max)") {
    import spark.implicits._
    val df = (0L until 5000L).map(i => s"k${i % 997}").toDF("v")
    def est(p: Int) = df.repartition(p)
      .agg(hll(col("v"))).head().getLong(0)
    assert(est(1) === est(13))
    assert(est(1) === est(32))
  }

  test("nulls are ignored; small sets use linear counting") {
    import spark.implicits._
    val df = Seq(Some("a"), None, Some("b"), Some("a"), None)
      .toDF("v")
    val e = df.agg(hll(col("v"))).head().getLong(0)
    assert(e === 2L) // linear counting is exact this small
  }
}
