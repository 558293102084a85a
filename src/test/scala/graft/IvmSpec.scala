package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

import graft.operators.{Ivm, MergeWriter}

/** IVM contract: retraction exactness, group cancellation, and
  * order/batching independence of the signed-delta merge.
  */
class IvmSpec extends SparkSpec {

  private def agg(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("k").agg(count(lit(1)).as("n"), sum("x").as("sx"))

  test("insert + retract maintains exactly the recomputed aggregate") {
    import spark.implicits._
    val facts = Seq(("a", 1L), ("a", 2L), ("b", 5L), ("c", 7L)).toDF("k", "x")
    val base = agg(facts)
    val delta = Seq(
      ("a", 10L, 1L),  // insert
      ("c", 7L, -1L),  // retract c's only row
      ("d", 3L, 1L))   // brand-new group
      .toDF("k", "x", "_sign")
    val got = Ivm.applyDelta(base, delta, Seq("k"), "n", Seq("x" -> "sx"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // recompute from the post-change fact set
    val expect = agg(facts.filter(col("k") =!= "c")
        .unionByName(Seq(("a", 10L), ("d", 3L)).toDF("k", "x")))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === expect.toSeq)
    // the cancelled group is GONE, not a zero row
    assert(!got.exists(_._1 == "c"))
  }

  test("delta batching and order do not matter (commutative merge)") {
    import spark.implicits._
    val base = agg(Seq(("a", 1L), ("b", 2L)).toDF("k", "x"))
    val d1 = Seq(("a", 4L, 1L), ("b", 2L, -1L)).toDF("k", "x", "_sign")
    val d2 = Seq(("a", 1L, -1L), ("b", 9L, 1L)).toDF("k", "x", "_sign")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val once = rows(Ivm.applyDelta(base, d1.unionByName(d2), Seq("k"), "n", Seq("x" -> "sx")))
    val twice = rows(Ivm.applyDelta(
      Ivm.applyDelta(base, d1, Seq("k"), "n", Seq("x" -> "sx")),
      d2, Seq("k"), "n", Seq("x" -> "sx")))
    val swapped = rows(Ivm.applyDelta(
      Ivm.applyDelta(base, d2, Seq("k"), "n", Seq("x" -> "sx")),
      d1, Seq("k"), "n", Seq("x" -> "sx")))
    assert(once === twice)
    assert(once === swapped)
  }

  test("persisted view skips a replayed batch id (at-least-once safety)") {
    import spark.implicits._
    val dir = PlanDsl.tempDir("graft-ivm-spec")
      .resolve("v").toString
    val d1 = Seq(("a", 10L, 1L), ("b", 5L, 1L)).toDF("k", "x", "_sign")
    Ivm.applyDeltaToTable(dir, d1, Seq("k"), "n", Seq("x" -> "sx"),
      batchId = Some(0L))
    val after1 = spark.read.parquet(dir).orderBy("k").collect().toSeq
    // the same batch delivered again must be a no-op
    Ivm.applyDeltaToTable(dir, d1, Seq("k"), "n", Seq("x" -> "sx"),
      batchId = Some(0L))
    assert(spark.read.parquet(dir).orderBy("k").collect().toSeq === after1)
    assert(MergeWriter.marker(spark, dir, Ivm.BatchMarker) === Some(0L))
    // the next batch applies and advances the marker
    Ivm.applyDeltaToTable(dir,
      Seq(("a", 10L, -1L)).toDF("k", "x", "_sign"),
      Seq("k"), "n", Seq("x" -> "sx"), batchId = Some(1L))
    assert(MergeWriter.marker(spark, dir, Ivm.BatchMarker) === Some(1L))
    val rows = spark.read.parquet(dir).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows === Seq(("b", 1L, 5L)))
  }
}
