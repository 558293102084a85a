package graft

import org.apache.spark.sql.functions._

import graft.operators.LatestPerKey
import graft.quality.Checks
import graft.ref.{LatestPerKeyRef, SimHashRef, TextRef}

/** Operator-level contracts: max_by and window latest-per-key agree,
  * quality checks count violations correctly.
  */
class OperatorSpec extends SparkSpec {

  test("LatestPerKey max_by path == window path on real data") {
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type", "value")
    val a = LatestPerKey(ev, Seq("user_id"), Seq("ts", "event_id"))
    val b = LatestPerKeyRef.viaWindow(ev, Seq("user_id"), Seq("ts", "event_id"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("quality checks count violations") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), "en"), (Some(1L), "xx"), (None, "de")
    ).toDF("id", "lang")
    def v(r: org.apache.spark.sql.DataFrame): Long = r.head().getLong(1)
    assert(v(Checks.notNull(df, "id", "c")) === 1L)
    assert(v(Checks.unique(df, "id", "c")) === 1L) // two non-null rows, one key
    assert(v(Checks.acceptedValues(df, "lang", Seq("en", "de"), "c")) === 1L)
    assert(v(Checks.expression(df, col("lang") === "xx", "c")) === 1L)
    val parent = Seq(1L).toDF("pid")
    assert(v(Checks.relationships(
      df.filter(col("id").isNotNull), "id", parent, "pid", "c")) === 0L)
    intercept[AssertionError] {
      Checks.enforce(Seq(Checks.notNull(df, "id", "c")))
    }
  }

  test("simhash of identical docs has hamming distance 0, disjoint docs differ") {
    import spark.implicits._
    import graft.functions.{SimHash, Text}
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog"),
      ("b", "the quick brown fox jumps over the lazy dog"),
      ("c", "entirely different words compose this unrelated sentence here")
    ).toDF("id", "text")
      .withColumn("sh", SimHash.simhash32(Text.tokens(col("text"))))
    val m = df.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(m("a") === m("b"))
    assert(m("a") !== m("c"))
    val d = df.as("x").crossJoin(df.as("y"))
      .filter(col("x.id") === "a" && col("y.id") === "c")
      .select(SimHashRef.hammingDistance(col("x.sh"), col("y.sh"))).head().getInt(0)
    assert(d > 0 && d <= 32)
  }

  test("asof join returns the latest right ROW's value even when it is NULL") {
    import spark.implicits._
    import graft.operators.AsofJoin
    // right rows for key k: v=5 at t=1, v=NULL at t=2 (the later row).
    // A left probe at t=3 must see NULL (the matched row's value), not
    // fall back to the earlier non-null 5 — DuckDB ASOF JOIN parity.
    val right = Seq(("k", 1L, Some(5L), 100L), ("k", 2L, None, 101L))
      .toDF("key", "ts", "v", "rid")
      .select(col("key"), col("ts"), col("v"), col("rid").as("tb"))
    val left = Seq(("k", 3L, 200L), ("k", 1L, 201L))
      .toDF("key", "ts", "tb")
    val got = AsofJoin.lastValue(left, right, Seq("key"),
        leftTs = "ts", rightTs = "ts", rightValue = "v",
        tieBreak = "tb", asofCol = "asof_v")
      .orderBy("ts").collect()
    assert(got(0).getLong(2) === 201L && got(0).getLong(3) === 5L) // probe t=1 -> v=5
    assert(got(1).getLong(2) === 200L && got(1).isNullAt(3))       // probe t=3 -> NULL row
  }

  test("winnow and shingles handle short documents") {
    import spark.implicits._
    import graft.functions.Text
    val df = Seq(("a", "one two"), ("b", "one two three four five")).toDF("id", "text")
      .withColumn("sh", Text.shingles(Text.tokens(col("text")), 3))
      .withColumn("win", TextRef.winnow(transform(col("sh"), s => md5(s)), 4))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getSeq[String](2) === Seq("one two")) // whole-text shingle
    assert(rows(0).getSeq[String](3).length === 1)
    assert(rows(1).getSeq[String](2).length === 3) // 5 tokens -> 3 shingles
  }
}
