package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew

class SkewSpec extends SparkSpec {

  test("salted join == plain join on skewed data") {
    import spark.implicits._
    // hot key: 5000 rows on key 1, trickle elsewhere
    val big = ((1 to 5000).map(i => (1L, i.toLong)) ++
      (1 to 100).map(i => (i.toLong % 7 + 2, i.toLong))).toDF("k", "row_id")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c"),
      (5L, "d"), (6L, "e"), (7L, "f"), (8L, "g")).toDF("k", "label")
    val plain = big.join(small, "k")
    val salted = Skew.saltedJoin(big, small, Seq("k"), col("row_id"), salts = 8)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }
}
