package graft

import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.plans.{FirstCollision, SortedPairs, SortedPairsPacked}

/** Unit contracts of the pair-generation / collision expressions
  * (plans/SortedPairs.scala, plans/FirstCollision.scala) — the
  * query-level equalities live in PlanSpec/SimilaritySpec; this spec
  * pins the loud edges: 32-bit enforcement, nullable-array rejection,
  * null-code non-collision.
  */
class PairExprSpec extends SparkSpec {

  import spark.implicits._

  private def firstCollision(a: Column, b: Column): Column =
    column(FirstCollision(expression(a), expression(b)))

  test("sorted_pairs == HOF formulation; packed unpacks to the same pairs") {
    val df = Seq(Seq(2L, 5L, 9L, 11L)).toDF("a")
    val viaStruct = df.select(explode(column(SortedPairs(
        expression(col("a"))))).as("p"))
      .select(col("p.part_a"), col("p.part_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val viaPacked = df.select(explode(column(SortedPairsPacked(
        expression(col("a"))))).as("p"))
      .select(shiftright(col("p"), 32), col("p").bitwiseAND(lit(0xFFFFFFFFL)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = for {
      i <- 0 until 4; j <- i + 1 until 4
      xs = Seq(2L, 5L, 9L, 11L)
    } yield (xs(i), xs(j))
    assert(viaStruct.toSeq === expected)
    assert(viaPacked.toSeq === expected)
  }

  test("packed pairs reject elements beyond unsigned 32 bits, loudly") {
    val df = Seq(Seq(1L, 1L << 33)).toDF("a")
    val e = intercept[Exception] {
      df.select(explode(column(SortedPairsPacked(
        expression(col("a")))))).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("exceeds unsigned 32 bits")), e.toString)
  }

  test("both pair generators reject nullable-element arrays at analysis") {
    val df = Seq(Seq(Some(1L), None)).toDF("a")
    Seq[(String, Expression => Expression)](
        ("graft_sorted_pairs", SortedPairs(_)),
        ("graft_sorted_pairs_packed", SortedPairsPacked(_))).foreach { case (fn, node) =>
      val e = intercept[AnalysisException] {
        df.select(column(node(expression(col("a"))))).collect()
      }
      assert(e.getMessage.contains("non-null"), s"$fn: ${e.getMessage}")
    }
  }

  test("first_collision: first agreeing index, -1 on none, nulls never collide") {
    val df = Seq(
      (Seq[Integer](7, 3, 5), Seq[Integer](1, 3, 5)),   // first agree at 1
      (Seq[Integer](7, 8, 9), Seq[Integer](1, 2, 3)),   // none
      (Seq[Integer](null, 2), Seq[Integer](null, 9))    // null != null
    ).toDF("a", "b")
    val out = df.select(firstCollision(col("a"), col("b")))
      .collect().map(_.getInt(0))
    assert(out.toSeq === Seq(1, -1, -1))
  }

  test("first_collision rejects non-int-array inputs at analysis") {
    val df = Seq((Seq(1L), Seq(1L))).toDF("a", "b")
    val e = intercept[AnalysisException] {
      df.select(firstCollision(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("array<int>"), e.getMessage)
  }
}
