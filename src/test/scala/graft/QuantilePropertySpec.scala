package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.plans.SortableBits

/** ScalaCheck properties over the bit-sliced selection core
  * (ext/Quantiles + plans/SortableBits): the order isomorphism on
  * arbitrary doubles including the IEEE zoo, and grouped-quantile
  * parity with the `percentile` aggregate on randomized frames with
  * nulls, duplicates, negatives and sub-normal magnitudes — the
  * input space the fixed corpus can't sweep.
  */
object QuantilePropertySpec extends Properties("graft.quantiles") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = GraftSession.local(4)

  private val anyDouble: Gen[Double] = Gen.frequency(
    6 -> Gen.choose(-1e6, 1e6),
    2 -> Gen.choose(-1e-6, 1e-6),
    1 -> Gen.oneOf(0.0, -0.0, 1e300, -1e300, 4.9e-324, -4.9e-324,
      Double.MaxValue, Double.MinValue,
      Double.PositiveInfinity, Double.NegativeInfinity),
    1 -> Gen.choose(-100.0, 100.0).map(Math.nextUp))

  property("sortable bits order-isomorphic to Double.compare") =
    Prop.forAll(Gen.listOfN(24, anyDouble)) { xs =>
      import spark.implicits._
      val f = xs.toDF("v")
        .select(col("v"), column(SortableBits(expression(col("v")))).as("f"))
        .collect().map(r => (r.getDouble(0), r.getLong(1)))
      f.forall { case (a, fa) => f.forall { case (b, fb) =>
        Integer.signum(java.lang.Double.compare(a, b)) ==
          Integer.signum(java.lang.Long.compare(fa, fb))
      }}
    }

  private val cellGen: Gen[(String, Option[Double])] = for {
    g <- Gen.oneOf("a", "b", "a|x", "null")
    v <- Gen.frequency(8 -> anyDouble.map(Some(_)),
      1 -> Gen.const(None),
      2 -> Gen.oneOf(1.0, 2.0, 2.0, 5.0).map(Some(_))) // fat ties
  } yield (g, v)

  property("grouped quantiles match the percentile aggregate") =
    Prop.forAll(Gen.listOfN(60, cellGen),
        Gen.listOfN(3, Gen.choose(0.0, 1.0))) { (rows, qs0) =>
      import spark.implicits._
      // ±Inf breaks the AGGREGATE's interpolation (Inf−Inf = NaN in
      // its rational arithmetic, ours replicates it) — keep them for
      // the isomorphism property above, drop them here where the twin
      // itself is the contract
      val finite = rows.map { case (g, v) =>
        (g, v.filter(java.lang.Double.isFinite)) }
      val qs = qs0.map(q => Math.rint(q * 100) / 100).distinct
      val df = finite.toDF("g", "v")
      val got = graft.ext.Quantiles
        .groupedExact(df, "g", "v", qs, binadeBits = 0, sliceCap = 3)
        .map { case (g, n, vs) => (g, (n, vs)) }.toMap
      val qlit = qs.map(q => s"${q}D").mkString("array(", ", ", ")")
      val want = df.groupBy("g")
        .agg(expr(s"percentile(v, $qlit)").as("p"),
          count(lit(1)).as("n"))
        .collect()
        .map { r =>
          val vs = if (r.isNullAt(1)) qs.map(_ => None)
            else r.getSeq[Double](1).map(Some(_)).toSeq
          (r.getString(0), (r.getLong(2), vs))
        }.toMap
      got == want
    }

  /** A group whose two middle values (after sorting) are the pair
    * (a, b), mixed-sign and up to ±MaxValue wide, or equal: the rest
    * are infinities outside them, so the median depends only on the
    * pair. Odd-sized groups add one value between the pair. */
  private val wide: Gen[Double] = Gen.frequency(
    3 -> Gen.choose(-1e6, 1e6),
    2 -> Gen.choose(1e300, Double.MaxValue),
    2 -> Gen.choose(Double.MinValue, -1e300),
    1 -> Gen.choose(-1e-300, 1e-300),
    1 -> Gen.oneOf(4.9e-324, -4.9e-324, 1e-310, -1e-310))
  private val medianGroup: Gen[Seq[Double]] = for {
    a <- wide
    b <- Gen.frequency(4 -> wide, 1 -> Gen.const(a), 1 -> Gen.const(-a))
    odd <- Gen.oneOf(false, true)
    side <- Gen.choose(0, 3)
  } yield {
    val (lo, hi) = (math.min(a, b), math.max(a, b))
    val mids = if (odd) Seq(lo, lo / 2 + hi / 2, hi) else Seq(lo, hi)
    Seq.fill(side)(Double.NegativeInfinity) ++ mids ++
      Seq.fill(side)(Double.PositiveInfinity)
  }

  property("array median matches the percentile aggregate bit for bit") =
    Prop.forAll(Gen.listOfN(12, medianGroup)) { groups =>
      import spark.implicits._
      // a fixed pair whose difference overflows: lo + (hi − lo)·½ is
      // +Inf, Spark's convex form is 0
      val all = Seq(-1.5e308, 1.5e308) +: groups
      // signed zeros compare equal, so which of -0.0 and 0.0 is the
      // middle key depends on arrival order on both sides: left out of
      // a bit-level compare
      val df = all.zipWithIndex
        .flatMap { case (vs, g) => vs.filterNot(_ == 0.0).map(g -> _) }
        .toDF("g", "v")
      df.groupBy("g")
        .agg(expr("percentile(v, 0.5)").as("p"),
          graft.queries.AnalyticsQueries.medianOfSorted(
            sort_array(collect_list(col("v")))).as("m"))
        .collect()
        .forall(r => java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(2)))
    }
}
