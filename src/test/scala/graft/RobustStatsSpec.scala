package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.plans.SortableBits
import graft.queries.{AnalyticsQueries, TextQueries}

/** Invariant tests for the robust-stats / repetition operators (their
  * value-level correctness is oracle-gated; these pin the structural
  * contracts and the degenerate edges the oracle data can't reach).
  */
class RobustStatsSpec extends SparkSpec {

  test("quantile selection equals the percentile aggregate on the corpus") {
    val sel = graft.queries.SetOpQueries.percentiles(spark, sf)
    val agg = graft.ref.SetOpQueriesRef.percentilesAgg(spark, sf)
    assert(sel.exceptAll(agg).isEmpty && agg.exceptAll(sel).isEmpty)
  }

  test("outlier_mad one-pass array form equals the 3-pass percentile twin") {
    // the r22 rewrite gathers each group once and derives med/MAD/
    // outliers from the sorted array; medianOfSorted replicates
    // Spark's percentile arithmetic bit-for-bit, so the full
    // rows — including the UNROUNDED med/mad feeding n_outliers —
    // must match the 3-pass twin exactly
    val a = graft.queries.AnalyticsQueries.defs("outlier_mad")(spark, sf)
    val b = graft.ref.AnalyticsQueriesRef.outlierMadJoined(spark, sf)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("quantile selection degenerate edges: all-equal, single row, nulls") {
    import spark.implicits._
    // all-equal values can't split into slices — the min==max shortcut
    // must resolve without collecting; a single row pins pos=0; null
    // values count in n but not in positions (the aggregate's contract)
    val df = Seq(("a", Some(5.0)), ("a", Some(5.0)), ("a", Some(5.0)),
        ("b", Some(7.5)), ("c", None), ("c", Some(1.0)), ("c", Some(3.0)))
      .toDF("g", "v")
    val m = graft.ext.Quantiles.groupedExact(df, "g", "v", Seq(0.5))
      .map { case (g, n, vs) => (g, (n, vs.head)) }.toMap
    assert(m("a") == ((3L, Some(5.0))))
    assert(m("b") == ((1L, Some(7.5))))
    assert(m("c") == ((3L, Some(2.0)))) // median of {1,3} interpolates
    // bit-parity with the aggregate on the same frame
    val agg = df.groupBy("g").agg(expr("percentile(v, 0.5)").as("p"))
      .collect().map(x => (x.getString(0),
        if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toMap
    assert(Seq("a", "b", "c").forall(g => agg(g) == m(g)._2))
  }

  test("quantile selection: |-bearing, 'null'-string and NULL group keys collect exactly") {
    // the r16 slice filter matched on concat_ws("|", g, h): a group
    // value containing the separator could alias another (group,
    // slice) string, and concat_ws SKIPS a null group while the
    // driver-built key spells "null" — so a NULL group threw
    // NoSuchElementException and a literal "null" group could collect
    // the null group's slices. The struct semi-join must resolve all
    // three exactly; binadeBits=0 forces binade-wide multi-value
    // slices so groups actually COLLECT (no min==max shortcut).
    import spark.implicits._
    val rows = for {
      (g, base) <- Seq("a|7" -> 0.0, "a" -> 100.0, "null" -> 200.0,
        null.asInstanceOf[String] -> 300.0)
      i <- 1 to 9
    } yield (g, base + i * (if (g == null) 1.3 else 1.1))
    val df = rows.toDF("g", "v")
    val got = graft.ext.Quantiles.groupedExact(df, "g", "v",
        Seq(0.25, 0.5, 0.9), binadeBits = 0)
      .map { case (g, n, vs) => (g, (n, vs.map(_.get))) }.toMap
    val want = df.groupBy("g")
      .agg(expr("percentile(v, array(0.25D, 0.5D, 0.9D))").as("p"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0),
        (r.getLong(2), r.getSeq[Double](1).toSeq))).toMap
    assert(got.keySet == want.keySet)
    got.keySet.foreach { g =>
      assert(got(g) == want(g), s"group '$g': ${got(g)} vs ${want(g)}")
    }
  }

  test("histogram buckets partition the input: ids in [0,19], counts sum to |input|, lo<=hi") {
    val h = AnalyticsQueries.histogramValues(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/events.parquet").count()
    assert(h.map(_.getLong(1)).sum === total)
    assert(h.forall(r => r.getLong(0) >= 0 && r.getLong(0) <= 19))
    assert(h.forall(r => r.getDouble(2) <= r.getDouble(3)))
    // buckets are emitted sorted and distinct
    val ids = h.map(_.getLong(0)).toSeq
    assert(ids == ids.sorted && ids.distinct == ids)
  }

  test("histogram degenerate range (min == max) pins every row to bucket 0") {
    import spark.implicits._
    val const = Seq.fill(10)(7.5).toDF("value")
    // replicate the query's bucketing on a constant column
    val bounds = const.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    val b = const.crossJoin(broadcast(bounds))
      .select(when(col("mn") === col("mx"), lit(0L))
        .otherwise(least(floor((col("value") - col("mn")) /
          ((col("mx") - col("mn")) / lit(20.0))), lit(19.0)).cast("long"))
        .as("bucket"))
      .distinct().collect()
    assert(b.map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("equi-depth binning: wide value domains, ties and null values bin exactly") {
    // the r16 sharded-rank form keyed its offsets on floor(value)
    // integer shards, so a wide-domain column (microsecond epochs)
    // needed a loud cap; the r18 selection form slices by the
    // (min,max)-derived width, so the same frame must now simply WORK
    // — and exactly match the one-window-per-group twin, tie and
    // null-value semantics included (nulls sort first, all tie at
    // rank 1, bin 0)
    import spark.implicits._
    def twinOf(tdf: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("value"))
      tdf.withColumn("bin",
          least(floor(percent_rank().over(w) * 4), lit(3.0)).cast("long"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("value")).as("lo"), max(col("value")).as("hi"),
          sum(col("cents")).as("bin_cents"))
    }
    val wide = (1 to 40).map(i => ("a", Some(i * 1.0e6), i.toLong))
      .toDF("event_type", "value", "cents")
    val gotWide = AnalyticsQueries.equidepthBins(wide)
    assert(gotWide.exceptAll(twinOf(wide)).isEmpty &&
      twinOf(wide).exceptAll(gotWide).isEmpty)
    val ties = (1 to 30).map(i => ("a", Some((i % 7) * 3.5), i.toLong)) ++
      (1 to 10).map(i => ("b", Some(1.0), i.toLong)) ++ // all-ties group
      (1 to 6).map(i => ("c", if (i <= 4) None else Some(i * 1.0),
        i.toLong)) ++ // null-heavy group: base-bin fold
      Seq(("d", Some(2.0), 1L)) ++ // single-row group
      (1 to 3).map(i => ("e", None: Option[Double], i.toLong)) // all-null
    val tdf = ties.toDF("event_type", "value", "cents")
    val got = AnalyticsQueries.equidepthBins(tdf)
    assert(got.exceptAll(twinOf(tdf)).isEmpty &&
      twinOf(tdf).exceptAll(got).isEmpty,
      got.orderBy("event_type", "bin").collect().mkString("\n"))
  }

  test("grouped quantiles: the pass-2 histogram cap fails loud, never an unbounded collect") {
    // the driver-memory envelope is a CONTRACT, not a comment: past
    // histCap the driver has fetched at most histCap+1 rows (one
    // take, same single job) and must fail loud instead of an
    // unbounded collect() OOM on a high-cardinality grouping
    import spark.implicits._
    val df = (1 to 50).map(i => (s"g$i", i * 1.0)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      graft.ext.Quantiles.groupedExact(df, "g", "v", Seq(0.5), histCap = 10)
    }
    assert(e.getMessage.contains("histCap"), e.getMessage)
    // the same frame under the default cap still answers exactly
    val got = graft.ext.Quantiles.groupedExact(df, "g", "v", Seq(0.5))
      .map { case (g, _, vs) => (g, vs.head.get) }.toMap
    assert(got.size == 50 && got("g7") == 7.0 && got("g50") == 50.0)
  }

  test("grouped quantiles: pass-2 gathers are wave-chunked under aggCap, never one union collect") {
    // r18 capped each COLLECTED slice at sliceCap but gathered the
    // UNION of all needed slices in one collect — |groups| ×
    // |positions| slices × up-to-sliceCap rows each could exceed the
    // driver even though every slice was legal. r19 packs the needed
    // slices into waves of at most aggCap rows (counts are exact from
    // the histogram). aggCap = sliceCap = 10 on 20 groups × 9
    // multi-value binade slices forces ~20 single-slice waves; the
    // answers must still match the percentile aggregate bit-for-bit
    import spark.implicits._
    val rows = for { gi <- 1 to 20; i <- 1 to 9 }
      yield (s"g$gi", 100.0 + gi * 3.7 + i * 1.1)
    val df = rows.toDF("g", "v")
    val got = graft.ext.Quantiles.groupedExact(df, "g", "v",
        Seq(0.25, 0.75), binadeBits = 0, sliceCap = 10, aggCap = 10)
      .map { case (g, _, vs) => (g, vs.map(_.get)) }.toMap
    val want = df.groupBy("g")
      .agg(expr("percentile(v, array(0.25D, 0.75D))").as("p"))
      .collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).toSeq)).toMap
    assert(got == want, s"$got vs $want")
    // the envelope params are contracts: slice values index a
    // collected array (sliceCap must fit an Int), and a wave must be
    // able to hold one maximal slice (aggCap >= sliceCap)
    val tooWide = intercept[IllegalArgumentException] {
      graft.ext.Quantiles.groupedExact(df, "g", "v", Seq(0.5),
        sliceCap = Int.MaxValue.toLong + 1)
    }
    assert(tooWide.getMessage.contains("sliceCap"), tooWide.getMessage)
    val inverted = intercept[IllegalArgumentException] {
      graft.ext.Quantiles.groupedExact(df, "g", "v", Seq(0.5),
        sliceCap = 100, aggCap = 50)
    }
    assert(inverted.getMessage.contains("aggCap"), inverted.getMessage)
  }

  test("grouped quantiles: the histogram fetch leaves the session's limit conf unchanged") {
    // the one-round fetch raises spark.sql.limit.initialNumPartitions
    // on a clone of the session, never on the session itself, so a
    // query running beside it keeps executeTake's default scale-up
    val key = "spark.sql.limit.initialNumPartitions"
    val before = spark.conf.get(key)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var done = false
    val poller = new Thread(() =>
      while (!done) {
        seen.add(spark.conf.get(key))
        Thread.sleep(1)
      })
    poller.start()
    val got = try {
      val df = spark.range(1, 41).selectExpr("cast(id % 2 as string) as g",
        "cast(id as double) as v")
      graft.ext.Quantiles.groupedExact(df, "g", "v", Seq(0.5))
        .map { case (g, _, vs) => (g, vs.head.get) }.toMap
    } finally { done = true; poller.join() }
    assert(got == Map("0" -> 21.0, "1" -> 20.0), got)
    assert(!seen.isEmpty)
    assert(seen.asScala.toSet == Set(before), seen)
    assert(spark.conf.get(key) == before)
  }

  test("graft_sortable_bits is order-isomorphic to Double.compare on the edge doubles") {
    import spark.implicits._
    // the slicing's whole correctness argument: f monotone ⇔ any
    // top-bits truncation is monotone ⇔ cumulative slice counts
    // locate exact order statistics. Pin f against the comparator on
    // the worst doubles: ±0, ±Inf, NaN, ±min-normal, ±subnormal,
    // adjacent ulps, and mixed magnitudes
    val edge = Seq(0.0, -0.0, 1.0, -1.0, Double.MaxValue,
      Double.MinValue, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, -java.lang.Double.MIN_NORMAL,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN,
      Math.nextUp(1.0), Math.nextDown(1.0), -Math.nextUp(1.0),
      1e-300, -1e-300, 1e300, -1e300, 3.141592653589793)
    val f = edge.toDF("v")
      .select(col("v"), column(SortableBits(expression(col("v")))).as("f"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    for ((a, fa) <- f; (b, fb) <- f) {
      val cmp = java.lang.Double.compare(a, b)
      assert(Integer.signum(cmp) == java.lang.Long.compare(fa, fb).sign,
        s"order broken: compare($a, $b)=$cmp but f=$fa vs $fb")
    }
    // null in, null out
    val n = Seq(Some(1.0), None).toDF("v")
      .select(column(SortableBits(expression(col("v"))))).collect()
    assert(!n(0).isNullAt(0) && n(1).isNullAt(0))
  }

  test("NaN values resolve as single-valued slices, never an unterminated refinement") {
    // NaN != NaN under ==, but all NaNs share one sortable-bits value:
    // the degenerate-slice shortcut must use the slicing's own total
    // order (Double.compare) or an all-NaN slice bigger than sliceCap
    // would refine to shift 0 and die on the "unreachable" require.
    // sliceCap=2 with 5 NaNs forces exactly that path
    import spark.implicits._
    val df = (Seq(1.0, 2.0, 3.0, 4.0, 5.0) ++ Seq.fill(5)(Double.NaN))
      .map(("g", _)).toDF("g", "v")
    val got = graft.ext.Quantiles.groupedExact(df, "g", "v",
      Seq(0.2, 0.9), binadeBits = 0, sliceCap = 2)
    val Seq((_, n, vs)) = got
    // NaN sorts last (the comparator's order): pos 0.2*(10-1)=1.8 →
    // interpolates reals 2.0/3.0 (same IEEE formula as the impl);
    // pos 0.9*9=8.1 lands in the NaN run
    val pos = 0.2 * 9
    val expect = (2 - pos) * 2.0 + (pos - 1) * 3.0
    assert(n == 10L && vs(0).get == expect && vs(1).get.isNaN, s"$got")
  }

  test("oversized slices refine instead of failing: exact quantiles under a tiny sliceCap") {
    // the r17 code failed loud when a needed slice exceeded sliceCap;
    // bit-sliced selection REFINES it (same slicing, 13 fewer shift
    // bits, semi-joined to the oversized pairs) down to shift 0 where
    // every slice is one exact double. binadeBits=0 + near-equal
    // values force everything into ONE binade slice, sliceCap=5
    // forces multiple refinement levels on 200 distinct values; the
    // result must still match the percentile aggregate bit-for-bit,
    // negatives and ties included
    import spark.implicits._
    val vals = (1 to 200).map(i => 1000.0 + i * 1e-9) ++
      (1 to 200).map(i => -1000.0 - i * 1e-9) ++
      Seq.fill(50)(1000.0 + 37e-9) // a fat tie inside the hot slice
    val df = vals.zipWithIndex
      .map { case (x, i) => (s"g${i % 2}", x) }.toDF("g", "v")
    val got = graft.ext.Quantiles.groupedExact(df, "g", "v",
        Seq(0.1, 0.5, 0.9), binadeBits = 0, sliceCap = 5)
      .map { case (g, n, vs) => (g, (n, vs.map(_.get))) }.toMap
    val want = df.groupBy("g")
      .agg(expr("percentile(v, array(0.1D, 0.5D, 0.9D))").as("p"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0),
        (r.getLong(2), r.getSeq[Double](1).toSeq))).toMap
    assert(got == want, s"$got vs $want")
  }

  test("equi-depth binning: NULL, 'null'-string and |-bearing group keys bin exactly") {
    // the r17 offsets map was keyed on concat_ws("|", group, shard)
    // strings — concat_ws SKIPS a null group (its rows looked up a key
    // the driver never built, so their rank went null) and a literal
    // "null" group aliases the NULL group's driver-side key. The
    // broadcast (group, shard) pair join must bin all of them exactly;
    // the "null" and NULL groups share base 200 so their pre-fix
    // string keys genuinely collide.
    import spark.implicits._
    val rows = for {
      (g, base, step) <- Seq(("a|7", 0.0, 1.1), ("a", 100.0, 1.1),
        ("null", 200.0, 1.1), (null.asInstanceOf[String], 200.0, 1.3))
      i <- 1 to 9
    } yield (g, base + (i % 4) * step, i.toLong)
    val tdf = rows.toDF("event_type", "value", "cents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("value"))
    val twin = tdf
      .withColumn("bin",
        least(floor(percent_rank().over(w) * 4), lit(3.0)).cast("long"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("value")).as("lo"), max(col("value")).as("hi"),
        sum(col("cents")).as("bin_cents"))
    val got = AnalyticsQueries.equidepthBins(tdf)
    assert(got.exceptAll(twin).isEmpty && twin.exceptAll(got).isEmpty,
      got.orderBy("event_type", "bin").collect().mkString("\n"))
  }

  test("MAD outliers: rate in [0,1], mad >= 0, and the 3*MAD rule bounds the count") {
    val rows = AnalyticsQueries.outlierMad(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mad, n, nOut, frac) =
        (r.getDouble(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(mad >= 0.0)
      assert(nOut >= 0 && nOut <= n)
      assert(frac === nOut.toDouble / n)
      // by Chebyshev-like MAD bounds the flagged mass is a minority
      assert(frac < 0.5)
    }
  }

  test("histogram-sketch quantiles land within one bucket width of the target order statistic") {
    // the sketch's guarantee: the estimate sits inside the bucket that
    // contains the ceil(q*n)-th order statistic, so it is within one
    // bucket width of THAT value. (Interpolated `percentile` can land
    // between order stats that straddle many empty buckets in a sparse
    // tail — it is not the right comparison point.)
    val approx = AnalyticsQueries.approxQuantileHist(spark, sf)
      .collect().map(r => r.getString(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val byType = spark.read.parquet(s"$sf/events.parquet")
      .select("event_type", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    assert(approx.keySet === byType.keySet)
    byType.foreach { case (k, sorted) =>
      val n = sorted.length
      val w = (sorted.last - sorted.head) / 256.0
      Seq(0.5, 0.9, 0.99).zip(approx(k)).foreach { case (q, est) =>
        val target = sorted(math.ceil(q * n).toInt - 1)
        assert(math.abs(est - target) <= w,
          s"$k q=$q: est $est vs order-stat $target (w=$w)")
      }
    }
  }

  test("repetition fractions are consistent mass ratios") {
    val rows = TextQueries.textRepetition(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1)
      val (w1, b2, t3, d3) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(n > 0)
      // top-1 mass is at least uniform share, at most everything
      assert(w1 >= 1.0 / n && w1 <= 1.0)
      assert(b2 > 0.0 && b2 <= 1.0)
      assert(t3 > 0.0 && t3 <= 1.0)
      // duplicate-trigram mass can't be smaller than a single repeated
      // trigram's share when present, and never exceeds 1
      assert(d3 >= 0.0 && d3 <= 1.0)
      // a duplicated trigram implies its top count >= 2, so dup mass
      // is at least the top trigram's mass whenever dup > 0
      if (d3 > 0.0) assert(d3 >= t3)
    }
  }
}
