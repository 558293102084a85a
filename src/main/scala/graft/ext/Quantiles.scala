package graft.ext

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.plans.SortableBits

/** Exact grouped order statistics by distributed SELECTION — the
  * scale-safe replacement for the `percentile` aggregate, whose
  * buffer holds every distinct value of a group in one task's memory
  * and whose final merge+sort runs one task per group (the fixed-key
  * parallelism cap, again).
  *
  * TWO bounded passes in the common case, all parallel and pruned to
  * two columns (the r18 cut: the former pass 1 — a global (min, max)
  * scan that fixed a slice width — is gone; see below):
  *  1. (group, slice) histogram with per-slice count/min/max, where a
  *     slice is the top `12 + binadeBits` bits of the IEEE-754
  *     order-isomorphic long (`graft_sortable_bits(v) >> (52 −
  *     binadeBits)`: sign + exponent + `binadeBits` mantissa bits) —
  *     monotone BY CONSTRUCTION, so no prior range pass is needed
  *     and the driver locates, per wanted order statistic, which
  *     slice holds it; a slice whose min == max resolves immediately
  *     (degenerate distributions never collect);
  *  2. collect ONLY the needed slices' values and read the order
  *     statistics off the sorted slice.
  *
  * A needed slice bigger than `sliceCap` does not fail OR gather: it
  * REFINES — the same slicing at `RefineStepBits` fewer shift bits,
  * restricted (broadcast semi-join) to the oversized (group, slice)
  * pairs, re-locates the positions inside sub-slices; at shift 0 a
  * slice is a single double value (min == max), so refinement always
  * terminates. Pathological distributions (millions of near-equal
  * but distinct values) cost extra bounded passes instead of a
  * driver OOM or a loud abort.
  *
  * [[groupedOrderStats]] is the shared core (exact values at
  * arbitrary 0-based positions); [[groupedExact]] adds the
  * `Percentile.getPercentile`-bit-parity interpolation on top;
  * `graft.queries.AnalyticsQueries.equidepthBins` reads its three
  * bin-boundary statistics from the same core.
  */
object Quantiles {

  /** Bits of extra slice granularity per refinement level: each
    * level splits an oversized slice 2¹³ ≈ 8192 ways, and 52/13 = 4
    * levels reach shift 0 (exact doubles) from the widest slicing.
    */
  private val RefineStepBits = 13

  /** Per-group exact order-statistic VALUES at caller-chosen 0-based
    * positions into the group's ascending NON-NULL values.
    * `positionsFor(nTotal, nVals)` names the positions a group needs
    * (each must lie in `[0, nVals)`; duplicates are fine). Returns,
    * per group, NULL group key first: (group key cast to string,
    * nTotal rows incl. null values, nVals non-null values,
    * position → value map over exactly the requested positions).
    *
    * DRIVER-MEMORY ENVELOPE — ENFORCED: the histogram holds up to
    * |groups| × (slices PRESENT) rows of ~40 bytes, where present
    * slices are bounded by both the distinct values and the slice-id
    * domain (≈ 2^binadeBits ids per binade actually spanned; a
    * uniform column spans ~a dozen binades). `histCap` (default 2²¹
    * rows ≈ 85 MB) makes that an enforced contract, not a comment:
    * the driver fetches at most `histCap + 1` rows per histogram
    * (same single job) and fails loud past the cap instead of an
    * unbounded `collect()` OOM — a grouping too high-cardinality for
    * a driver-sized result must lower `binadeBits` or is outside
    * this helper's intended regime regardless. `sliceCap` bounds
    * pass 2 PER SLICE: no single COLLECTED slice may exceed it —
    * bigger needed slices refine instead (see the object doc). And
    * `aggCap` bounds pass 2 IN AGGREGATE: a resolution pass gathers
    * the union of all needed small slices, and |groups| × |positions|
    * slices × up-to-sliceCap rows each can exceed the driver even
    * though every individual slice is legal — so the gather is
    * chunked into WAVES of at most `aggCap` total rows (slice counts
    * are exact from the histogram, so the packing is arithmetic, not
    * a probe). Each wave is one bounded job; pathological request
    * sets cost extra bounded jobs, never a driver OOM.
    */
  def groupedOrderStats(df: DataFrame, groupCol: String,
      valueCol: String, positionsFor: (Long, Long) => Seq[Long],
      binadeBits: Int = 10,
      sliceCap: Long = 8L * 1000 * 1000, histCap: Int = 1 << 21,
      aggCap: Long = 32L * 1000 * 1000):
      Seq[(String, Long, Long, Map[Long, Double])] = {
    require(binadeBits >= 0 && binadeBits <= 52,
      s"binadeBits must be in [0, 52], got $binadeBits")
    require(sliceCap >= 1 && sliceCap <= Int.MaxValue,
      s"sliceCap must be in [1, Int.MaxValue], got $sliceCap — slice " +
        "values index a collected array, so a wider cap would " +
        "silently truncate")
    require(aggCap >= sliceCap,
      s"aggCap ($aggCap) must be >= sliceCap ($sliceCap): a wave must " +
        "hold at least one maximal slice")
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol).cast("double")
    val g = col(groupCol).cast("string")
    val bits = column(SortableBits(expression(v)))
    def sliceAt(shift: Int) = shiftright(bits, shift)
    val shift0 = 52 - binadeBits

    val fetchSession = PlanDsl.withConf(spark,
      "spark.sql.limit.initialNumPartitions" -> Int.MaxValue.toString)
    def fetchHist(grouped: DataFrame): Array[org.apache.spark.sql.Row] = {
      // ONE fetch round (r21): executeTake's default incremental
      // scale-up starts at 1 partition and grows 4× per round, so a
      // take() whose limit EXCEEDS the row count — histCap is a
      // driver-memory cap, not an expected size; the common histogram
      // is ~10⁴ rows against a 2²¹ cap — re-runs the final-agg stage
      // log₄(partitions) times before concluding the rows are all
      // there. That was 3 extra driver-blocking jobs per histogram
      // pass, the dominant slice of the percentiles row at a 30×
      // corpus (graft.Bench `percentiles`: 2.08 s vs 0.24 s of raw
      // scans, r21). Raising the initial partition count makes the
      // fetch a single round while take() keeps enforcing the cap
      // BEFORE the driver materializes an over-budget histogram — the
      // reason this is not a bare collect().
      // The raised value lives on a clone that only these takes run
      // on, so the caller's session, and any query running on it,
      // keeps its own setting.
      val rows = PlanDsl.ofRows(fetchSession, grouped.queryExecution.analyzed)
        .take(histCap + 1)
      require(rows.length <= histCap,
        s"grouped-quantile histogram exceeds histCap ($histCap rows): " +
          s"|groups| × present slices (binadeBits=$binadeBits) is past " +
          "the driver envelope — lower binadeBits, or this grouping is " +
          "too high-cardinality for a driver-sized quantile table")
      rows
    }

    // the ONLY full-corpus histogram: null values ride a sentinel
    // slice so nTotal counts them (real slice ids stay strictly above
    // Long.MinValue — even -Infinity maps to -0x7FF0000000000001)
    val hist0 = fetchHist(df
      .groupBy(g.as("g"),
        coalesce(sliceAt(shift0), lit(Long.MinValue)).as("h"))
      .agg(count(lit(1)).as("c"), min(v).as("mn"), max(v).as("mx")))

    case class Slice(h: Long, c: Long, mn: Double, mx: Double, cum: Long)
    def cumulate(rows: Seq[(Long, Long, Double, Double)]): Seq[Slice] = {
      var acc = 0L
      rows.sortBy(_._1).map { case (h, c, mn, mx) =>
        val s = Slice(h, c, mn, mx, acc); acc += c; s
      }
    }
    val groups: Seq[(String, Long, Seq[Slice], Long)] =
      hist0.groupBy(_.getString(0)).map { case (gk, rows) =>
        val nTotal = rows.map(_.getLong(2)).sum
        val slices = cumulate(rows.toSeq
          .filter(_.getLong(1) != Long.MinValue)
          .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
            r.getDouble(4))))
        val nVals = slices.lastOption.map(s => s.cum + s.c).getOrElse(0L)
        (gk, nTotal, slices, nVals)
      }.toSeq.sortBy(t => Option(t._1)) // NULL group key sorts first, NPE-free

    def locate(slices: Seq[Slice], p: Long): Slice =
      slices.find(s => p < s.cum + s.c).get
    // the degenerate-slice shortcut must treat an all-NaN slice as
    // single-valued (NaN != NaN under ==, but all NaNs canonicalize
    // to ONE sortable-bits value, so a shift-0 NaN slice would
    // otherwise stay "oversized" forever); Double.compare is the
    // slicing's own total order, and a slice can never mix -0.0 with
    // +0.0 (their f values land in different slices at every shift)
    def singleValued(s: Slice): Boolean =
      java.lang.Double.compare(s.mn, s.mx) == 0

    // request = the orig-position order statistic lives `within` the
    // (gk, h)-slice at the CURRENT shift; resolve by collect if the
    // slice is small, else refine the slice and re-locate
    case class Req(gk: String, h: Long, within: Long, orig: Long)
    val out = mutable.Map.empty[(String, Long), Double] // (gk, orig) → value
    var pending = List.empty[Req]
    var sliceC = mutable.Map.empty[(String, Long), Long]
    val positions = mutable.Map.empty[String, Seq[Long]]
    groups.foreach { case (gk, nTotal, slices, nVals) =>
      val ps = positionsFor(nTotal, nVals).distinct
      ps.foreach { p =>
        require(p >= 0 && p < nVals,
          s"order-statistic position $p out of range [0, $nVals) " +
            s"for group '$gk'")
        val s = locate(slices, p)
        if (singleValued(s)) out((gk, p)) = s.mn
        else {
          pending ::= Req(gk, s.h, p - s.cum, p)
          sliceC((gk, s.h)) = s.c
        }
      }
      positions(gk) = ps
    }

    var shift = shift0
    var cur: List[Req] = pending
    while (cur.nonEmpty) {
      val (collectable, oversized) =
        cur.partition(r => sliceC((r.gk, r.h)) <= sliceCap)
      if (collectable.nonEmpty) {
        // aggregate driver cap: pack the distinct needed slices into
        // waves of at most aggCap total rows (counts are exact from
        // the histogram) and gather one wave per job — the union of
        // many legal slices can exceed the driver even though each
        // slice is under sliceCap. Greedy first-fit in slice order;
        // every slice fits a wave because sliceCap <= aggCap.
        val distinctSlices = collectable.map(r => (r.gk, r.h)).distinct
        val reqsBySlice = collectable.groupBy(r => (r.gk, r.h))
        var waves = List.empty[List[(String, Long)]]
        var wave = List.empty[(String, Long)]
        var waveRows = 0L
        distinctSlices.foreach { k =>
          val c = sliceC(k)
          if (wave.nonEmpty && waveRows + c > aggCap) {
            waves ::= wave; wave = Nil; waveRows = 0L
          }
          wave ::= k; waveRows += c
        }
        if (wave.nonEmpty) waves ::= wave
        waves.foreach { wv =>
          // membership by broadcast semi-join on the (group, slice)
          // PAIR, never a string encoding: a concat_ws key lets a
          // group value containing the separator alias another
          // (group, slice), and concat_ws SKIPS a null group while
          // the driver-side key spells "null" — either way the wrong
          // slice population reaches the interpolation. `<=>` matches
          // the null group.
          val w = broadcast(wv.toDF("_wg", "_wh"))
          val got = df.select(g.as("g"), sliceAt(shift).as("h"), v.as("v"))
            .filter(col("v").isNotNull)
            .join(w, col("g") <=> col("_wg") && col("h") === col("_wh"),
              "leftsemi")
            .collect()
            .groupBy(r => (r.getString(0), r.getLong(1)))
            .map { case (k, rows) => (k, rows.map(_.getDouble(2)).sorted) }
          wv.foreach { k =>
            reqsBySlice(k).foreach { r =>
              out((r.gk, r.orig)) = got(k)(r.within.toInt)
            }
          }
        }
      }
      if (oversized.isEmpty) {
        cur = Nil
      } else {
        // refine: same slicing, RefineStepBits finer, restricted to
        // the oversized (group, slice) pairs — at shift 0 a slice is
        // one exact double (min == max), so this branch is unreachable
        // there and the loop terminates
        require(shift > 0,
          "unreachable: a shift-0 slice is a single double value")
        val cShift = math.max(0, shift - RefineStepBits)
        val w = broadcast(
          oversized.map(r => (r.gk, r.h)).distinct.toDF("_wg", "_wh"))
        val sub = fetchHist(df
          .select(g.as("g"), sliceAt(shift).as("hp"),
            sliceAt(cShift).as("h"), v.as("v"))
          .filter(col("v").isNotNull)
          .join(w, col("g") <=> col("_wg") && col("hp") === col("_wh"),
            "leftsemi")
          .groupBy(col("g"), col("h"))
          .agg(count(lit(1)).as("c"), min(col("v")).as("mn"),
            max(col("v")).as("mx")))
        // child slices per parent: hp = h >> (shift − cShift) (the
        // arithmetic shifts compose), cumulated in child-slice order
        val byParent: Map[(String, Long), Seq[Slice]] = sub.toSeq
          .groupBy(r => (r.getString(0), r.getLong(1) >> (shift - cShift)))
          .map { case (k, rows) =>
            (k, cumulate(rows.map(r => (r.getLong(1), r.getLong(2),
              r.getDouble(3), r.getDouble(4)))))
          }
        val nextC = mutable.Map.empty[(String, Long), Long]
        var next = List.empty[Req]
        oversized.foreach { r =>
          val kids = byParent((r.gk, r.h))
          val s = locate(kids, r.within)
          if (singleValued(s)) out((r.gk, r.orig)) = s.mn
          else {
            next ::= Req(r.gk, s.h, r.within - s.cum, r.orig)
            nextC((r.gk, s.h)) = s.c
          }
        }
        cur = next
        sliceC = nextC
        shift = cShift
      }
    }

    groups.map { case (gk, nTotal, _, nVals) =>
      (gk, nTotal, nVals, positions(gk).map(p => p -> out((gk, p))).toMap)
    }
  }

  /** Per group: (n_rows including null values, quantile value per q —
    * NaN-free Option, None when the group has no non-null values).
    * Interpolation replicates Spark's `Percentile.getPercentile`
    * bit-for-bit: `pos = q·(n−1)`,
    * `(higher−pos)·v_lo + (pos−lower)·v_hi`, null values excluded
    * from positions. Driver envelope: see [[groupedOrderStats]].
    */
  def groupedExact(df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[Double], binadeBits: Int = 10,
      sliceCap: Long = 8L * 1000 * 1000, histCap: Int = 1 << 21,
      aggCap: Long = 32L * 1000 * 1000):
      Seq[(String, Long, Seq[Option[Double]])] = {
    val stats = groupedOrderStats(df, groupCol, valueCol,
      (_, nVals) =>
        if (nVals == 0) Nil
        else qs.flatMap { q =>
          val pos = q * (nVals - 1)
          Seq(pos.floor.toLong, pos.ceil.toLong)
        },
      binadeBits, sliceCap, histCap, aggCap)
    stats.map { case (gk, nTotal, nVals, at) =>
      val vals = qs.map { q =>
        if (nVals == 0) None
        else {
          val pos = q * (nVals - 1)
          val lower = pos.floor.toLong
          val higher = pos.ceil.toLong
          val lo = at(lower)
          Some(
            if (higher == lower) lo
            else {
              val hi = at(higher)
              if (hi == lo) lo
              else (higher - pos) * lo + (pos - lower) * hi
            })
        }
      }
      (gk, nTotal, vals)
    }
  }
}
