package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.plans.HllReg

/** Portable deterministic HyperLogLog as plain DataFrame aggregation.
  *
  * Spark's `approx_count_distinct` is a black-box HLL++ whose register
  * layout (and therefore estimate) is engine-specific — unverifiable by
  * an external oracle. This sketch is the same algorithm expressed as
  * relational operators over a *portable* hash (md5 hex), so any engine
  * that can md5 a string reproduces the estimate bit-for-bit:
  *
  *   - bucket  = first 2 hex nibbles of md5(value)        (m = 256)
  *   - rho     = 1 + leading zero bits of the next 10 nibbles (1..41)
  *   - per (group, bucket): M = max(rho)                  — the registers
  *   - harmonic sum kept EXACT as a BIGINT: S = Σ 2^(41-M)
  *     (every term integral because M ≤ 41, and Σ ≤ m·2^40 < 2^63),
  *     so aggregation order cannot perturb the estimate
  *   - estimate = α·m² · 2^41 / S, with the standard linear-counting
  *     fallback m·ln(m/V) when E ≤ 2.5m and V (empty registers) > 0
  *
  * The only floating-point steps are one constant fold, one division
  * and (rarely) one ln — deterministic IEEE ops on identical inputs, so
  * the DuckDB oracle matches exactly, unlike a double harmonic mean
  * whose summation order would differ per engine and per shuffle.
  *
  * Scale shape: map-side partial `max` per (group, bucket) combines
  * before the shuffle, so the exchange carries at most m=256 rows per
  * group regardless of input size — the classic distributed-sketch
  * merge, just written declaratively.
  */
object Hll {

  private val M = 256 // registers (p = 8 bits of bucket index)

  /** rho (1 + leading-zero bits) of the 40-bit tail of an md5 hex. */
  private[graft] def rho(hex: Column): Column = {
    val tail = substring(hex, 3, 10)
    val stripped = regexp_replace(tail, "^0+", "")
    val zeroNibbles = lit(10) - length(stripped)
    val first = substring(stripped, 1, 1)
    val inNibble = when(first === "1", 3)
      .when(first.isin("2", "3"), 2)
      .when(first.isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    when(length(stripped) === 0, lit(41))
      .otherwise(lit(4) * zeroNibbles + inNibble + lit(1))
  }

  /** The (group, bucket) → max-rho register table — the sketch's
    * mergeable state: registers of ANY two sketches over the same
    * bucketing union by `max` per bucket (set union), which is what
    * makes the sketch mergeable across partitions, runs and tables
    * (see the `sketch_hll_setops` query for the algebra in action).
    */
  def registers(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    val g = groupCols.map(col)
    // ONE native digest per row ([[graft.plans.HllReg]], spec-checked
    // bit-equal to the hex derivation the oracle replays,
    // `graft.ref.HllRef.hexRegister`): the declarative hex form references the md5 in five
    // sub-expressions the aggregate's projection does not reliably
    // share — measured ~4 s of approx_distinct's 5 s at bench sf0.1
    val reg = column(HllReg(expression(col(valueCol).cast("string"))))
    df.filter(col(valueCol).isNotNull)
      .select(g :+ reg.getField("bucket").as("_b")
        :+ reg.getField("rho").as("_r"): _*)
      .groupBy(g :+ col("_b"): _*)
      .agg(max(col("_r")).as("_m"))
  }

  /** Fold a register table (as produced by [[registers]], or any
    * max-merge of such tables) into the per-group estimate.
    */
  def estimate(regs: DataFrame, groupCols: Seq[String], outName: String): DataFrame = {
    val g = groupCols.map(col)
    val folded = regs
      .groupBy(g: _*)
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 41 - _m)")).as("_s"),
        count(lit(1)).as("_nb"))
    // α·m² as one constant-folded double chain — the oracle SQL writes
    // the same literals in the same association so the fold is bit-equal.
    val alphaM2 = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) * lit(65536.0)
    // empty registers hold M_j = 0, i.e. contribute 2^41 each to the
    // integer-scaled harmonic sum
    val vLong = lit(M.toLong) - col("_nb")
    val sTotal = col("_s") + vLong * lit(2199023255552L)
    val eRaw = alphaM2 * lit(2199023255552.0) / sTotal // α·m² · 2^41 / S
    val v = vLong.cast("double")
    val est = when(eRaw <= lit(640.0) && v > lit(0.0),
      lit(256.0) * log(lit(256.0) / v)).otherwise(eRaw)
    folded.select(g :+ floor(est).cast("long").as(outName): _*)
  }

  /** Per-`groupCols` approximate distinct count of `valueCol`, emitted
    * as `outName` (BIGINT). Nulls are ignored, matching COUNT(DISTINCT).
    */
  def approxDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
      outName: String): DataFrame =
    estimate(registers(df, groupCols, valueCol), groupCols, outName)
}
