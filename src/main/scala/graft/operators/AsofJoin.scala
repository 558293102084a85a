package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Left as-of join: for each left row, the single right value whose
  * timestamp is the greatest one `<=` the left timestamp, per key —
  * the operator behind "join each observation to the latest reference
  * state at that moment". The reference's `int` layer is the degenerate
  * whole-table case of this (latest state per key, SURVEY §2.7 note).
  *
  * Spark has no built-in as-of join, so instead of a per-row range
  * probe (quadratic) we express it as a union + ordered window scan:
  * tag right rows side=0 and left rows side=1, sort each key partition
  * by (ts, side, tieBreak), and carry the last non-null right value
  * forward with `last(..., ignoreNulls)` over an unbounded-preceding
  * frame. Cost: ONE shuffle of |L|+|R| rows and one sort — the same
  * cost profile as a sort-merge join, fully parallel per key, no
  * broadcast or driver state. Ties (right.ts == left.ts) resolve
  * "right first", i.e. an exactly-simultaneous right row IS visible to
  * the left row, matching DuckDB `ASOF JOIN`'s `>=` semantics.
  */
object AsofJoin {

  /** @param rightValue column of `right` to carry (aliased `asofCol`)
    * @param tieBreak   column present on both sides making the sort
    *                   total (e.g. a unique row id)
    */
  def lastValue(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, rightValue: String,
      tieBreak: String, asofCol: String): DataFrame = {
    val keyCols = keys.map(col)
    val leftCols = left.columns
    val valueType = right.schema(rightValue).dataType
    // the carried payload is a (marker, value) STRUCT, non-null on every
    // right row: `last(..., ignoreNulls)` then matches the most recent
    // right ROW — whose value may legitimately be NULL — instead of
    // skipping to the most recent non-null VALUE (DuckDB ASOF JOIN
    // yields the matched row's NULL, and so do we)
    val structType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("m", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v", valueType)))

    val r = right.select(
      keyCols ++ Seq(
        col(rightTs).as("_ts"), lit(0).as("_side"), col(tieBreak).as("_tb"),
        struct(lit(1).as("m"), col(rightValue).as("v")).as("_v")) ++
        leftCols.filterNot(keys.contains).map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val l = left.select(
      keyCols ++ Seq(
        col(leftTs).as("_ts"), lit(1).as("_side"), col(tieBreak).as("_tb"),
        lit(null).cast(structType).as("_v")) ++
        leftCols.filterNot(keys.contains).map(col(_)): _*)

    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col("_ts").asc, col("_side").asc, col("_tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    r.unionByName(l)
      .withColumn(asofCol,
        last(col("_v"), ignoreNulls = true).over(w).getField("v"))
      .filter(col("_side") === 1)
      .select(leftCols.map(col).toSeq :+ col(asofCol): _*)
  }

  /** Native as-of join through the engine's custom Catalyst operator
    * ([[graft.plans.AsofJoinNode]] → `AsofJoinExec`): same semantics as
    * [[lastValue]] (null keys group; a matched NULL value stays NULL;
    * ties at equal ts resolve to the last right row in `rightTieBreak`
    * order), but the physical plan is a two-sided co-partitioned
    * streaming merge instead of union + window — no union
    * materialization, O(1) merge state per partition.
    *
    * The right side is re-projected through fresh aliases before the
    * node is built so a self-join (left and right derived from the same
    * scan) never carries conflicting attribute ids into the plan.
    */
  def native(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, rightValue: String,
      rightTieBreak: Seq[String], asofCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    val spark = left.sparkSession
    val r0 = right.select(
      right.columns.toIndexedSeq.map(c => col(c).as("__r_" + c)): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = r0.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"asof: no column $name"))
    val valAttr = attr(rPlan, "__r_" + rightValue)
    val node = graft.plans.AsofJoinNode(
      lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(k => attr(rPlan, "__r_" + k)),
      attr(lPlan, leftTs), attr(rPlan, "__r_" + rightTs),
      valAttr, rightTieBreak.map(t => attr(rPlan, "__r_" + t)),
      AttributeReference(asofCol, valAttr.dataType, nullable = true)())
    org.apache.spark.sql.graft.PlanDsl.ofRows(spark, node)
  }
}
