package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSparkSession}
import org.apache.spark.util.Utils

/** The one bridge between graft's custom Catalyst nodes and the public
  * Dataset surface. `Dataset.ofRows` and `ExpressionUtils` are
  * `private[sql]`, so the engine's custom operators (e.g.
  * [[graft.plans.AsofJoinNode]]) and native expressions (e.g.
  * [[graft.plans.DotProduct]]) cross into DataFrames and Columns
  * through this package-located shim — the same technique every
  * third-party Spark plan extension uses.
  */
object PlanDsl {

  /** Wrap a (resolved) logical plan as a DataFrame on `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** A clone of `spark` with `confs` set: the session a plan that needs
    * its own settings (a sized shuffle width, a fetch batching knob)
    * runs on. Move a DataFrame onto it with
    * `ofRows(clone, df.queryExecution.analyzed)`, and its result back
    * the same way. The clone shares the parent's SparkContext, cache
    * and catalog, and the parent's conf never changes, so concurrent
    * work on the parent is unaffected and nothing needs a lock.
    */
  def withConf(spark: SparkSession, confs: (String, String)*): SparkSession = {
    val clone = spark.asInstanceOf[ClassicSparkSession].cloneSession()
    confs.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** A Catalyst expression as a Column: how the engine calls its native
    * expressions, on any session. An aggregate function goes in as its
    * `toAggregateExpression()`.
    */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** A Column's Catalyst expression, to pass as a native's child. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A fresh `<prefix>-<uuid>` dir under `root` (default: the JVM
    * tmpdir) that Spark's shutdown hook deletes when the JVM exits: the
    * scratch root of a query that writes intermediate tables.
    */
  def tempDir(prefix: String,
      root: String = System.getProperty("java.io.tmpdir")): java.nio.file.Path =
    Utils.createTempDir(root, prefix).toPath
}
