package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.{ColumnarToRowExec, CommandResultExec, FileSourceScanExec, FilterExec, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl
import org.apache.spark.sql.types.{DateType, LongType, TimestampType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.MergeWriter
import graft.pipeline.Medallion
import graft.plans.ParamLiteral

/** The medallion's watermark filters plan as [[ParamLiteral]]s on its
  * per-run session, and nothing else about their scans changes.
  */
class ParamScanSpec extends SparkSpec {

  /** Every node of `p`, through adaptive plans, query stages and
    * command results.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _ => p.children.flatMap(nodes)
  })

  /** Each filter planned right above a file scan, with that scan. */
  private def scanFilters(p: SparkPlan): Seq[(FilterExec, FileSourceScanExec)] = {
    def scan(c: SparkPlan): Option[FileSourceScanExec] = c match {
      case s: FileSourceScanExec => Some(s)
      case c: ColumnarToRowExec => scan(c.child)
      case i: InputAdapter => scan(i.child)
      case _ => None
    }
    nodes(p).collect { case f: FilterExec => scan(f.child).map(f -> _) }.flatten
  }

  private def reads(s: FileSourceScanExec, table: String): Boolean =
    s.relation.location.rootPaths.exists(_.toString.contains(table)) &&
      s.dataFilters.exists(_.references.exists(_.name == "ts"))

  /** The scan's partition and pushed filters, expression ids masked. */
  private def filters(s: FileSourceScanExec): Seq[String] =
    Seq("PartitionFilters", "PushedFilters").map(k => s.metadata(k).replaceAll("#[0-9]+", "#N"))

  private def hasParam(f: FilterExec): Boolean = f.condition.exists(_.isInstanceOf[ParamLiteral])

  private def executed(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  test("ParamLiteral evaluates as its generated code does, and prints as a Literal") {
    Seq((1705815523310500L, TimestampType), (19750, DateType), (-42L, LongType)).foreach {
      case (v, t) =>
        val p = ParamLiteral(v, t)
        // whole-stage codegen, against the literal it stands for; first,
        // so the session (and its codegen cache size) exists before any
        // class is generated
        val row = spark.range(1).select(PlanDsl.column(p)).head()
        assert(row === spark.range(1).select(PlanDsl.column(Literal(v, t))).head(), t.toString)
        assert(GenerateUnsafeProjection.generate(Seq(p))(InternalRow.empty).get(0, t) === p.eval())
        assert(p.eval() === v)
        assert(p.toString === Literal(v, t).toString)
        assert(p.sql === Literal(v, t).sql)
    }
  }

  test("the medallion's watermark scans keep their filters and rows, and the caller's strategies") {
    val landing = PlanDsl.tempDir("graft-param-scan")
    val dir = landing.toString
    val root = landing.resolve("mat").toString
    val all = Tables.events(PlanDsl.withConf(spark,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"), sf)
    val cut = lit("2024-01-28 12:00:00").cast("timestamp")
    all.filter(col("ts") < cut).write.parquet(s"$dir/events.parquet")
    Medallion.run(spark, dir, root)
    all.filter(col("ts") >= cut).write.mode("append").parquet(s"$dir/events.parquet")
    // stg's watermark and the downstream one agree after a clean run
    val w = MergeWriter.marker(spark, s"$root/int_latest", "_wm").get
    val strategies = spark.experimental.extraStrategies

    val runs = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = runs.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // registered before the run, so the run's session clone carries it
    spark.listenerManager.register(listener)
    try {
      Medallion.run(spark, dir, root)
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(spark.experimental.extraStrategies === strategies)

    val planned = runs.asScala.toSeq.flatMap(qe => scanFilters(qe.executedPlan))
    val layers: SparkSession = runs.asScala.head.sparkSession
    assert(layers ne spark)
    val stgWm = timestamp_micros(lit(w))
    def batch(s: SparkSession) = Tables.events(s, dir).filter(col("ts") > stgWm)
    def pending(s: SparkSession) = Tables.parquet(s, s"$root/stg_events")
      .filter(col("day") >= to_date(stgWm)).filter(col("ts") > stgWm)
    Seq("events.parquet" -> batch _, "stg_events" -> pending _).foreach { case (table, same) =>
      val run = planned.filter(p => reads(p._2, table))
      assert(run.size === 1, s"$table: one watermark scan in the arrival")
      val (filter, scan) = run.head
      assert(hasParam(filter), s"$table: ${filter.condition}")
      // the same frame on the caller's session and on the run's one,
      // executed: the adaptive plan is final, codegen stages included
      val (plain, cloned) = (same(spark), same(layers))
      val rows = Seq(plain, cloned).map(_.collect().toSeq.sortBy(_.toString))
      assert(rows(0) === rows(1), table)
      // F2's strict `>`: every row lies above W
      val micros = rows(1).map(r => DateTimeUtils.fromJavaTimestamp(r.getAs[Timestamp]("ts")))
      assert(micros.nonEmpty && micros.forall(_ > w), table)
      val Seq((plainFilter, plainScan)) = scanFilters(executed(plain))
      assert(!hasParam(plainFilter))
      assert(filters(scan) === filters(plainScan), table)
      val Seq((clonedFilter, clonedScan)) = scanFilters(executed(cloned))
      assert(hasParam(clonedFilter))
      assert(filters(clonedScan) === filters(plainScan), table)
      // no generated source names the watermark
      val code = nodes(executed(cloned)).collect {
        case c: WholeStageCodegenExec => c.doCodeGen()._2.body
      }
      assert(code.nonEmpty && code.forall(!_.contains(w.toString)), table)
    }
    // ... and a row at exactly W exists to leave out
    val atW = col("ts") === stgWm
    assert(Tables.events(spark, dir).filter(atW).count() >= 1)
    assert(Tables.parquet(spark, s"$root/stg_events").filter(atW).count() >= 1)
  }
}
