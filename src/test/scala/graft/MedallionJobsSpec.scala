package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

import graft.pipeline.Medallion

/** Spark-job budget of a medallion tick. A tick over a small increment
  * costs its fixed per-job overhead, not its data, so the job count is
  * the tick's cost model: bookkeeping (schemas, watermarks, touched
  * partitions, the quality gate) must not add jobs of its own.
  */
class MedallionJobsSpec extends SparkSpec {

  /** The SQL execution id of every job started while `f` runs, if the
    * job has one.
    */
  private def jobs(f: => Unit): Seq[Option[Long]] =
    jobPropertiesDuring(f)._2.map(p =>
      Option(p.getProperty("spark.sql.execution.id")).map(_.toLong))

  /** One line per job: its SQL execution's call site. */
  private def show(js: Seq[Option[Long]]): String = js.map {
    case None => "(no SQL execution)"
    case Some(id) => spark.sharedState.statusStore.execution(id)
      .fold(s"execution $id")(e => s"execution $id: ${e.description}")
  }.mkString("\n  ", "\n  ", "")

  test("a medallion tick pays its job budget, every job a SQL execution") {
    val landing = PlanDsl.tempDir("graft-medallion-jobs")
    val events = s"$landing/events.parquet"
    val root = landing.resolve("mat").toString
    // the base ends mid-day, so the later slice re-opens one existing
    // day partition and adds two new ones
    val cut = lit("2024-01-28 12:00:00").cast("timestamp")
    val all = Tables.events(spark, sf)
    all.filter(col("ts") < cut).write.parquet(events)
    Medallion.run(spark, landing.toString, root)
    Medallion.run(spark, landing.toString, root) // warm: no new data
    all.filter(col("ts") >= cut).write.mode("append").parquet(events)

    val arrival = jobs(Medallion.run(spark, landing.toString, root))
    val empty = jobs(Medallion.run(spark, landing.toString, root))
    // arrival: stg watermark 2, stg batch checkpoint 1, its touched
    // days 2, stg write 3, int write 2, dwh write 4, quality gate 6;
    // no new data: the watermark, the checkpoint, an empty collect and
    // the gate
    assert(arrival.size === 20, show(arrival))
    assert(empty.size === 10, show(empty))
    // a job outside any SQL execution is Spark's own work (e.g. parquet
    // schema inference), invisible to per-query metrics
    assert((arrival ++ empty).forall(_.isDefined), show(arrival ++ empty))
  }
}
