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
    // landed like the fixtures: ts as TIMESTAMP(MICROS), whose footer
    // statistics bound each file's rows (Spark's default INT96 has none)
    val landed = PlanDsl.withConf(spark,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    val all = Tables.events(landed, sf)
    all.filter(col("ts") < cut).write.parquet(events)
    Medallion.run(spark, landing.toString, root)
    Medallion.run(spark, landing.toString, root) // warm: no new data
    all.filter(col("ts") >= cut).write.mode("append").parquet(events)

    val arrival = jobs(Medallion.run(spark, landing.toString, root))
    val empty = jobs(Medallion.run(spark, landing.toString, root))
    // arrival, one SQL execution per layer write and one for the gate:
    // stg write 3: the new file's scan and the merge's aggregate,
    //   the repartition by day, the write
    // dwh write 3: stg's touched days and the rollup's aggregate, the
    //   repartition by day, the write
    // int write 2: the pending rows and int's aggregate, the write
    // quality gate 5: stg's fused checks 2, dwh's unique check 2, the
    //   collect
    assert(arrival.size === 13, show(arrival))
    assert(arrival.flatten.distinct.size === 4, show(arrival))
    // no new data: the footers skip every layer write; the gate alone
    assert(empty.size === 5, show(empty))
    // a job outside any SQL execution is Spark's own work (e.g. parquet
    // schema inference), invisible to per-query metrics
    assert((arrival ++ empty).forall(_.isDefined), show(arrival ++ empty))
  }
}
