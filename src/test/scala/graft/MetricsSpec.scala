package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

import graft.pipeline.Metrics

/** Observe-metrics capture: accumulator-based counts piggyback on the
  * action's own pass and surface through the listener.
  */
class MetricsSpec extends SparkSpec {

  test("observe metrics are captured by the listener and persisted") {
    val collector = Metrics.attach(spark)
    try {
      Tables.events(spark, sf)
        .observe("ingest", count(lit(1)).as("rows_in"),
          sum(col("value")).as("value_sum"))
        .filter(col("event_type") === "purchase")
        .observe("filtered", count(lit(1)).as("rows_out"))
        .write.mode("overwrite")
        .parquet(PlanDsl.tempDir("graft-obs").toString + "/out")

      // listener delivery is async (ExecutionListenerBus): wait for it
      var waited = 0
      while (collector.snapshot.size < 2 && waited < 100) {
        Thread.sleep(100); waited += 1
      }
      val byName = collector.snapshot.toMap
      val total = Tables.events(spark, sf).count()
      val kept = Tables.events(spark, sf)
        .filter(col("event_type") === "purchase").count()
      assert(byName("ingest")("rows_in") == total)
      assert(byName("filtered")("rows_out") == kept)

      val dir = PlanDsl.tempDir("graft-mon").toString + "/m"
      Metrics.record(spark, dir, "run1", collector.snapshot)
      val hist = Metrics.history(spark, dir)
      assert(hist.filter(col("observation") === "ingest" &&
        col("metric") === "rows_in" &&
        col("value") === total.toString).count() == 1)
    } finally spark.listenerManager.unregister(collector)
  }
}
