package graft

import org.apache.spark.sql.functions._

import graft.operators.Joins

/** Plan-statistics sizing: the estimate the shuffle-width choices of
  * `Clusters` and `Pq` read before any job runs.
  */
class JoinsSpec extends SparkSpec {

  test("regime decision launches zero Spark jobs (stats-based sizing, no count)") {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val dim = spark.range(0, 10)
        .select(col("id").as("dk"), concat(lit("d"), col("id")).as("name"))
      val n = Joins.estimatedRows(dim)
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
      assert(started.get() === 0,
        "sizing a plan must not run a job")
      assert(n >= 1 && n <= (1L << 20), s"estimate $n")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
