package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

import graft.ext.Similarity

/** IVF index lifecycle: centroid training is separable from probing,
  * and a probe over a persisted index is a pure plan — zero jobs at
  * construction, no centroid re-training — with results identical to
  * the one-shot path.
  */
class IvfIndexSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)

  test("probe over a persisted centroid index: zero jobs, no retrain, same results") {
    import graft.operators.Versioned
    val q = emb.filter(col("vec_id") < 20)
    val root = PlanDsl.tempDir("ivf-idx").toString
    Versioned.write(spark, s"$root/centroids",
      Similarity.trainCentroids(emb, "embedding", "label"))
    val cents = Versioned.read(spark, s"$root/centroids")

    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    org.apache.spark.graft.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val probe =
      try {
        val p = Similarity.ivfProbe(q, emb, "vec_id", "vec_id", "embedding",
          "label", cents, k = 3, nprobe = 3)
        org.apache.spark.graft.TestBus.drain(spark.sparkContext)
        assert(started.get() === 0,
          "probe construction must not launch jobs")
        p
      } finally spark.sparkContext.removeSparkListener(listener)

    // no centroid training (the per-cell averages) in the probe plan
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("avg("),
      "probe plan must not re-train centroids (found an avg aggregate)")

    val oneShot = Similarity.ivfTopK(q, emb, "vec_id", "vec_id",
        "embedding", "label", k = 3, nprobe = 3)
      .orderBy("q_id", "rank").collect().toSeq
    assert(probe.orderBy("q_id", "rank").collect().toSeq === oneShot)
  }
}
