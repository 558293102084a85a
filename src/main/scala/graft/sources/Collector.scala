package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.tempDir
import org.apache.spark.sql.streaming.Trigger

/** The live collector loop — the engine's analogue of the reference's
  * scheduled collector task (`infra/airflow/dags/metar_pipeline_dag
  * .py:18` schedules `src/collector/main.py` every 30 min with Airflow
  * task retries; the fetch itself carries a 15 s timeout,
  * `main.py:53-69`):
  *
  *  - a real Structured Streaming `Trigger.ProcessingTime` rate stream
  *    supplies the cadence (the same live-trigger machinery
  *    `ProcessingTimeSpec` pins for T1), one HTTP fetch per tick;
  *  - a failed fetch (non-2xx, timeout) is retried `retries` times
  *    with linear backoff — Airflow `retries` parity. If every
  *    attempt fails the TICK is skipped and counted, never the run:
  *    a 30-min collector that dies on one upstream 503 loses every
  *    later observation, the reference's availability bug class;
  *  - landing is an idempotent content-keyed upsert (md5 of the raw
  *    payload), so re-fetching an unchanged feed re-lands the same
  *    keys and collapses — at-least-once delivery, exactly-once
  *    landing, the same contract as the T7 merge sinks.
  *
  * Deliberate deviation from the reference (adjudicated in SURVEY
  * §2.12): errors are COUNTED and surfaced in [[Stats]], not silently
  * swallowed (`main.py:191-196`).
  */
object Collector {

  /** Soak/run outcome: ticks that fetched, ticks skipped after
    * exhausting retries, and total fetch attempts (>= ticks when the
    * transport misbehaved — the observable retry count).
    */
  final case class Stats(ticksOk: Long, ticksSkipped: Long, attempts: Long)

  def run(spark: SparkSession, source: CheckWxSource, icaos: Seq[String],
      targetDir: String, ticks: Int, intervalMillis: Long,
      retries: Int = 2, retryDelayMillis: Long = 100): Stats = {
    require(ticks > 0, "ticks must be > 0")
    val ckpt = tempDir("graft-collector").toString
    val ok = new java.util.concurrent.atomic.AtomicLong
    val skipped = new java.util.concurrent.atomic.AtomicLong
    val attempts = new java.util.concurrent.atomic.AtomicLong
    val done = new java.util.concurrent.CountDownLatch(ticks)
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", math.max(1L, 1000L / intervalMillis).toString)
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(intervalMillis))
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        // ticks are the TRIGGER firings; rate rows are ignored (the
        // stream is cadence, not data). Guard so late in-flight
        // batches after the latch opens don't over-fetch.
        if (done.getCount > 0) {
          var attempt = 0
          var landed = false
          while (!landed && attempt <= retries) {
            attempt += 1
            attempts.incrementAndGet()
            try {
              val rows = source.fetchDecoded(spark, icaos)
                .withColumn("_id", md5(col("payload")))
              graft.operators.MergeWriter.upsert(spark, targetDir, rows,
                keys = Seq("_id"), versionCols = Seq.empty)
              landed = true
              ok.incrementAndGet()
            } catch {
              case e: Exception if attempt <= retries =>
                Thread.sleep(retryDelayMillis * attempt)
              case _: Exception =>
                skipped.incrementAndGet() // exhausted: skip the tick
            }
          }
          done.countDown()
        }
      }
      .start()
    try {
      // generous ceiling: ticks are serialized on the stream thread, and
      // a tick's worst case is (retries+1) fetches each allowed to run to
      // the transport's own HTTP timeout, plus the linear backoff sleeps —
      // a legitimately degraded-but-working collector (every attempt
      // timing out at 15 s, last one landing) must NOT trip the soak guard.
      val backoffWorst = retryDelayMillis * (retries.toLong * (retries + 1) / 2)
      val perTickWorst =
        (retries + 1).toLong * source.timeoutSeconds * 1000L + backoffWorst
      val budget = (intervalMillis + perTickWorst) * ticks + 30000L
      if (!done.await(budget, java.util.concurrent.TimeUnit.MILLISECONDS))
        throw new IllegalStateException(
          s"collector soak did not reach $ticks ticks within ${budget} ms")
    } finally {
      q.stop()
      q.awaitTermination()
    }
    Stats(ok.get, skipped.get, attempts.get)
  }
}
