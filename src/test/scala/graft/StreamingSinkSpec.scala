package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

import graft.operators.Sessionize
import graft.streaming.Streams

/** Streaming session windows and the stream→merge-sink path. */
class StreamingSinkSpec extends SparkSpec {

  test("streaming session windows == batch sessionize aggregation") {
    val stream = Streams.sessionWindows(spark, sf)
    val batch = Sessionize(Tables.events(spark, sf), "user_id", "ts", 1800,
        tieBreak = Seq("event_id"))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
      .select("user_id", "session_start", "n_events", "session_value")
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
  }

  test("watermarked stream-stream join == batch interval join") {
    val stream = Streams.purchasesAfterSignups(spark, sf)
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val s = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
    val batch = p.join(s,
        col("user_id") === col("s_user") &&
          col("p_ts") >= col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 1 HOUR"))
      .select("p_id", "user_id", "s_id")
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
  }

  test("stream foreachBatch -> merge sink lands exactly the source rows") {
    val target = PlanDsl.tempDir("graft-sink").resolve("t").toString
    val result = Streams.dedupToMergeSink(spark, sf, target)
    val source = Tables.events(spark, sf)
    assert(result.count() === source.count())
    assert(result.select("event_id").exceptAll(source.select("event_id")).isEmpty)
  }

  test("streaming LSH index probe converges to the one-shot batch probe") {
    // the arrival path (micro-batches probing the persisted posting
    // index) must produce exactly the batch answer — same operator
    // (Dedup.lshIndexProbe), different delivery
    val streamed = Streams.lshDedupIncremental(spark, sf, batches = 3)
      .select("doc_id", "lsh_match", "n_lsh")
    val oneShot = graft.queries.TextQueries.dedupLshIndex(spark, sf)
      .select("doc_id", "lsh_match", "n_lsh")
    assert(streamed.count() === oneShot.count())
    assert(streamed.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(streamed).isEmpty)
  }

  test("dedup state is watermark-evicted; plain dropDuplicates would retain every key") {
    // The 100 TB posture behind dedupToMergeSink's
    // dropDuplicatesWithinWatermark: state per key expires once the
    // watermark passes its first-seen event time + delay. Plain
    // dropDuplicates("event_id") never evicts (the key set has no
    // event-time column), so its state is every id ever seen — measured
    // here side by side via the state-store operator metrics.
    def finalStateRows(dedup: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Long = {
      val ckpt = PlanDsl.tempDir("graft-dedup-state").toString
      val src = Streams.eventsStream(spark, sf)
        .withWatermark("ts", "1 day")
      val q = dedup(src).writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        // must consume every partition or the state stores never
        // commit (Spark validates commits per batch)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.count(); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal)).last
    }
    val total = Tables.events(spark, sf).select("event_id").distinct().count()
    val unbounded = finalStateRows(_.dropDuplicates("event_id"))
    val evicted = finalStateRows(_.dropDuplicatesWithinWatermark("event_id"))
    assert(unbounded === total, "plain dropDuplicates retains every key")
    // events span ~30 days over 3 time-ranged batches: everything first
    // seen more than a day before the final watermark must be gone
    assert(evicted < total / 2,
      s"expected watermark eviction, state still holds $evicted of $total")
  }

  test("T7 crash recovery: hard-stop mid-stream AFTER the sink applied, restart converges") {
    // The at-least-once window the replay-idempotence specs never hit:
    // the injected failure lands AFTER MergeWriter.upsert applied batch 1
    // but BEFORE the checkpoint committed it, so the restart MUST replay
    // an already-applied batch and the keyed merge MUST collapse it.
    val ckpt = PlanDsl.tempDir("graft-crash-ckpt").toString
    val target = PlanDsl.tempDir("graft-crash").resolve("t").toString
    def run(crashAtBatch: Option[Long]) = {
      val ev = Streams.eventsStream(spark, sf)
        .select("user_id", "ts", "event_id", "event_type", "value")
      ev.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.operators.MergeWriter.upsert(b.sparkSession, target, b,
            keys = Seq("user_id"), versionCols = Seq("ts", "event_id"))
          if (crashAtBatch.contains(id))
            throw new RuntimeException("injected crash after sink apply")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val crashed = run(crashAtBatch = Some(1L))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      crashed.awaitTermination()
    }
    assert(e.getMessage.contains("injected crash"))
    // the crash is observable: batches 0-1 are applied, batch 2 is not
    val partial = spark.read.parquet(target).count()
    // restart from the same checkpoint: replays batch 1, applies batch 2
    run(crashAtBatch = None).awaitTermination()
    val got = spark.read.parquet(target)
      .select("user_id", "ts", "event_id", "event_type", "value")
    val want = graft.operators.LatestPerKey(
      Tables.events(spark, sf)
        .select("user_id", "ts", "event_id", "event_type", "value"),
      Seq("user_id"), Seq("ts", "event_id"))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(partial <= got.count(),
      "partial table cannot exceed the converged key count")
  }
}
