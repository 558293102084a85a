package graft

import org.apache.spark.sql.graft.PlanDsl

import graft.queries.ParityQueries
import graft.streaming.Streams

/** Batch/streaming equivalence (SURVEY §7.4 risk: streaming
  * latest-per-key must match the batch int layer; streaming daily
  * windows must match the batch dwh layer).
  */
class StreamingSpec extends SparkSpec {

  test("streaming daily metrics == batch daily metrics") {
    val stream = Streams.dailyMetrics(spark, sf)
    val batch = ParityQueries.dailyMetrics(spark, sf)
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
  }

  test("streaming latest-per-key == batch latest-per-key") {
    val stream = Streams.latestPerKey(spark, sf)
    val batch = ParityQueries.latestPerKey(spark, sf)
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
  }

  test("staging pins the ts-flavor contract: NANOS-as-long and MICROS fixtures both stream == batch") {
    // The driver's events.parquet has shipped as TIMESTAMP(NANOS)
    // (read as raw long under nanosAsLong) in early rounds and
    // TIMESTAMP(MICROS) since round 8 — and the round-8 regression was
    // exactly a streaming landing zone staged against one hardcoded
    // flavor. eventsStream now normalizes through Tables.events, so
    // BOTH flavors must produce identical batch and streaming answers.
    // The generated testdata carries whichever flavor is current; this
    // spec stages each flavor EXPLICITLY so the loader branch not
    // exercised by today's testdata cannot rot.
    import org.apache.spark.sql.functions._
    val real = Tables.events(spark, sf)
    def fixture(flavor: String): String = {
      val tmp = PlanDsl.tempDir(s"graft-tsflavor-$flavor").toString
      flavor match {
        case "nanos" =>
          // raw int64 nanoseconds — what TIMESTAMP(NANOS) parquet
          // looks like under spark.sql.legacy.parquet.nanosAsLong
          real.withColumn("ts", expr("unix_micros(ts) * CAST(1000 AS BIGINT)"))
            .write.parquet(s"$tmp/events.parquet")
        case "micros" =>
          val key = "spark.sql.parquet.outputTimestampType"
          val saved = spark.conf.get(key)
          spark.conf.set(key, "TIMESTAMP_MICROS")
          try real.write.parquet(s"$tmp/events.parquet")
          finally spark.conf.set(key, saved)
      }
      tmp
    }
    for (flavor <- Seq("nanos", "micros")) {
      val dir = fixture(flavor)
      // the batch loader recovers identical instants from the fixture
      val batchEv = Tables.events(spark, dir)
      assert(batchEv.exceptAll(real).isEmpty && real.exceptAll(batchEv).isEmpty,
        s"$flavor: Tables.events must recover the original instants")
      // and the STREAMING staging path agrees with batch on the same dir
      val stream = Streams.dailyMetrics(spark, dir)
      val batch = ParityQueries.dailyMetrics(spark, dir)
      assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty,
        s"$flavor: staged stream must equal batch")
    }
  }
}
