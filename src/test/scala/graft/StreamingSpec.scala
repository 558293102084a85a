package graft

import java.nio.file.{Files, Path}

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
    // the fixtures are per run, so their landing zones are too: they
    // go to a spec-scoped artifact root, deleted with the JVM
    withRoot { _ =>
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

  test("a landing zone is built once per root, however many streams replay it") {
    withRoot { root =>
      import scala.jdk.CollectionConverters._
      def zones() = Files.list(root).iterator.asScala.toSeq
        .filter(d => d.getFileName.toString.startsWith("graft-stream-src-") &&
          Files.exists(d.resolve("_DONE")))
      // two streams over the same zone in one process
      val first = Streams.latestPerKey(spark, sf).collect()
      val second = Streams.dailyMetrics(spark, sf)
      assert(zones().size === 1)
      // nothing in the process remembers the zone: this call finds it
      // by the artifact glob alone, as a fresh process would
      assert(Streams.latestPerKey(spark, sf).collect().toSeq === first.toSeq)
      assert(second.count() > 0)
      assert(zones().size === 1)
      // the zone holds its arrivals and Persisted's markers, nothing else
      val names = Files.list(zones().head).iterator.asScala
        .map(_.getFileName.toString).toSeq
      assert(names.filterNot(n => n.matches("""b\d{3}\.parquet""") ||
        n.startsWith("_") || n.startsWith("._")).isEmpty, names)
      assert(names.count(_.endsWith(".parquet")) === 3, names)
    }
  }

  /** Run `f` with the persisted artifact root at a fresh temp dir. */
  private def withRoot[A](f: Path => A): A = {
    val key = "spark.graft.persisted.root"
    val saved = spark.conf.getOption(key)
    val root = PlanDsl.tempDir("graft-stream-root")
    spark.conf.set(key, s"file:$root")
    try f(root) finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
