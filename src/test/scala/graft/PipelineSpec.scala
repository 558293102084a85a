package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

import graft.ext.Multimodal
import graft.metar.{MetarFixture, Normalize}
import graft.operators.MergeWriter
import graft.pipeline.Medallion
import graft.quality.Anomaly
import graft.sources.CheckWxSource

/** End-to-end pipeline pieces: HTTP source unwrapping, medallion DAG
  * idempotence, schema-drift detection, multimodal batch plumbing.
  */
class PipelineSpec extends SparkSpec {

  test("CheckWx source unwraps data[] and feeds Normalize (S1)") {
    val src = CheckWxSource.fixture(MetarFixture.docs)
    val raw = src.fetchDecoded(spark, Seq("UUEE", "UUDD"))
    assert(raw.count() === 5)
    val flat = Normalize(raw)
    assert(flat.select("icao").distinct().count() === 4)
  }

  test("CheckWx source: empty data array short-circuits (F5)") {
    val src = CheckWxSource.fixture(Nil)
    assert(src.fetchDecoded(spark, Seq("UUEE")).isEmpty)
  }

  test("medallion re-run is a no-op (replay idempotence)") {
    val root = PlanDsl.tempDir("graft-medallion-test").toString
    val first = Medallion.run(spark, sf, root).orderBy("user_id", "day").collect()
    val second = Medallion.run(spark, sf, root).orderBy("user_id", "day").collect()
    assert(first.sameElements(second))
  }

  test("medallion self-heals a crash between the stg merge and downstream merges") {
    import spark.implicits._
    val root = PlanDsl.tempDir("graft-medallion-crash").toString
    Medallion.run(spark, sf, root)
    // simulate the crash window: a batch lands in stg (as a dying run
    // would leave it) but int/dwh never saw it — the NEXT run must
    // pick it up from the per-layer watermarks, not from its own
    // (empty) stg increment
    val lateTs = new java.sql.Timestamp(4102444800000L) // 2100-01-01
    val ghost = Seq((999999L, lateTs, 424242L, "view", 7.0,
        Some(1))).toDF("event_id", "ts", "user_id", "event_type", "value", "k")
      .withColumn("day", to_date(col("ts")))
    // same partitioned merge the stg layer itself runs — the exact
    // state a dying run leaves behind
    graft.operators.MergeWriter.upsertPartitioned(spark,
      s"$root/stg_events", ghost,
      keys = Seq("event_id"), versionCols = Seq("ts"), partCol = "day")
    Medallion.run(spark, sf, root)
    val intT = spark.read.parquet(s"$root/int_latest")
    assert(intT.filter(col("user_id") === 424242L).count() === 1,
      "recovered stg row never reached int_latest")
    val dwh = spark.read.parquet(root + "/" + graft.Config().schema + "_daily")
    assert(dwh.filter(col("user_id") === 424242L).count() === 1,
      "recovered stg row never reached the daily mart")
  }

  /** A medallion root over a landing dir that slices of the events
    * arrive in, and the check that its int and dwh layers equal a
    * one-shot build over everything landed. `scheme` prefixes the
    * root's path (e.g. `revfs:`) to put it on another file system.
    */
  private class Arrivals(name: String, scheme: String = "") {
    val landing = PlanDsl.tempDir(name)
    val root = scheme + landing.resolve("mat").toString
    val dwh = s"${graft.Config().schema}_daily"
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def path(rel: String) = new org.apache.hadoop.fs.Path(s"$root/$rel")
    private val all = Tables.events(spark, sf)
    def land(from: String, until: String): Unit =
      all.filter(col("ts") >= lit(from).cast("timestamp") &&
          col("ts") < lit(until).cast("timestamp"))
        .write.mode("append").parquet(s"$landing/events.parquet")
    def run(): Unit = Medallion.run(spark, landing.toString, root)
    def assertOneShot(what: String): Unit = {
      val oneShot = landing.resolve(s"oneshot-${what.replace(' ', '-')}").toString
      Medallion.run(spark, landing.toString, oneShot)
      for (layer <- Seq(dwh, "int_latest")) {
        val got = spark.read.parquet(s"$root/$layer").collect().toSeq
        val want = spark.read.parquet(s"$oneShot/$layer").collect().toSeq
        assert(got.diff(want).isEmpty && want.diff(got).isEmpty,
          s"$what: $layer differs from a one-shot build: " +
            s"${got.diff(want).size} rows only incremental, e.g. ${got.diff(want).take(3)}; " +
            s"${want.diff(got).size} rows only one-shot, e.g. ${want.diff(got).take(3)}")
      }
    }
  }

  test("medallion converges after a failure in dwh's merge") {
    ReversedLocalFs.register(spark.sparkContext.hadoopConfiguration)
    val a = new Arrivals("graft-medallion-dwh-fail", s"${ReversedLocalFs.Scheme}:")
    a.land("2000-01-01", "2024-01-20 12:00:00")
    a.run()
    a.land("2024-01-20 12:00:00", "2024-01-25 12:00:00")
    // dwh's partition swap dies after the first of the arrival's days,
    // after stg's merge has committed
    ReversedLocalFs.failStagedRename(a.dwh, 2)
    intercept[Exception](a.run())
    a.run()
    a.assertOneShot("dwh merge failure")
  }

  test("medallion resumes from int_latest's watermark after a crash inside int's swap") {
    val a = new Arrivals("graft-medallion-int-swap")
    a.land("2000-01-01", "2024-01-20 12:00:00")
    a.run()
    val before = new org.apache.hadoop.fs.Path(s"${a.landing}/int-before")
    org.apache.hadoop.fs.FileUtil.copy(a.hfs, a.path("int_latest"), a.hfs,
      before, false, spark.sparkContext.hadoopConfiguration)
    a.land("2024-01-20 12:00:00", "2024-01-25 12:00:00")
    a.run()
    // the run died between the two renames of int's swap: stg and dwh
    // hold the arrival, int_latest sits at its old name with the
    // watermark from before the arrival
    assert(a.hfs.delete(a.path("int_latest"), true))
    assert(a.hfs.rename(before, a.path(".int_latest.old")))
    val dwhDir = new java.io.File(a.root, a.dwh)
    val untouched = dwhDir.listFiles().map(_.getName)
      .filter(_.startsWith("day=")).min
    def files(day: String) = new java.io.File(dwhDir, day).listFiles()
      .map(f => f.getName -> f.lastModified).toSet
    val untouchedFiles = files(untouched)
    a.run()
    assert(a.hfs.exists(a.path("int_latest")) &&
      !a.hfs.exists(a.path(".int_latest.old")))
    // the recovered watermark scopes dwh to the arrival's days: a lost
    // one would rebuild every day
    assert(files(untouched) === untouchedFiles, s"dwh $untouched was rewritten")
    a.assertOneShot("int swap crash")
  }

  test("medallion rebuilds a root whose watermarks are legacy sidecar files") {
    val a = new Arrivals("graft-medallion-legacy")
    a.land("2000-01-01", "2024-01-20 12:00:00")
    a.run()
    // the layout before the marker: a {"wm":N} file per layer next to
    // the layer, none inside int_latest
    val wm = MergeWriter.marker(spark, a.path("int_latest").toString, "_wm")
    assert(wm.isDefined)
    for (layer <- Seq("int_latest", a.dwh)) {
      val out = a.hfs.create(a.path(s"${layer}_wm"), true)
      try out.write(s"""{"wm":${wm.get}}""".getBytes("UTF-8")) finally out.close()
    }
    assert(a.hfs.delete(a.path("int_latest/_wm"), false))
    a.land("2024-01-20 12:00:00", "2024-01-25 12:00:00")
    a.run()
    val stgMax = spark.read.parquet(s"${a.root}/stg_events")
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    assert(MergeWriter.marker(spark, a.path("int_latest").toString, "_wm") ===
      Some(stgMax))
    a.assertOneShot("legacy root")
  }

  test("medallion's daily mart loses the day row of a user a same-day correction moved away") {
    val a = new Arrivals("graft-medallion-reassign")
    a.land("2000-01-01", "2024-01-20 12:00:00")
    a.run()
    // an event of the watermark's day that is not its user's latest,
    // so int_latest keeps that user's row either way
    val landed = spark.read.parquet(s"${a.landing}/events.parquet")
    val moved = landed
      .filter(to_date(col("ts")) === lit("2024-01-20").cast("date"))
      .join(landed.groupBy("user_id").agg(max(col("ts")).as("latest")), "user_id")
      .filter(col("ts") < col("latest"))
      .orderBy("ts").limit(1).select(landed.columns.toSeq.map(col): _*)
    assert(moved.count() === 1)
    // re-emitted later that day under a user no other event has: stg's
    // (day, event_id) key keeps only the correction
    val newUser = landed.agg(max(col("user_id"))).head().getLong(0) + 1
    moved.withColumn("user_id", lit(newUser))
      .withColumn("ts", lit("2024-01-20 18:00:00").cast("timestamp"))
      .write.mode("append").parquet(s"${a.landing}/events.parquet")
    a.run()
    a.assertOneShot("same-day reassignment")
  }

  test("a crash inside stg's partition swap hides no row, whatever the listing order") {
    ReversedLocalFs.register(spark.sparkContext.hadoopConfiguration)
    val a = new Arrivals("graft-medallion-swap-order", s"${ReversedLocalFs.Scheme}:")
    a.land("2000-01-01", "2024-01-20 12:00:00")
    a.run()
    // the arrival re-opens 2024-01-20 and adds five days; the file
    // system lists the staged days newest first and fails the second
    // day's rename into stg
    a.land("2024-01-20 12:00:00", "2024-01-25 12:00:00")
    ReversedLocalFs.failStagedRename("stg_events", 2)
    intercept[java.io.IOException](a.run())
    a.run()
    a.assertOneShot("stg swap crash")
  }

  test("a root whose stg files are INT96 reads its watermark by a job and converges") {
    val a = new Arrivals("graft-medallion-int96")
    a.land("2000-01-01", "2024-01-20 12:00:00")
    a.run()
    // stg as a run wrote it before the layers wrote TIMESTAMP_MICROS:
    // INT96 ts, so no footer holds its min and max
    val stg = s"${a.root}/stg_events"
    val int96 = new org.apache.hadoop.fs.Path(s"${a.landing}/stg-int96")
    spark.read.parquet(stg).write.partitionBy("day").parquet(int96.toString)
    assert(a.hfs.delete(a.path("stg_events"), true) &&
      a.hfs.rename(int96, a.path("stg_events")))
    assert(Tables.dataFiles(spark, stg).forall(Tables.tsRange(spark, _, "ts").isEmpty))
    a.land("2024-01-20 12:00:00", "2024-01-25 12:00:00")
    val (_, jobs) = jobPropertiesDuring(a.run())
    // the watermark's aggregate, then the three layer writes and the gate
    val executions = jobs.flatMap(j => Option(j.getProperty("spark.sql.execution.id"))).distinct
    assert(executions.size === 5, executions)
    a.assertOneShot("INT96 stg")
  }

  test("a fresh medallion root holds the three layers, the watermark inside int_latest") {
    val root = PlanDsl.tempDir("graft-medallion-layout").toString
    Medallion.run(spark, sf, root)
    val layers = new java.io.File(root).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    assert(layers === Set("stg_events", "int_latest",
      s"${graft.Config().schema}_daily"))
    assert(MergeWriter.marker(spark, s"$root/int_latest", "_wm").isDefined)
  }

  test("medallion stg watermark: a first build stages every row, a boundary-ts arrival is not restaged (F2)") {
    val landing = PlanDsl.tempDir("graft-medallion-f2")
    val events = s"$landing/events.parquet"
    val root = landing.resolve("mat").toString
    val slice = Tables.events(spark, sf)
      .filter(col("ts") < lit("2024-01-20 12:00:00").cast("timestamp"))
    slice.write.parquet(events)
    Medallion.run(spark, landing.toString, root)
    // empty target: every landed row is staged (the reference's
    // watermark lacks the COALESCE and would stage nothing)
    val stg = spark.read.parquet(s"$root/stg_events").select("event_id")
    val landed = slice.select("event_id")
    assert(stg.exceptAll(landed).isEmpty && landed.exceptAll(stg).isEmpty)
    // strict `>`: a new event_id AT the watermark ts is not staged, one
    // a microsecond above it is
    val wm = spark.read.parquet(s"$root/stg_events").agg(max(col("ts")))
      .head().getTimestamp(0)
    val newId = slice.agg(max(col("event_id"))).head().getLong(0) + 1
    val at = slice.limit(1).withColumn("event_id", lit(newId))
      .withColumn("ts", lit(wm))
    val above = slice.limit(1).withColumn("event_id", lit(newId + 1))
      .withColumn("ts", timestamp_micros(lit(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(wm) + 1)))
    at.unionByName(above).write.mode("append").parquet(events)
    Medallion.run(spark, landing.toString, root)
    val staged = spark.read.parquet(s"$root/stg_events")
      .filter(col("event_id") >= newId).select("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(staged === Seq(newId + 1),
      "stg staged the boundary-ts row (>= instead of >) or missed the later one")
  }

  test("medallion: empty-source first build materializes nothing, then self-heals") {
    val emptyDir = PlanDsl.tempDir("graft-empty-src").toString
    Tables.events(spark, sf).limit(0)
      .write.parquet(s"$emptyDir/events.parquet")
    val root = PlanDsl.tempDir("graft-medallion-empty").toString
    // zero rows: no layer dir may appear (a schema-less partitioned dir
    // would wedge every later run), and the returned mart is a typed
    // empty
    val mart = Medallion.run(spark, emptyDir, root)
    assert(mart.count() === 0)
    assert(!graft.operators.MergeWriter.exists(spark, s"$root/stg_events"))
    // data arrives later: the SAME root now builds fully
    val full = Medallion.run(spark, sf, root)
    assert(full.count() > 0)
  }

  test("medallion-incr query reuses its persisted base across calls") {
    // first call builds (or re-attaches to) the signature-keyed base;
    // the second must answer identically WITHOUT rebuilding it — the
    // base dir's mtimes are untouched by a re-run
    val first = graft.queries.OpsQueries.pipelineMedallionIncr(spark, sf)
      .collect()
    val bases = new java.io.File(sys.props("java.io.tmpdir")).listFiles()
      .filter(f => f.getName.startsWith("graft-medallion-base-") &&
        new java.io.File(f, "_DONE").exists())
    assert(bases.nonEmpty, "no persisted medallion base after first call")
    val stamps = bases.map(b => b.getName ->
      new java.io.File(b, "mat/stg_events").lastModified).toMap
    val second = graft.queries.OpsQueries.pipelineMedallionIncr(spark, sf)
      .collect()
    assert(first.sameElements(second))
    bases.foreach { b =>
      assert(new java.io.File(b, "mat/stg_events").lastModified ===
        stamps(b.getName), s"base ${b.getName} was rebuilt on re-run")
    }
  }

  test("schema diff detects added/removed/retyped columns (Q6)") {
    import spark.implicits._
    val before = Anomaly.schemaSnapshot(Seq((1L, "a")).toDF("id", "x"))
    val after = Anomaly.schemaSnapshot(Seq((1, "a", 0.5)).toDF("id", "x", "y"))
    val diff = Anomaly.schemaDiff(before, after)
    assert(diff === Seq("added:y", "retyped:id:bigint->int"))
  }

  test("multimodal features: batch boundaries don't change results") {
    import spark.implicits._
    val media = Multimodal.mediaFromDocuments(Tables.documents(spark, sf))
      .as[Multimodal.MediaRow]
    val small = Multimodal.extractFeatures(media, Multimodal.StubDecoder, batchSize = 7)
      .toDF().drop("features")
    val big = Multimodal.extractFeatures(media, Multimodal.StubDecoder, batchSize = 512)
      .toDF().drop("features")
    assert(small.exceptAll(big).isEmpty && big.exceptAll(small).isEmpty)
    assert(small.count() === 500)
  }

  test("multimodal frame sampling: budget, spacing, short-asset cases") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "text", ("x" * 1000).getBytes("UTF-8"), "utf-8"),
      Multimodal.MediaRow(2L, "text", "short".getBytes("UTF-8"), "utf-8"),
      Multimodal.MediaRow(3L, "text", Array.empty[Byte], "utf-8"))
      .toDS()
    val frames = Multimodal.sampleFrames(media).collect()
    // 1000 chars -> 16 frames, capped at 8 samples, evenly spaced
    val f1 = frames.filter(_.id == 1L).sortBy(_.frame_idx)
    assert(f1.length === 8 && f1.forall(_.n_frames === 16L))
    assert(f1.map(_.frame_idx).toSeq === Seq(0L, 2L, 4L, 6L, 8L, 10L, 12L, 14L))
    assert(f1.forall(_.frame_chars === 64L))
    // 5 chars -> 1 frame of 5
    val f2 = frames.filter(_.id == 2L)
    assert(f2.length === 1 && f2.head.frame_chars === 5L)
    // empty asset -> no frames
    assert(!frames.exists(_.id == 3L))
    // identical frames hash identically; partitioning doesn't matter
    assert(f1.map(_.frame_sig).distinct.length === 1)
    val repartitioned = Multimodal.sampleFrames(media.repartition(3)).collect()
    assert(repartitioned.sortBy(r => (r.id, r.frame_idx)).toSeq ===
      frames.sortBy(r => (r.id, r.frame_idx)).toSeq)
  }

  test("anomaly stats flag an injected outlier slice (Q7)") {
    import spark.implicits._
    val base = (1 to 300).map(i => (i % 30, 10.0 + (i % 7) * 0.1))
    val outlier = (1 to 10).map(_ => (99, 10000.0))
    val df = (base ++ outlier).toDF("slice", "v")
    val stats = Anomaly.columnStats(df, "v", "slice")
    assert(stats.filter(col("is_anomaly")).select("slice").head().getInt(0) === 99)
  }

  test("warn-severity violations report but do not throw (Q2)") {
    import spark.implicits._
    import graft.quality.Checks
    val df = Seq(("a", 1), ("a", 2)).toDF("k", "v")
    // duplicate keys: as warn -> report row, no exception
    val report = Checks.enforce(Seq(
      Checks.unique(df, "k", "k_unique_warn", severity = Checks.Warn),
      Checks.notNull(df, "v", "v_not_null")))
    val warnRow = report.filter(col("check_name") === "k_unique_warn").head()
    assert(warnRow.getLong(1) === 1L && warnRow.getString(2) === "warn")
    // same violation at error severity -> throws
    intercept[AssertionError] {
      Checks.enforce(Seq(Checks.unique(df, "k", "k_unique_err")))
    }
  }

  test("run-history anomalies flag a drifted run, first run has no score (Q7)") {
    import spark.implicits._
    val monitor = PlanDsl.tempDir("graft-monitor-test")
      .resolve("m").toString
    for (r <- 1 to 5) {
      val v = if (r == 5) 500.0 else 10.0 + r * 0.01 // run 5 drifts hard
      val df = (1 to 100).map(i => v + (i % 3) * 0.001).toDF("v")
      Anomaly.recordRun(spark, monitor, df, "v", s"r$r")
    }
    val hist = Anomaly.historyAnomalies(spark, monitor)
    val flagged = hist.filter(col("is_anomaly")).select("run_id").collect().map(_.getString(0))
    assert(flagged.toSeq === Seq("r5"))
    assert(hist.filter(col("run_id") === "r1").head().isNullAt(hist.columns.indexOf("zscore")))
  }

  test("run history orders by ingestion stamp and separates metric columns") {
    import spark.implicits._
    val monitor = PlanDsl.tempDir("graft-monitor-lex")
      .resolve("m").toString
    // 11 runs: lexicographic run_id order (r1, r10, r11, r2, ...) is
    // WRONG — r10/r11 would see only r1 as history and r2..r9 would
    // include later runs in their "preceding" sets. Two monitored
    // columns interleave in the same table and must window separately.
    for (r <- 1 to 11) {
      val v = if (r == 11) 500.0 else 10.0 + r * 0.01 // last run drifts
      val df = (1 to 50).map(i => (v + (i % 3) * 0.001, 1000.0 + r))
        .toDF("v", "other")
      Anomaly.recordRun(spark, monitor, df, "v", s"r$r")
      Anomaly.recordRun(spark, monitor, df, "other", s"r$r")
    }
    val hist = Anomaly.historyAnomalies(spark, monitor)
    val vRows = hist.filter(col("metric_col") === "v")
    val flagged = vRows.filter(col("is_anomaly"))
      .select("run_id").collect().map(_.getString(0))
    assert(flagged.toSeq === Seq("r11"))
    // the DISCRIMINATING assertion for stamp-vs-lexicographic order:
    // under lexicographic run_id order r10's preceding set is only
    // {r1} (stddev_samp of one row = null -> null zscore); under the
    // ingestion-stamp order it has nine steady predecessors and a
    // real zscore
    assert(!vRows.filter(col("run_id") === "r10")
      .select("zscore").head().isNullAt(0),
      "r10 has a null zscore - history was ordered lexicographically")
    // the steady 'other' series never flags (interleaved windows would
    // z-score v's 500.0 against other's ~1000 means and misfire)
    assert(hist.filter(col("metric_col") === "other")
      .filter(col("is_anomaly")).count() === 0)
  }

  test("relationships ignores null child keys and allows same-named FK (dbt parity)") {
    import spark.implicits._
    val parent = Seq(1L, 2L).toDF("k")
    val child = Seq(Some(1L), Some(2L), None, Some(99L)).toDF("k")
    // dbt's relationships test filters null child keys: only the 99
    // orphan counts, the null row is not_null's concern — and the
    // childKey == parentKey naming must not make the join ambiguous
    val r = graft.quality.Checks.relationships(child, "k", parent, "k", "fk").head()
    assert(r.getLong(1) === 1L)
  }

  test("quantScale passes zero vectors through at scale 1.0") {
    import spark.implicits._
    val df = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(0.5f, -1.0f)))
      .toDF("id", "v")
    val got = df.select(col("id"),
        graft.functions.Vectors.quantScale(col("v")).as("s"))
      .orderBy("id").collect()
    assert(got(0).getDouble(1) === 1.0) // not Infinity/NaN
    assert(math.abs(got(1).getDouble(1) - 127.0) < 1e-9)
  }

  test("persisted schema snapshots diff across runs (Q6)") {
    import spark.implicits._
    val dir = PlanDsl.tempDir("graft-schema-test").resolve("s").toString
    Anomaly.recordSchema(spark, dir, Seq((1L, "a")).toDF("id", "x"), "r1")
    Anomaly.recordSchema(spark, dir, Seq((1L, "a")).toDF("id", "x"), "r2")
    Anomaly.recordSchema(spark, dir, Seq((1, "a", 0.5)).toDF("id", "x", "y"), "r3")
    val drift = Anomaly.schemaDrift(spark, dir)
    assert(drift === Seq(
      "r2" -> Seq.empty,
      "r3" -> Seq("added:y", "retyped:id:bigint->int")))
    // history pruning: lastRuns=1 reads only the trailing pair — same
    // newest diff, older pairs (already reported when current) dropped
    assert(Anomaly.schemaDrift(spark, dir, lastRuns = 1) === Seq(
      "r3" -> Seq("added:y", "retyped:id:bigint->int")))
  }

  test("schema drift orders by ingestion, not lexicographic run_id") {
    import spark.implicits._
    val dir = PlanDsl.tempDir("graft-schema-lex").resolve("s").toString
    // 'r10' > 'r9' chronologically but 'r10' < 'r9' lexicographically —
    // a string-ordered prune would diff these backwards
    Anomaly.recordSchema(spark, dir, Seq((1L, "a")).toDF("id", "x"), "r9")
    Anomaly.recordSchema(spark, dir, Seq((1L, "a", 0.5)).toDF("id", "x", "y"), "r10")
    assert(Anomaly.schemaDrift(spark, dir) === Seq("r10" -> Seq("added:y")))
    assert(Anomaly.schemaDrift(spark, dir, lastRuns = 1) ===
      Seq("r10" -> Seq("added:y")))
  }

  test("schema drift reads mixed legacy/stamped history files") {
    import spark.implicits._
    val dir = PlanDsl.tempDir("graft-schema-legacy").resolve("s").toString
    // a pre-stamp deployment appended 3-column snapshots (no
    // recorded_at); later stamped 4-column files land in the same dir.
    // Schema resolution must MERGE the footers — if the legacy file's
    // footer won, recorded_at would be unresolvable and the prune
    // would throw; legacy rows sort oldest (null stamp).
    Seq(("r0", "id", "bigint"), ("r0", "x", "string"))
      .toDF("run_id", "column_name", "column_type")
      .coalesce(1).write.mode("append").parquet(dir)
    Anomaly.recordSchema(spark, dir, Seq((1L, "a", 0.5)).toDF("id", "x", "y"), "r1")
    assert(Anomaly.schemaDrift(spark, dir) === Seq("r1" -> Seq("added:y")))
  }
}
