package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Persisted

/** Structured Streaming realization of the reference's
  * orchestration-level streaming semantics (SURVEY §2.9):
  *
  *  - T1 30-min cron micro-batches → `Trigger.AvailableNow` (tests) /
  *    `Trigger.ProcessingTime` (production)
  *  - T3 high-watermark incremental state → `withWatermark` +
  *    checkpointed offsets
  *  - T5 latest-per-key snapshot (int layer) → `mapGroupsWithState`
  *  - T6 daily tumbling aggregate (dwh layer) → `window(ts, "1 day")`
  *
  * Each runner executes the stream to completion against the file
  * source and returns the result as a DataFrame, so batch oracles can
  * check streaming output — semantic equivalence of the two modes is
  * part of the engine's contract (SURVEY §7.4).
  *
  * The streams replay landing zones: directories of mtime-ordered
  * arrival files, the shape Structured Streaming's file source reads.
  * A zone is a pure function of its shape and its source table's
  * files, so it is a [[Persisted]] artifact ([[zone]]): the first call
  * on an artifact root builds it, every later call in any process
  * attaches it. Checkpoints and sinks are per run, under the stream
  * scratch root.
  */
object Streams {

  /** Events schema as the stream's parquet reader sees the events
    * landing zones (ts = INT64 micros — normalized at staging time
    * from whichever flavor the source parquet used; see
    * [[eventsStream]] and graft.Tables).
    */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Scratch root for the EPHEMERAL dirs these finite-replay streams
    * create per run (checkpoints, changelog sinks, shard layouts):
    * created fresh, never reused across runs, deleted when the JVM
    * exits.
    * Their WAL/fsync durability buys nothing — a durable checkpoint is
    * the caller's job (production passes its own path on durable
    * storage) — so the default prefers a ram-backed dir (/dev/shm)
    * when present: the per-micro-batch walCommit/commitOffsets floor
    * is fsync-bound on ext4 (~90 ms/batch measured) and near-zero on
    * tmpfs. `GRAFT_STREAM_SCRATCH` overrides (e.g. point it at a disk
    * path to measure durable-checkpoint behavior).
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val configured = graft.Config().str("GRAFT_STREAM_SCRATCH", "")
    val root =
      if (configured.nonEmpty) java.nio.file.Paths.get(configured)
      else {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
        else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      }
    Files.createDirectories(root)
    root
  }
  private def scratch(prefix: String): java.nio.file.Path =
    PlanDsl.tempDir(prefix, scratchRoot.toString)

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** State-store partitions of the merge and changelog sinks' streams.
    * The count is baked in at stream start from
    * spark.sql.shuffle.partitions. It is sized to the streams' key
    * cardinality instead of inheriting the batch-wide setting: every
    * micro-batch pays a per-partition state commit, so 32 partitions
    * for a few thousand keys is pure overhead (measured 2.7x on the
    * declared queries). At 100 TB key cardinality, raise it.
    */
  private val StatePartitions = 4

  /** Start the finite-replay stream produced by `start` and block
    * until it drains. A stream reads its settings once, from the clone
    * of `spark` that `start()` takes, so `confs` are set on `spark`
    * only around `start()`, under the session's monitor (two streams
    * starting on one session cannot interleave their set and restore),
    * and restored before the wait. Always set: AvailableNow's trailing
    * NO-DATA micro-batch is off. It exists to advance the watermark
    * once more after the last data batch, but the engine's append-mode
    * flows advance watermarks with explicit sentinel batches
    * (eventsStream flushSentinel), so for THESE runners it is one extra
    * round of planning/WAL/state-commit machinery per stream for zero
    * rows.
    */
  private def runDrained(spark: SparkSession, confs: (String, String)*)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val set = ("spark.sql.streaming.noDataMicroBatches.enabled" -> "false") +: confs
    val q = spark.synchronized {
      val saved = set.map { case (k, _) => k -> spark.conf.getOption(k) }
      set.foreach { case (k, v) => spark.conf.set(k, v) }
      try start finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    q.awaitTermination()
  }

  /** Build (or attach) the landing zone of `shape` over the source
    * table dir `table`: `n` arrival files `bNNN.parquet`, file b
    * stamped with mtime 1700000000000 + b·60 s. The file source replays
    * a zone in mtime order, one file per trigger, so arrival b is
    * micro-batch b in every process that attaches the zone.
    *
    * `arrivals` is the zone's rows with an arrival column `_b` in
    * [0, n), each `_b` value held by ONE task, so one `partitionBy`
    * write stages every arrival as one file; an arrival with no rows
    * is staged as a zero-row file with the zone's schema, so the
    * stream still sees its trigger. The zone dir ends up holding its
    * arrival files and [[Persisted]]'s `_`-prefixed markers, which the
    * file source skips.
    */
  private def zone(spark: SparkSession, shape: Seq[String], table: String,
      n: Int)(arrivals: => DataFrame): String =
    Persisted.ensure(spark, "graft-stream-src",
      Persisted.signature(spark, shape, Seq(table))) { staging =>
      val split = new Path(staging, "_split")
      // through the raw FS: a renamed arrival leaves its `.crc`
      // sidecar behind in `split`, deleted with it
      val fs = Persisted.raw(
        split.getFileSystem(spark.sparkContext.hadoopConfiguration))
      val frame = arrivals
      frame.write.partitionBy("_b").parquet(split.toString)
      (0 until n).foreach { b =>
        val dir = new Path(split, s"_b=$b")
        if (!fs.exists(dir))
          spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              frame.drop("_b").schema)
            .repartition(1).write.parquet(dir.toString)
        val parts = fs.listStatus(dir).filter(_.getPath.getName.startsWith("part-"))
        require(parts.length == 1,
          s"landing zone $shape staged ${parts.length} files for arrival $b, need 1")
        val dst = new Path(staging, f"b$b%03d.parquet")
        val stamp = 1700000000000L + b * 60000L
        if (!fs.rename(parts.head.getPath, dst))
          throw new java.io.IOException(s"could not stage arrival $b as $dst")
        fs.setTimes(dst, stamp, -1)
        // the arrival order IS the mtime order: a root whose filesystem
        // drops or rounds set mtimes (an object store) would replay the
        // arrivals in write order, so it fails here, loud
        val kept = fs.getFileStatus(dst).getModificationTime
        require(kept == stamp,
          s"landing zone root ${Persisted.root(spark)} does not keep the " +
            s"mtimes it sets ($dst: set $stamp, read $kept); the file source " +
            "orders arrivals by mtime, so stage zones on a root that keeps " +
            "them (a file: root)")
      }
      fs.delete(split, true)
    }

  /** The micro-batched file-source read of a staged zone. */
  private def replay(spark: SparkSession, zone: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(zone)

  /** Replay an events zone: `arrivals` maps the events table, `ts`
    * normalized to long micros through the loader the batch queries
    * use (graft.Tables.events handles both driver parquet flavors —
    * TIMESTAMP(NANOS)-as-long and TIMESTAMP(MICROS)), to its `_b`
    * frame; the zone is replayed as [[eventsRawSchema]] with `ts` back
    * as a timestamp.
    */
  private def replayEvents(spark: SparkSession, dir: String, shape: String,
      n: Int)(arrivals: DataFrame => DataFrame): DataFrame =
    replay(spark,
      zone(spark, Seq("events", shape), s"$dir/events.parquet", n)(arrivals(
        graft.Tables.events(spark, dir).withColumn("ts", unix_micros(col("ts"))))),
      eventsRawSchema)
      .withColumn("ts", expr("timestamp_micros(ts)"))

  /** Three time-ordered arrivals: RangePartitioner's ranges ascend
    * with partition index and equal keys share a partition, so every
    * row of arrival b precedes every row of b+1 in `ts`. A range with
    * no rows stages an empty arrival.
    */
  private def ranged(ev: DataFrame): DataFrame =
    ev.repartitionByRange(3, col("ts")).withColumn("_b", spark_partition_id())

  /** The two flush sentinels as arrivals 3 and 4: the watermark a
    * batch runs with comes from the PREVIOUS batch's max event time,
    * so the first sentinel advances it and the second triggers the
    * batch that actually emits the flushed windows.
    */
  private def sentinels(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    // max over ZERO rows is null — getLong would throw a bare NPE
    // mid-staging; an empty events table gets a readable error
    val maxRow = ev.agg(max(col("ts"))).head()
    require(!maxRow.isNullAt(0),
      "cannot stage flush sentinels: events table is empty " +
        "(no max event time to advance the watermark past)")
    val maxTs = maxRow.getLong(0)
    Seq(10L, 20L).zipWithIndex.map { case (days, i) =>
      (-1L - i, maxTs + days * 86400L * 1000000L, -1L, "sentinel",
        0.0, null.asInstanceOf[String], 3 + i)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props", "_b")
  }

  /** Streaming read of the events table (micro-batched file source)
    * over a persisted landing zone ([[zone]]) of three time-ordered
    * arrivals ([[ranged]]): the file source replays them as
    * time-ordered micro-batches, so the event-time watermark genuinely
    * advances between batches and evicts closed-window state — the
    * shape a production landing zone has.
    *
    * With `flushSentinel` the zone gets two more arrivals, single
    * rows far in event-time future (user_id = -1; filter them from
    * results): their only job is to advance the watermark past every
    * open window so append-mode aggregations flush their trailing
    * state — the finite-replay analogue of the stream staying live
    * past the last real event.
    */
  def eventsStream(spark: SparkSession, dir: String,
      flushSentinel: Boolean = false): DataFrame =
    if (!flushSentinel) replayEvents(spark, dir, "ranged", 3)(ranged)
    else replayEvents(spark, dir, "ranged+sentinels", 5)(ev =>
      ranged(ev).unionByName(sentinels(ev)))

  /** Production sink shape: the stream runs in append/update mode
    * through `foreachBatch` into the idempotent keyed merge
    * ([[graft.operators.MergeWriter.upsert]]). State is bounded by the
    * watermark, nothing is materialized on the driver, and replayed
    * batches collapse onto the same keys (at-least-once → effectively
    * exactly-once, T7).
    */
  private def runToMergeSink(df: DataFrame, mode: String, targetDir: String,
      keys: Seq[String], versionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val ckpt = scratch("graft-ckpt").toString
    runDrained(spark, ShufflePartitions -> StatePartitions.toString) {
      df.writeStream
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.MergeWriter.upsert(batch.sparkSession, targetDir,
            batch, keys, versionCols)
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
  }

  /** Changelog sink: each micro-batch appends its emissions (stamped
    * with the batch id) to an append-only parquet changelog —
    * O(emitted) per batch, no read-modify-write — and a terminal
    * compaction reduces the log to latest-emission-per-key. This is the
    * scale shape for keyed streaming sinks: per-batch cost is
    * proportional to what changed, the O(|table|) merge happens once
    * (in production: periodically), and replayed batches collapse in
    * compaction (at-least-once → exactly-once, T7). Returns the
    * compacted table.
    */
  private def runToCompactedChangelog(df: DataFrame, mode: String,
      keys: Seq[String], versionCols: Seq[String],
      confs: Seq[(String, String)] = Nil): DataFrame = {
    val spark = df.sparkSession
    val log =
      scratch("graft-stream-sink").resolve("log").toString
    val ckpt = scratch("graft-ckpt").toString
    runDrained(spark, (ShufflePartitions -> StatePartitions.toString) +: confs: _*) {
      df.writeStream
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.operators.MergeWriter.append(batch.sparkSession, log,
            batch.withColumn("_batch_id", lit(id)))
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
    // compaction: the latest emission per key wins (_batch_id breaks
    // ties between re-emissions that share version values). The
    // compaction exchange is sized from the changelog's ON-DISK bytes
    // (r22): the stream ran at micro-batch width, but this frame is
    // the O(|table|) merge — an explicit repartition on the merge keys
    // at ~32 MB of compressed log per partition replaces the
    // conf-width exchange (hashpartitioning on the SAME keys satisfies
    // the aggregation's distribution, so no second exchange appears).
    // Scale-adaptive by construction: a 2 MB local log compacts in one
    // partition, a 100 TB log fans out to thousands — never a constant
    // tuned to either.
    val logPath = new org.apache.hadoop.fs.Path(log)
    val lfs = logPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logBytes =
      if (lfs.exists(logPath)) lfs.getContentSummary(logPath).getLength else 0L
    val width = (logBytes / (32L << 20) + 1L).toInt
    graft.operators.LatestPerKey(
      spark.read.parquet(log).repartition(width, keys.map(col): _*),
      keys, versionCols :+ "_batch_id").drop("_batch_id")
  }

  /** T6: daily tumbling-window aggregate per user with a 1-day
    * watermark — the streaming twin of the batch daily mart (same
    * oracle must match both).
    *
    * Production-shaped: update-mode windowed aggregation over
    * time-ordered micro-batches (watermark advances per batch and
    * evicts closed-window state) sunk via `foreachBatch` into the keyed
    * merge — no complete mode, no memory sink, nothing driver-resident.
    * Each batch emits only the windows it changed; the merge keeps the
    * newest version per (user_id, day).
    */
  def dailyMetrics(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 day")
      .groupBy(col("user_id"), window(col("ts"), "1 day"))
      .agg(
        round(avg(col("value")), 4).as("avg_value"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), to_date(col("window.start")).as("day"),
        col("avg_value"), col("max_value"), col("min_value"), col("n_events"))
    // n_events is strictly increasing per key, so it versions re-emitted
    // windows (plus the compaction's _batch_id tie-break)
    runToCompactedChangelog(agg, "update",
        keys = Seq("user_id", "day"), versionCols = Seq("n_events"))
      .withColumn("user_id_date",
        concat(col("user_id").cast("string"), lit("_"),
          date_format(col("day"), "yyyyMMdd")))
      .select("user_id", "day", "avg_value", "max_value", "min_value",
        "n_events", "user_id_date")
      .orderBy("user_id", "day")
  }

  /** Session windows (gap-based) in streaming — the streaming twin of
    * the batch [[graft.operators.Sessionize]] operator. Returns one row
    * per (user, session window) with event count and value sum.
    *
    * Production-shaped: APPEND mode — each session emits exactly once,
    * when the watermark passes its end, and its state is evicted; the
    * sentinel micro-batch flushes the trailing sessions a live stream
    * would flush on the next real arrival. Emissions append to the
    * parquet changelog; nothing driver-resident, state ∝ open sessions.
    */
  def sessionWindows(spark: SparkSession, dir: String, gap: String = "30 minutes"): DataFrame = {
    val agg = eventsStream(spark, dir, flushSentinel = true)
      .withWatermark("ts", gap)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("session_value"))
    // the sentinel rows are excluded AFTER the sink: a pre-agg filter
    // on the grouping key would be pushed into the file scan and strip
    // the sentinel before it can advance the watermark
    runToCompactedChangelog(agg, "append",
        keys = Seq("user_id", "session_start"), versionCols = Seq("n_events"))
      .filter(col("user_id") >= 0)
      .select("user_id", "session_start", "n_events", "session_value")
      .orderBy("user_id", "session_start")
  }

  /** T4: streaming exactly-once-per-id via watermark-evicted dedup
    * state + idempotent merge sink (`foreachBatch` →
    * [[graft.operators.MergeWriter]]) — the reference's
    * collector→upsert path as a real stream. Returns the final merged
    * table.
    *
    * `dropDuplicatesWithinWatermark`, NOT `dropDuplicates`: with plain
    * `dropDuplicates("event_id")` the key set excludes the event-time
    * column, so the watermark never evicts dedup state — on an
    * unbounded stream that state is every event_id ever seen. The
    * WithinWatermark variant expires each key once the watermark
    * passes its first-seen event time + delay, which is exactly the
    * at-least-once redelivery bound (a collector retry lands within
    * its delivery window, not a day later).
    *
    * The zone holds the whole events log TWICE (two arrivals of
    * identical content): the at-least-once delivery shape whose
    * duplicates the keyed dedup state must absorb.
    */
  def dedupToMergeSink(spark: SparkSession, dir: String,
      targetDir: String): DataFrame = {
    val deduped = replayEvents(spark, dir, "twice", 2)(
        _.withColumn("_b", explode(array(lit(0), lit(1)))).repartition(col("_b")))
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")
    runToMergeSink(deduped, "append", targetDir,
      keys = Seq("event_id"), versionCols = Seq("ts"))
    spark.read.parquet(targetDir)
  }

  /** The persisted landing zone ([[zone]]) of the documents table in
    * `batches` arrivals, arrival b holding exactly the docs with
    * `doc_id % batches == b`: a mod split, not a range split, so an
    * oracle can name each batch's membership (a range split's sampled
    * boundaries it cannot replay). ShardStagingPropertySpec pins the
    * replay invariant.
    */
  private[graft] def documentsZone(spark: SparkSession, dir: String,
      batches: Int): String =
    zone(spark, Seq("documents-mod", batches.toString),
        s"$dir/documents.parquet", batches) {
      graft.Tables.documents(spark, dir)
        .withColumn("_b", pmod(col("doc_id"), lit(batches)))
        .repartition(col("_b"))
    }

  /** Streaming read of the documents table in `batches` arrivals
    * ([[documentsZone]]).
    */
  def documentsStream(spark: SparkSession, dir: String,
      batches: Int): DataFrame =
    replay(spark, documentsZone(spark, dir, batches),
      graft.Tables.documents(spark, dir).schema)

  /** The shard-append sink's per-batch apply — exposed so the replay
    * spec can drive it directly. Deterministic in (batch content, id,
    * committed earlier manifests): the shard offset is Σ shards sealed
    * by batches with a SMALLER id, and both writes use dynamic
    * partition overwrite keyed by ids unique to this batch (its shard
    * range, its manifest partition), so re-applying the same batch —
    * the crash-between-sink-and-checkpoint replay — overwrites exactly
    * itself and the layout is byte-stable.
    */
  private[graft] def applyShardBatch(b: DataFrame, id: Long, data: String,
      counts: String, docsPerShard: Int, seed: String): Unit = {
    val s = b.sparkSession
    // same reserved-name contract as the batch writer
    // ([[graft.ext.Sampling.writeShards]]), plus the arrival stamp
    // this sink adds: the coords join-back would otherwise produce
    // ambiguous columns or silently wrong coordinates in the layout
    val reserved = Set("shard", "pos_in_shard", "shuffle_key", "arrival_batch")
    val clash = b.columns.filter(reserved)
    require(clash.isEmpty,
      s"applyShardBatch reserves column name(s) ${clash.mkString(", ")} " +
        "for the shard layout — rename them in the input")
    // Driver-side manifest read (r21): the shard-count manifest is one
    // tiny record per micro-batch — metadata, not data — so it is read
    // and written through the Hadoop FS directly, the way Spark's own
    // streaming commit/offset logs are. The previous parquet form cost
    // TWO Spark jobs per micro-batch (a scan+agg for the offset here,
    // a 1-row partitioned write below) out of the ~5 the sink runs —
    // pure per-batch fixed cost at any scale, since the manifest is
    // bounded by |batches|, never by data volume.
    val offset = readShardManifest(s, counts)
      .collect { case (b, n) if b < id => n }.sum
    // shards sealed = ceil(n / docsPerShard) by construction (positions
    // are dense 0..n-1, shard = pos / docsPerShard); n comes FREE from
    // the rank's own counts pass (Σ per-partition counts, already on
    // the driver) — no separate count() job per batch, and no
    // aggregate over coords, which would run the whole two-pass global
    // rank a second time before the join below recomputes it
    // (per-batch fixed cost is the streaming family's dominant floor;
    // see the adjudication in COVERAGE.md at ff8d9ba)
    val (coords, nRows) = graft.ext.Sampling.shuffleShardsCounted(
      b.select("doc_id"), "doc_id", docsPerShard, seed)
    val nSealed = (nRows + docsPerShard - 1) / docsPerShard
    b.join(coords.drop("shuffle_key"), "doc_id")
      .withColumn("shard", col("shard") + lit(offset))
      .withColumn("arrival_batch", lit(id))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("pos_in_shard"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard").parquet(data)
    writeShardManifest(s, counts, id, nSealed)
  }

  /** The shard-count manifest: `b-<id>.json` files under `counts`, one
    * per applied micro-batch, each `{"b":<id>,"shards":<sealed>}` —
    * written by the DRIVER through the Hadoop FS (works on HDFS/S3
    * like the parquet form did, without a Spark job per batch). A
    * replayed batch overwrites exactly its own file, preserving the
    * sink's replay-collapse guarantee: a crash between the data write
    * and the checkpoint commit replays batch `id`, which re-reads only
    * manifests `b < id` (all fully committed — batches are sequential
    * within a stream) and rewrites `b-<id>.json` in place.
    */
  private[graft] def readShardManifest(spark: SparkSession,
      counts: String): Map[Long, Long] = {
    val dir = new org.apache.hadoop.fs.Path(counts)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).iterator.flatMap { st =>
      val n = st.getPath.getName
      if (!st.isFile || !n.matches("""b-\d+\.json""")) Iterator.empty
      else {
        val in = fs.open(st.getPath)
        val body =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val m = """\{"b":(\d+),"shards":(\d+)\}""".r
        body.trim match {
          case m(b, sh) => Iterator((b.toLong, sh.toLong))
          case other => throw new IllegalStateException(
            s"corrupt shard manifest ${st.getPath}: '$other'")
        }
      }
    }.toMap
  }

  private[graft] def writeShardManifest(spark: SparkSession,
      counts: String, id: Long, shards: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(counts, s"b-$id.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"""{"b":$id,"shards":$shards}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Incremental training-shard building on streaming arrival — the
    * production path for a corpus that keeps growing: you do NOT
    * re-shuffle 100 TB when a new crawl lands; each arriving batch is
    * shuffled internally ([[graft.ext.Sampling.shuffleShards]], same
    * reproducible md5 permutation) and sealed into NEW shards whose
    * ids continue where the previous batch stopped, so the on-disk
    * layout is loader-consumable at every point in time and existing
    * shards are never rewritten.
    *
    * Mechanics: shard offsets come from a tiny per-batch MANIFEST
    * (`counts/b=<id>`: shards sealed by that batch) — Σ over committed
    * earlier batches, recomputed per batch, nothing driver-resident
    * between batches. Exactly-once without a transactional store:
    * both the data write and the manifest write use DYNAMIC partition
    * overwrite keyed by ids unique to the batch (its shard range, its
    * manifest partition), so a batch replayed after a crash between
    * sink write and checkpoint commit overwrites exactly ITSELF.
    * Within a batch the write discipline is [[graft.ext.Sampling
    * .writeShards]]'s: repartition on the shard id, sort by
    * (shard, pos), one file per shard dir, in-file order = sample
    * order.
    *
    * Returns the read-back layout with the physical facts as values
    * (`file_pos` = parquet `_metadata.row_index`, `n_files` per shard
    * dir, `arrival_batch` as stamped by the sink) — the same
    * observe-the-bytes gate as the batch `shard_layout` query.
    */
  def shardAppendStream(spark: SparkSession, dir: String,
      batches: Int = 3, docsPerShard: Int = 100,
      seed: String = "e0"): DataFrame = {
    // the arrivals come from the persisted mod-split zone
    // ([[documentsZone]]); the streamed work itself (the checkpointed
    // micro-batches, the shard writes, the read-back) is NOT persisted
    // — every call still runs the real stream
    val root = scratch("graft-shard-append").toString
    val data = s"$root/data"
    val counts = s"$root/counts"
    val arriving = documentsStream(spark, dir, batches)
    // batch-sized shuffles (see lshDedupIncremental's sizing note)
    runDrained(spark, ShufflePartitions -> "8") {
      arriving.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: DataFrame, id: Long) =>
          applyShardBatch(b, id, data, counts, docsPerShard, seed)
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
    val back = spark.read.parquet(data).select(
      col("shard").cast("long").as("shard"),
      col("doc_id"), col("arrival_batch"), col("pos_in_shard"),
      col("_metadata.row_index").as("file_pos"),
      col("_metadata.file_path").as("_f"))
    val filesPerShard = back.groupBy(col("shard"))
      .agg(countDistinct(col("_f")).as("n_files"))
    back.drop("_f")
      .join(broadcast(filesPerShard), Seq("shard"))
      .orderBy("doc_id")
  }

  /** Incremental corpus dedup as a stream — the arrival path of the
    * persisted-LSH-index lifecycle: the already-deduped corpus is
    * signed ONCE into a persisted `(band_idx, band_key, c_id)` posting
    * index; new documents then arrive as micro-batches and each batch
    * probes the index via [[graft.ext.Dedup.lshIndexProbe]] (signing
    * only itself, re-reading corpus text candidate-bounded), appending
    * its verdicts to the result log. Per-batch cost is O(|batch| +
    * candidates); the corpus-sized signing pass happened once at index
    * build. The one-shot `dedup_lsh_index` query probes the same index
    * through the same operator, so one oracle gates both paths.
    */
  def lshDedupIncremental(spark: SparkSession, dir: String,
      batches: Int = 3): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    // The corpus-sized signing pass is the index BUILD, paid once per
    // corpus version — not an arrival-path cost. In production the
    // persisted index exists before the stream starts; here it is a
    // [[Persisted]] artifact shared with the one-shot
    // `dedup_lsh_index` (which constructs the identical index), so
    // only the micro-batch probe loop below is the arrival path.
    val idx = graft.ext.Dedup.persistedLshIndex(spark, dir, corpus,
      "doc_id", "text")
    // pin the posting index hot for the stream's lifetime: every
    // micro-batch joins it, and re-reading the persisted table per
    // batch triples the probe's scan cost here (at scale: N_batches ×
    // index-scan). The index is the SMALL side (ids + band keys, not
    // text), which is what makes caching it — and not the corpus —
    // the right call at 100 TB.
    idx.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val root = scratch("graft-slsh").toString
    val out = s"$root/out"
    val arriving = documentsStream(spark, dir, batches)
      .filter(col("doc_id") % 5 === 0)
    // per-batch probe shuffles are micro-batch-sized, not corpus-sized:
    // inherit-the-session-width (32+) partitions would pay ~10 task
    // launches per row batch across the probe's join/agg stages (same
    // sizing rationale as runToMergeSink's state partitions). At real
    // batch volumes, raise with the batch size. The stream starts at
    // width 8, and the probe's index and corpus sides live on a width-8
    // clone (the clone reads the pinned index from the shared cache).
    val sized = PlanDsl.withConf(spark, ShufflePartitions -> "8")
    val idxSized = PlanDsl.ofRows(sized, idx.queryExecution.analyzed)
    val corpusSized = PlanDsl.ofRows(sized, corpus.queryExecution.analyzed)
    runDrained(spark, ShufflePartitions -> "8") {
      arriving.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          // batchId-keyed overwrite, not a flat append: a micro-batch
          // replayed after a failure between sink write and checkpoint
          // commit overwrites ITS OWN directory, so the result log
          // holds each batch's verdicts exactly once — the same
          // replay-collapse guarantee the keyed merge-sink paths get
          // from their upsert.
          graft.ext.Dedup.lshIndexProbe(idxSized, corpusSized, b, "doc_id", "text")
            .write.mode("overwrite").parquet(s"$out/b$batchId")
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
    spark.read.option("recursiveFileLookup", "true").parquet(out)
    // the cache is scoped to the stream's lifetime (the comment at the
    // persist says so): release it in the FINALLY — a failed
    // micro-batch must not leave the posting index pinned in executor
    // storage memory for the rest of the session
    } finally idx.unpersist()
  }

  /** Streaming CDC apply — MERGE with deletes as a stream: the event
    * log arrives as a change stream (purchase ⇒ tombstone, anything
    * else ⇒ upsert; event_id is the change sequence), each micro-batch
    * merges into a keyed net-change table where tombstones are ROWS,
    * not removals — keep-latest-by-sequence over rows (including D
    * rows) is commutative across batches and replays, which physical
    * deletion is not — and the read side applies deletes + labels
    * against the base snapshot. Must produce the batch
    * [[graft.queries.OpsQueries.cdcApply]] answer exactly (the same
    * DuckDB oracle gates both).
    */
  def cdcToMergeSink(spark: SparkSession, dir: String): DataFrame = {
    val log = scratch("graft-cdc").resolve("t").toString
    val changes = eventsStream(spark, dir)
      .select(col("user_id").as("k"), col("event_id"),
        when(col("event_type") === "purchase", lit("D")).otherwise(lit("U"))
          .as("op"),
        round(col("value") * 100).cast("long").as("val_cents"))
    runToMergeSink(changes, "append", log,
      keys = Seq("k"), versionCols = Seq("event_id"))
    val net = spark.read.parquet(log).select("k", "op", "val_cents")
    val base = graft.Tables.customer(spark, dir)
      .select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    base.join(net, Seq("k"), "full_outer")
      .filter(coalesce(col("op"), lit("keep")) =!= "D")
      .select(col("k"),
        coalesce(col("val_cents"), col("bal_cents")).as("bal_cents"),
        when(col("op").isNull, lit("unchanged"))
          .when(col("bal_cents").isNull, lit("inserted"))
          .otherwise(lit("updated")).as("change"))
      .orderBy("k")
  }

  /** Watermarked stream-stream inner join: purchases joined to the
    * same user's signups within the preceding hour. Both sides carry
    * watermarks so the join state is bounded (old rows age out) — the
    * streaming analogue of the batch range join. INNER join matches
    * emit eagerly (only outer-join results wait on the watermark), so
    * replaying finite input yields the complete batch answer; the
    * watermark's job here is purely state eviction. Append-mode
    * emissions land in the parquet changelog sink (each joined row is
    * final; compaction keys on the pair id); nothing driver-resident.
    */
  def purchasesAfterSignups(spark: SparkSession, dir: String): DataFrame = {
    val base = eventsStream(spark, dir)
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val signups = base.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val joined = purchases.join(signups,
      expr("""user_id = s_user AND
             |p_ts >= s_ts AND p_ts <= s_ts + INTERVAL 1 HOUR""".stripMargin))
      .select(col("p_id"), col("user_id"), col("s_id"))
    runToCompactedChangelog(joined, "append",
        keys = Seq("p_id", "s_id"), versionCols = Seq("user_id"))
      .select(col("p_id"), col("user_id"), col("s_id"))
      .orderBy("p_id", "s_id")
  }

  /** Streaming incremental view maintenance: a signed changelog
    * consumed as a stream, each micro-batch folded into the
    * materialized daily aggregate via
    * [[graft.operators.Ivm.applyDeltaToTable]] (counts as Σsign, sums
    * as Σ(sign·x)). Because the delta merge is commutative and
    * associative, micro-batch boundaries cannot perturb the view —
    * after the stream drains it must EQUAL the one-shot batch
    * maintenance (`streaming_ivm` is gated by the SAME oracle as
    * `ivm_incremental_agg`). State lives in the view table, not the
    * stream: the aggregation state store stays empty (stateless
    * foreachBatch), the view is aggregate-sized, and checkpoint +
    * swap-write give at-least-once replay a consistent target.
    */
  def ivmToViewSink(spark: SparkSession, dir: String): DataFrame = {
    val view = scratch("graft-ivm").resolve("v").toString
    def shape(df: DataFrame): DataFrame =
      df.select(to_date(col("ts")).as("day"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"), col("event_id"))
    // bootstrap: the materialized view as of before the stream
    val evB = shape(graft.Tables.events(spark, dir))
    graft.operators.MergeWriter.replace(spark, view,
      evB.filter(col("event_id") % 10 =!= 0)
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("value_cents")))
    val ckpt = scratch("graft-ckpt").toString
    runDrained(spark, ShufflePartitions -> "4") {
      eventsStream(spark, dir).writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val b = shape(batch)
          val delta = b.filter(col("event_id") % 10 === 0)
            .withColumn("_sign", lit(1L))
            .unionByName(b.filter(col("event_id") % 100 === 7)
              .withColumn("_sign", lit(-1L)))
          // batchId makes the non-idempotent signed fold replay-safe:
          // a re-delivered micro-batch is skipped via the view's marker
          graft.operators.Ivm.applyDeltaToTable(view, delta,
            Seq("day", "event_type"), "n_events", Seq("cents" -> "value_cents"),
            batchId = Some(id))
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
    spark.read.parquet(view).orderBy("day", "event_type")
  }

  /** Stream-static enrichment join: each micro-batch of the event
    * stream left-joins the static customer dimension — the canonical
    * "enrich at ingest" shape. The dimension is explicitly broadcast:
    * the stream side never shuffles, so enrichment cost is O(batch) per
    * micro-batch regardless of total corpus size, and the join is
    * stateless (no watermark state — the static side is re-planned per
    * batch, picking up dimension updates between batches). Append-mode
    * emissions land in the parquet changelog; each enriched row is
    * final.
    */
  def enrichWithDim(spark: SparkSession, dir: String): DataFrame = {
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("c_mktsegment"),
        col("value"))
    runToCompactedChangelog(enriched, "append",
        keys = Seq("event_id"), versionCols = Seq("user_id"))
      .select("event_id", "user_id", "c_mktsegment", "value")
      .orderBy("event_id")
  }

  /** Tie-break shared by both stateful latest-per-key runners — its
    * own Serializable holder so executor closures capture IT, not the
    * (non-serializable) enclosing module.
    */
  object EvOrder extends Serializable {
    def newer(a: Ev, b: Ev): Ev = {
      val c = a.ts.compareTo(b.ts)
      if (c > 0 || (c == 0 && a.event_id > b.event_id)) a else b
    }
  }

  /** T5: latest event per user via explicit keyed state
    * (`mapGroupsWithState`) — the streaming twin of the batch
    * latest-per-key. Each micro-batch emits the current best row for
    * keys it touched; `foreachBatch` upserts them into the keyed merge
    * sink, so the sink always holds exactly one (latest) row per key.
    * State is one row per key — proportional to the result, the minimum
    * any latest-snapshot needs — and nothing accumulates on the driver.
    */
  def latestPerKey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs: Dataset[Ev] = eventsStream(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]

    val newer: (Ev, Ev) => Ev = EvOrder.newer
    val updates = evs
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[Ev], state: GroupState[Ev]) =>
          val best = (state.getOption.iterator ++ it).reduce(newer)
          state.update(best)
          best
      }
    runToCompactedChangelog(updates.toDF(), "update",
        keys = Seq("user_id"), versionCols = Seq("ts", "event_id"))
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  /** T5 again through Spark 4's arbitrary-state API:
    * `transformWithState` + [[LatestEvProcessor]] (typed `ValueState`
    * per key) on the RocksDB state store — the successor to
    * `mapGroupsWithState` with composable named state, timers and TTL.
    * Must produce exactly the snapshot the `mapGroupsWithState` runner
    * produces (`streaming_latest_tws` shares the
    * `streaming_latest_per_key` oracle). RocksDB matters at scale:
    * state is disk-backed per executor with changelog checkpointing,
    * so per-key state survives far past executor memory.
    */
  def latestPerKeyTws(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs: Dataset[Ev] = eventsStream(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
    val updates = evs
      .groupByKey(_.user_id)
      .transformWithState(new LatestEvProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
    runToCompactedChangelog(updates.toDF(), "update",
        keys = Seq("user_id"), versionCols = Seq("ts", "event_id"),
        confs = Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }
}

/** Keyed latest-event state for [[Streams.latestPerKeyTws]]: one typed
  * `ValueState[Ev]` per user, updated by the shared tie-break and
  * re-emitted per micro-batch for keys the batch touched.
  */
class LatestEvProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Streams.Ev, Streams.Ev] {

  @transient private var latest:
    org.apache.spark.sql.streaming.ValueState[Streams.Ev] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    latest = getHandle.getValueState[Streams.Ev]("latest",
      org.apache.spark.sql.Encoders.product[Streams.Ev],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Streams.Ev],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Streams.Ev] = {
    val prior = if (latest.exists()) Iterator.single(latest.get()) else Iterator.empty
    val best = (prior ++ rows).reduce(Streams.EvOrder.newer)
    latest.update(best)
    Iterator.single(best)
  }
}
