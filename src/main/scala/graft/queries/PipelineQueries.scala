package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.tempDir

import graft.Tables
import graft.operators.MergeWriter
import graft.streaming.Streams

/** Incremental-pipeline semantics run end-to-end: the merge sink
  * replayed over micro-batches (K2/K4/K6/K7) and the Structured
  * Streaming twins of the int/dwh layers (T5/T6). Every query here is
  * checked against a plain batch SQL oracle — the engine's contract is
  * that incremental/streaming execution converges to the batch answer.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Replay the events table through the keyed merge sink in three
    * date-sliced micro-batches (with an overlapping boundary — the
    * reference's `>=` watermark re-reads rows, F3), keyed by
    * (user_id, event_date), latest (ts, event_id) winning. The final
    * table must equal the batch latest-per-(user,day) — upsert
    * idempotence under replay is exactly the reference's guarantee.
    *
    * Runs through the PARTITIONED merge on `event_date`: each batch
    * reads and rewrites only the date partitions it touches, so merge
    * cost is O(touched days), not O(|target|) — the shape that holds at
    * 100 TB where updates land on the recent tail of years of history.
    */
  def mergeUpsertDaily(spark: SparkSession, dir: String): DataFrame = {
    val target = tempDir("graft-merge").resolve("t").toString
    val ev = Tables.events(spark, dir)
      .withColumn("event_date", to_date(date_trunc("day", col("ts"))))
      .select("user_id", "event_date", "ts", "event_id", "event_type", "value")
    val cuts = Seq("2024-01-11", "2024-01-21")
    val batches = Seq(
      ev.filter(col("event_date") < cuts.head),
      // overlapping boundary day: re-delivered rows must collapse
      ev.filter(col("event_date") >= cuts.head && col("event_date") <= cuts(1)),
      ev.filter(col("event_date") >= cuts(1)))
    batches.foreach { b =>
      MergeWriter.upsertPartitioned(spark, target, b,
        keys = Seq("user_id", "event_date"), versionCols = Seq("ts", "event_id"),
        partCol = "event_date")
    }
    spark.read.parquet(target)
      .select("user_id", "event_date", "event_id", "event_type", "value")
      .orderBy("user_id", "event_date")
  }

  /** Streaming daily mart (T6) — same oracle as the batch daily mart. */
  def streamingDaily(spark: SparkSession, dir: String): DataFrame =
    Streams.dailyMetrics(spark, dir)

  /** Streaming latest-per-key state (T5) — same oracle as batch. */
  def streamingLatest(spark: SparkSession, dir: String): DataFrame =
    Streams.latestPerKey(spark, dir)

  /** Watermarked stream-stream interval join — must equal the batch
    * interval join (inner-join emissions are eager; the watermark only
    * bounds state).
    */
  def streamingIntervalJoin(spark: SparkSession, dir: String): DataFrame =
    Streams.purchasesAfterSignups(spark, dir)

  /** Append-mode streaming session windows — each session emits
    * exactly once when the watermark passes its end (sentinel
    * micro-batch flushes the trailing state); must equal batch
    * sessionization.
    */
  def streamingSessionize(spark: SparkSession, dir: String): DataFrame =
    Streams.sessionWindows(spark, dir)

  /** Streaming exactly-once dedup (T4/T7): the events file delivered
    * TWICE (at-least-once duplicate shape), absorbed by watermarked
    * `dropDuplicates` state + the idempotent merge sink. The final
    * table must equal the plain distinct batch read — double delivery
    * leaves no trace.
    */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame = {
    val target = tempDir("graft-sdedup").resolve("t").toString
    Streams.dedupToMergeSink(spark, dir, target)
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** Stream-static broadcast enrichment — every micro-batch joined to
    * the static customer dimension; must equal the batch left join.
    */
  def streamingEnrich(spark: SparkSession, dir: String): DataFrame =
    Streams.enrichWithDim(spark, dir)

  /** Streaming CDC apply (merge with deletes as a stream) — must equal
    * the batch `cdc_apply` (same oracle gates both).
    */
  def streamingCdc(spark: SparkSession, dir: String): DataFrame =
    Streams.cdcToMergeSink(spark, dir)

  /** Streaming IVM — the signed-changelog view maintenance run as a
    * stream; must equal the batch `ivm_incremental_agg` (same oracle
    * gates both).
    */
  def streamingIvm(spark: SparkSession, dir: String): DataFrame =
    Streams.ivmToViewSink(spark, dir)

  /** T5 through Spark 4's `transformWithState` (StatefulProcessor +
    * RocksDB store) — must equal the `mapGroupsWithState` runner (same
    * oracle as `streaming_latest_per_key`).
    */
  def streamingLatestTws(spark: SparkSession, dir: String): DataFrame =
    Streams.latestPerKeyTws(spark, dir)

  /** Streaming arrival path of the persisted LSH dedup index: the
    * corpus postings are built once, new docs arrive in 3 micro-batches
    * and each probes the index ([[graft.ext.Dedup.lshIndexProbe]] —
    * the same operator the one-shot `dedup_lsh_index` runs, so the
    * same oracle gates both paths).
    */
  def streamingDedupLsh(spark: SparkSession, dir: String): DataFrame =
    Streams.lshDedupIncremental(spark, dir, batches = 3)
      .select("doc_id", "lsh_match", "n_lsh")
      .orderBy("doc_id")

  /** Incremental training-shard building on streaming arrival
    * ([[graft.streaming.Streams.shardAppendStream]]): three
    * deterministic document batches (doc_id % 3) each shuffle
    * internally and seal NEW shards continuing the previous batch's
    * ids — no re-shuffle of existing data, manifests drive the
    * offsets, replay overwrites only itself. The result is the
    * read-back DISK layout with the physical facts as values
    * (in-file position, files per shard, stamped arrival batch), all
    * replayed from first principles by the oracle.
    */
  def streamingShardAppend(spark: SparkSession, dir: String): DataFrame =
    Streams.shardAppendStream(spark, dir, batches = 3, docsPerShard = 100)

  val defs: Map[String, Q] = Map(
    "streaming_shard_append" -> (streamingShardAppend _),
    "streaming_dedup_lsh" -> (streamingDedupLsh _),
    "streaming_cdc" -> (streamingCdc _),
    "streaming_ivm" -> (streamingIvm _),
    "streaming_latest_tws" -> (streamingLatestTws _),
    "streaming_enrich" -> (streamingEnrich _),
    "streaming_dedup" -> (streamingDedup _),
    "streaming_sessionize" -> (streamingSessionize _),
    "merge_upsert_daily" -> (mergeUpsertDaily _),
    "streaming_daily_metrics" -> (streamingDaily _),
    "streaming_latest_per_key" -> (streamingLatest _),
    "streaming_interval_join" -> (streamingIntervalJoin _))

  /** One oracle, two engines paths: gates `cdc_apply` (batch, in
    * OpsQueries) AND `streaming_cdc` (per-batch merge). Lives here so
    * object initialization keeps its single OpsQueries →
    * PipelineQueries direction.
    */
  private[queries] val cdcOracleSql: String =
    """WITH base AS (SELECT c_custkey AS k,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      |  FROM customer),
      |net AS (SELECT user_id AS k,
      |    arg_max(CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END,
      |      event_id) AS op,
      |    arg_max(CAST(round(value * 100) AS BIGINT), event_id) AS val_cents
      |  FROM events GROUP BY 1),
      |j AS (SELECT coalesce(base.k, net.k) AS k, bal_cents, op, val_cents
      |      FROM base FULL JOIN net ON base.k = net.k)
      |SELECT k, coalesce(val_cents, bal_cents) AS bal_cents,
      |  CASE WHEN op IS NULL THEN 'unchanged'
      |       WHEN bal_cents IS NULL THEN 'inserted'
      |       ELSE 'updated' END AS change
      |FROM j WHERE coalesce(op, 'keep') <> 'D' ORDER BY k""".stripMargin

  /** One oracle, two engine paths: gates `ivm_incremental_agg` (batch,
    * in OpsQueries) AND `streaming_ivm` (per-micro-batch maintenance).
    * The IVM invariant: maintained view == from-scratch recomputation
    * over the post-changelog fact set (base minus retracted slice plus
    * arrived tail = everything except event_id % 100 = 7).
    */
  private[queries] val ivmOracleSql: String =
    """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |    AS value_cents
      |FROM events
      |WHERE event_id % 100 <> 7
      |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  val oracles: Map[String, String] = Map(
    // the appended shard layout replayed from first principles:
    // per-batch md5 ranking (same key as corpus_shuffle), cumulative
    // shard offsets over the batch order, and the physical constants
    // the read-back must observe (file_pos = pos_in_shard, one file
    // per shard dir, stamped batch id = the staging rule doc_id % 3)
    "streaming_shard_append" ->
      """WITH h AS (SELECT doc_id, CAST(doc_id % 3 AS BIGINT)
        |      AS arrival_batch,
        |    substr(md5(concat('e0|', CAST(doc_id AS VARCHAR))), 1, 15)
        |      AS hs
        |  FROM documents),
        |k AS (SELECT doc_id, arrival_batch,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, 15), i ->
        |        CAST(strpos('0123456789abcdef', substr(hs, i, 1)) - 1
        |          AS BIGINT))), (a, x) -> a * 16 + x) AS sk
        |  FROM h),
        |r AS (SELECT doc_id, arrival_batch, row_number() OVER (
        |      PARTITION BY arrival_batch ORDER BY sk, doc_id) - 1 AS pos
        |  FROM k),
        |c AS (SELECT arrival_batch,
        |    CAST(ceil(count(*) / 100.0) AS BIGINT) AS sh
        |  FROM k GROUP BY arrival_batch),
        |o AS (SELECT arrival_batch,
        |    coalesce(sum(sh) OVER (ORDER BY arrival_batch
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS off
        |  FROM c)
        |SELECT CAST(o.off + pos // 100 AS BIGINT) AS shard, r.doc_id,
        |  r.arrival_batch,
        |  CAST(pos % 100 AS BIGINT) AS pos_in_shard,
        |  CAST(pos % 100 AS BIGINT) AS file_pos,
        |  CAST(1 AS BIGINT) AS n_files
        |FROM r JOIN o USING (arrival_batch) ORDER BY doc_id""".stripMargin,
    // the streaming index probe must converge to the one-shot batch
    // probe — literally the same oracle as dedup_lsh_index
    "streaming_dedup_lsh" -> TextQueries.oracles("dedup_lsh_index"),
    // the streaming CDC apply must converge to the batch answer —
    // literally the same oracle as cdc_apply
    "streaming_cdc" -> cdcOracleSql,
    "streaming_ivm" -> ivmOracleSql,
    "streaming_enrich" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment, e.value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin,
    "streaming_dedup" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "streaming_sessionize" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |    event_id FROM events),
        |m AS (SELECT user_id, ts, value, event_id,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |  THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, ts, value,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM m)
        |SELECT user_id, min(ts) AS session_start,
        |  count(*) AS n_events, round(sum(value), 2) AS session_value
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, session_start""".stripMargin,
    "merge_upsert_daily" ->
      """SELECT user_id, event_date, event_id, event_type, value FROM (
        |  SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |      AS event_date,
        |    event_id, event_type, value,
        |    row_number() OVER (
        |      PARTITION BY user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_date""".stripMargin,
    "streaming_daily_metrics" ->
      """SELECT user_id,
        |  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |  round(avg(value), 4) AS avg_value,
        |  max(value) AS max_value,
        |  min(value) AS min_value,
        |  count(*) AS n_events,
        |  concat(CAST(user_id AS VARCHAR), '_', strftime(
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE), '%Y%m%d'))
        |    AS user_id_date
        |FROM events GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin,
    "streaming_interval_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM ev
        |  WHERE event_type = 'purchase'),
        |s AS (SELECT event_id AS s_id, user_id AS s_user, ts AS s_ts FROM ev
        |  WHERE event_type = 'signup')
        |SELECT p.p_id, p.user_id, s.s_id
        |FROM p JOIN s ON p.user_id = s.s_user
        |  AND p.p_ts >= s.s_ts AND p.p_ts <= s.s_ts + INTERVAL 1 HOUR
        |ORDER BY p_id, s_id""".stripMargin,
    "streaming_latest_tws" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "streaming_latest_per_key" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)
}
