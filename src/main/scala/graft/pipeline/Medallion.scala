package graft.pipeline

import java.time.{LocalDate, ZoneId}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

import graft.Tables
import graft.operators.{DailyRollup, MergeWriter, StageExtract}
import graft.plans.ParamScanStrategy
import graft.quality.Checks

/** The full medallion pipeline as an ordered layer DAG — the engine's
  * replacement for the reference's Airflow task chain + dbt ref()
  * graph (SURVEY §2.12 O1/O2): bronze → stg → {int, dwh}, each layer a
  * pure transform + a materialization (keyed merges for stg and int,
  * whole day partitions replaced for dwh), with the stg layer
  * incrementally filtered by the high-watermark of its own target
  * (SURVEY F2), dwh and then int by the one downstream watermark that
  * int's merge commits, and quality checks after the build (O1's test
  * stage).
  *
  * Layer writes go through [[MergeWriter]]; re-running the pipeline
  * over the same input is a no-op (replay idempotence — the property
  * the reference gets from `ON CONFLICT` upserts).
  */
object Medallion {

  /** Run every layer over the events table, materializing under
    * `root`; returns the dwh daily mart.
    *
    * @param cfg deployment knobs (the reference's env_var surface):
    *            `DBT_SCHEMA` names the warehouse layer directory, as
    *            in the reference's schema config.
    */
  def run(spark: SparkSession, dir: String, root: String,
      cfg: graft.Config = graft.Config()): DataFrame = {
    // The layers write ts as TIMESTAMP_MICROS, whose footers carry the
    // min/max statistics the watermark and the batch bounds below read;
    // Spark's default, INT96, carries none. Only on this run's clone:
    // the caller's own writes keep INT96, which tools outside Spark
    // read back as a naive timestamp, not a UTC-adjusted one.
    val layers = PlanDsl.withConf(spark,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    // The watermarks below change on every arrival. Planned as
    // references, they leave the generated code of the layer scans the
    // same from one arrival to the next, so an arrival reuses the
    // classes the earlier ticks compiled.
    layers.experimental.extraStrategies =
      layers.experimental.extraStrategies :+ ParamScanStrategy
    PlanDsl.ofRows(spark, build(layers, dir, root, cfg).queryExecution.analyzed)
  }

  private def build(spark: SparkSession, dir: String, root: String,
      cfg: graft.Config): DataFrame = {
    // stg: typed extraction + incremental high-watermark vs own target.
    // The merge is PARTITIONED by day: an unpartitioned keyed upsert is
    // a full-table rewrite per run — O(|stg|) per batch, the term that
    // would turn the flat per-batch steady state superlinear once stg
    // is years deep. Partitioned on day, each batch reads and rewrites
    // only the day partitions it touches (O(batch)); a run whose bronze
    // holds nothing new skips the merge, so a no-op replay rewrites
    // nothing.
    //
    // KEY CONTRACT: partitioning day-scopes the natural key — stg is
    // keyed by (day, event_id), the standard lakehouse posture for a
    // time-partitioned merge (a partition-pruned MERGE condition).
    // At-least-once replays carry the identical row (same ts ⇒ same
    // day) and collapse in place; a same-day corrected re-emission
    // resolves latest-wins. A re-emission whose corrected ts CROSSES a
    // day boundary is outside the key contract (its watermark-passing
    // ts lands it on the current day while the original stays put) —
    // the full-table uniqueness AUDIT for that class lives in the dq
    // query family as a scheduled maintenance check, while the
    // in-pipeline gate below checks the touched slice at O(batch).
    val stgDir = s"$root/stg_events"
    // High watermark = max ts of the LAST day partition: max(ts) over
    // day=to_date(ts) partitions always lives in the max-day dir, which
    // the dir listing names. Its files' footers carry ts's max
    // statistic, so no job runs; a file without one (INT96, in a root
    // written before the layers wrote TIMESTAMP_MICROS) makes it a
    // one-partition aggregate instead.
    val stgMaxDay = MergeWriter.maxDayPartition(spark, stgDir, "day")
    val stgWm: Option[Long] = stgMaxDay.flatMap { d =>
      val part = s"$stgDir/day=$d"
      val stats = Tables.dataFiles(spark, part).map(Tables.tsRange(spark, _, "ts"))
      if (stats.nonEmpty && stats.forall(_.isDefined)) Some(stats.flatten.map(_._2).max)
      else {
        val r = Tables.parquet(spark, stgDir)
          .filter(col("day") === lit(d))
          .agg(max(unix_micros(col("ts")))).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
    }
    // The batch is the bronze rows above stgWm (F2 semantics — strict
    // `>`, COALESCE-on-empty preserved by the None branch admitting
    // every row). A bronze file whose footer puts its max ts at or
    // below stgWm holds none of them, so only the other files are read
    // (a file without the statistic counts as new); with none left the
    // stg merge is skipped. The rows above stgWm land on stg's max day
    // or later, so the max-day partition is the one EXISTING partition
    // the batch can reach — and only from a file whose min ts falls on
    // or before that day.
    val (batch, touched): (Option[DataFrame], Option[Seq[Any]]) = stgWm match {
      case None => (Some(Tables.events(spark, dir)), None)
      case Some(w) =>
        val newFiles = Tables.dataFiles(spark, Tables.path(dir, "events"))
          .map(f => f -> Tables.tsRange(spark, f, "ts"))
          .filter(_._2.forall(_._2 > w))
        if (newFiles.isEmpty) (None, None)
        else {
          val zone = ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
          val maxDay = LocalDate.parse(stgMaxDay.get)
          def onOrBefore(micros: Long) =
            !LocalDate.ofEpochDay(DateTimeUtils.microsToDays(micros, zone)).isAfter(maxDay)
          (Some(Tables.events(spark, dir, Some(newFiles.map(_._1)))
              .filter(col("ts") > timestamp_micros(lit(w)))),
            Some(if (newFiles.exists(_._2.forall(r => onOrBefore(r._1)))) Seq(maxDay) else Nil))
        }
    }
    def staged(src: DataFrame): DataFrame = src
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"),
        StageExtract.jsonField(col("props"), "$.k").cast("int").as("k"))
      .withColumn("day", to_date(col("ts")))
    // observe: per-layer row metrics surface on the QueryExecution
    // listener bus without a second scan (SURVEY A4's affected-row
    // counts, done the Spark way), and the batch's max ts rides the
    // same pass: it gives every downstream layer its stats below
    val stgObs = Observation("stg_metrics")
    // the merge runs the batch once (the write, or the touched-
    // partition checkpoint), so the observation completes
    val stgWritten = batch.fold(Seq.empty[String]) { b =>
      MergeWriter.upsertPartitioned(spark, stgDir,
        staged(b).observe(stgObs, count(lit(1)).as("rows_in"),
          count(when(col("k").isNull, 1)).as("null_k"),
          max(unix_micros(col("ts"))).as("max_ts")),
        keys = Seq("event_id"), versionCols = Seq("ts"), partCol = "day",
        touched = touched)
    }
    // max ts of stg after the merge: stg only grows by merges whose
    // rows lie above stgWm, and a merge replaces a row only by one with
    // a later ts, so the max is the larger of the two. No batch: stg is
    // unchanged, and the observation never ran (its get would block)
    val stgMax: Option[Long] =
      if (batch.isEmpty) stgWm
      else (stgWm ++ stgObs.get.get("max_ts").collect { case v: Long => v }).maxOption
    // an empty-source FIRST build materializes nothing (the fresh-empty
    // merge is a deliberate no-write); downstream sees a typed empty
    val stgOut =
      if (MergeWriter.exists(spark, stgDir)) Tables.parquet(spark, stgDir)
      else staged(Tables.events(spark, dir)).limit(0)

    // Downstream layers scope incrementally from the stg rows above
    // ONE durable watermark W, the max stg ts both have incorporated —
    // NEVER from this run's pre-merge increment: stg's watermark
    // advances when its merge commits, so a crash between the stg merge
    // and a downstream merge would hide the missed rows from every
    // later run's increment and leave the layers stale FOREVER.
    // W is a `_wm` marker inside int_latest, committed by the same
    // rename as int's data (MergeWriter.replace's marker), and dwh
    // writes BEFORE int: W cannot advance until both layers have
    // committed. A crash anywhere before int's rename leaves W where it
    // was, and the next run redoes dwh's touched days (idempotent: they
    // re-aggregate whole days from stg) and int's pending rows (a keyed
    // merge). No W — a first build, an empty-source build, a mart that
    // is gone, a root written before the marker — scopes both layers
    // to all of stg: a full rebuild.
    val intDir = s"$root/int_latest"
    val dwhDir = s"$root/${cfg.schema}_daily"
    MergeWriter.restore(spark, intDir) // a crash mid-swap keeps its W
    val wm: Option[Long] =
      if (!MergeWriter.exists(spark, dwhDir)) None
      else MergeWriter.marker(spark, intDir, "_wm")
    // the day >= date(wm) predicate hits the PARTITION layer:
    // incorporated day directories are never even listed into the
    // plan, so this read costs ∝ the pending days, not the corpus. The
    // ts > wm predicate reaches the parquet scan as a pushed filter and
    // skips the row groups whose ts max statistic is at or below W (an
    // INT96 file of an older root has none and is read whole).
    val pending = wm match {
      case None => stgOut
      case Some(v) => stgOut
        .filter(col("day") >= to_date(timestamp_micros(lit(v))))
        .filter(col("ts") > timestamp_micros(lit(v)))
    }
    // The layers' stats need no scan of their own: their pending rows
    // are the stg rows above W, so there are some iff stgMax is above
    // W (no W: rebuild unconditionally), and their max — the new W —
    // is stgMax.
    val stale = wm.forall(w => stgMax.exists(_ > w))

    def rollup(src: DataFrame): DataFrame =
      DailyRollup(src, key = "user_id", tsCol = "ts",
        metrics = Seq(
          round(avg(col("value")), 4).as("avg_value"),
          max(col("value")).as("max_value"),
          min(col("value")).as("min_value"),
          count(lit(1)).as("n_events")))
    if (stale) {
      // dwh: daily mart PARTITIONED by day — a run rewrites only
      // touched date partitions and date-range reads prune (the 100 TB
      // layout; mirrors the reference's observed_date incremental
      // filter, SURVEY §4 partition-pruning row). INCREMENTAL rebuild
      // scope: only the days carrying pending rows are re-aggregated,
      // each from ALL of that day's stg rows (the filter is by touched
      // DAY, not by new row), so the result REPLACES those day
      // partitions whole: the mart is not read, and a (user, day) row
      // that lost its last event to a same-day correction under
      // another user_id goes with its day. Days are non-null by
      // construction (stg rows passed the ts watermark).
      // When W is level with stg's pre-merge watermark, the pending
      // rows are exactly this run's stg batch, which lies in the
      // partitions the stg merge wrote. Otherwise (W lagging after a
      // crash) the days are collected: driver-side day values, bounded
      // by the CALENDAR (one value per day carrying pending rows), never
      // by data volume. The cap turns a mis-keyed source (e.g. a per-row
      // value leaking into the day column) into a loud failure instead
      // of a driver OOM.
      // `day` is stg's PARTITION column, so the distinct is
      // metadata-cheap and the isin filter prunes at the
      // directory-listing layer — untouched days never enter the plan.
      // A full rebuild (no W) rolls up all of stg.
      val touchedDays: Option[Seq[Any]] = wm.map { _ =>
        if (wm == stgWm) stgWritten.map(LocalDate.parse)
        else MergeWriter.boundedPartitionValues(pending.select(col("day")), "day")
      }
      val dailySrc = touchedDays.fold(stgOut)(days =>
        stgOut.filter(col("day").isInCollection(days)))
      MergeWriter.replacePartitions(spark, dwhDir, rollup(dailySrc), "day")

      // int: latest state per key, merged on the key (20-row dimension
      // in the reference; |users| here), committing W. Incremental
      // scope: latest-per-key is DECOMPOSABLE — latest(history ∪ batch)
      // = latest(latest(history), latest(batch)) under the same total
      // order — and the keyed upsert's own LatestPerKey merge on
      // (ts, event_id) computes exactly that against the target's
      // existing rows, reducing the pending rows in the same
      // aggregation. So an incremental run reduces ONLY the pending
      // rows and never rejoins or rescans stg history: per-batch
      // cost ∝ batch. (An earlier shape semi-joined stg back to the
      // pending users — O(|stg|) scan + shuffle per batch, superlinear
      // in corpus on the steady state.)
      MergeWriter.upsert(spark, intDir, pending,
        keys = Seq("user_id"), versionCols = Seq("ts", "event_id"),
        marker = stgMax.map("_wm" -> _))
    }
    // schema-bearing empty when the empty-source first build wrote
    // nothing (mirrors the stgOut guard)
    val dwhOut =
      if (MergeWriter.exists(spark, dwhDir)) Tables.parquet(spark, dwhDir)
      else rollup(stgOut.limit(0))

    // Post-build quality gate (SURVEY §2.10 applied to own layers),
    // SCOPED to what this run could have changed: partitions untouched
    // by a merge are byte-immutable, so a slice that passed its gate
    // stays passed — induction gives per-day validity over the whole
    // table at O(batch) per run instead of O(corpus). First build
    // (no watermark) checks everything. The one hole day-scoping
    // leaves — a replayed event whose corrected ts crosses a day
    // boundary, landing as a cross-PARTITION duplicate event_id this
    // gate cannot see — is owned by the dq family's scheduled
    // full-table audit, `OpsQueries.dqStgCrossdayAudit` (oracle-gated
    // as `dq_stg_crossday_audit`), which reports duplicate keys
    // across day partitions with their latest-wins repair target.
    // whole touched PARTITIONS, not just new rows: the boundary day is
    // partially pre-existing and its post-merge state is what needs
    // re-validating (still directory-pruned — the recent tail)
    val stgChecked = stgWm match {
      case None => stgOut
      case Some(v) =>
        stgOut.filter(col("day") >= to_date(timestamp_micros(lit(v))))
    }
    val dwhChecked = wm match {
      case None => dwhOut
      case Some(v) =>
        dwhOut.filter(col("day") >= to_date(timestamp_micros(lit(v))))
    }
    // stg's two checks share one aggregate over its slice
    Checks.enforce(Seq(
      Checks.fused(stgChecked,
        "stg_event_id_not_null" -> Checks.nulls("event_id"),
        "stg_event_id_unique" -> Checks.duplicates("event_id")),
      Checks.unique(dwhChecked, "user_id_date", "dwh_key_unique")))

    dwhOut
  }
}
