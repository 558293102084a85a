package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Keyed merge (upsert) and append materializations on Parquet — the
  * reference's sink surface:
  *
  *  - K2: `INSERT ... ON CONFLICT (id) DO UPDATE`
  *    (`/root/reference/src/etl/mongo_to_postgres.py:89-112`)
  *  - K4/K6/K7: dbt `incremental` merge on `unique_key`
  *    (`stg_metar_observations.sql:1-7`, `int_metar_latest.sql:1-7`,
  *    `dw_daily_airport_metrics.sql:1-5`)
  *  - K5: incremental append with `on_schema_change='append_new_columns'`
  *    (`ods_metar_latest.sql:1-7`)
  *
  * With no transactional table format in the environment, merge is
  * union + keep-latest-per-key ([[LatestPerKey]], i.e. a `max_by`
  * aggregation — no sort) followed by write-temp-then-swap, which makes
  * re-runs idempotent (the reference's own guarantee level: replayed
  * batches collapse onto the same keys). Updates win over existing rows
  * at equal version via a source-precedence tie-break column.
  *
  * Scale note: this is a full-table rewrite per merge, correct but
  * O(|target|). The production-scale variant partitions the target by a
  * date column and rewrites only partitions containing updated keys —
  * see [[upsertPartitioned]]; at 100 TB with time-keyed updates that
  * touches only the recent tail.
  */
object MergeWriter {

  /** Loud ceiling on every driver-side partition-value collect: the
    * values are metadata (one per touched partition — calendar days,
    * shard ids), bounded by |partitions| and NEVER by row count. A
    * merge that would collect more has been handed a per-row column as
    * its partition key; failing fast beats a silent driver OOM at
    * scale. 100k values ≈ 274 years of days — far above any sane
    * layout, far below driver heap.
    */
  val MaxCollectedPartitionValues: Int = 100000

  /** The guarded collect behind every touched-partition rescope: the
    * distinct `partCol` values of `df`, failing loudly past `max`
    * (spec-gated in MergeWriterSpec with a small cap).
    */
  private[graft] def boundedPartitionValues(df: DataFrame, partCol: String,
      max: Int = MaxCollectedPartitionValues): Seq[Any] = {
    // limit(max+1) bounds the DRIVER side of a mis-keyed call before
    // the guard fires — the collect itself must never be the OOM
    val vals = df.select(partCol).distinct().limit(max + 1)
      .collect().map(_.get(0)).toSeq
    require(vals.size <= max,
      s"partitioned merge on '$partCol' collected more than $max distinct " +
        s"partition values: '$partCol' is not partition-grained — wrong " +
        "partition column?")
    vals
  }

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, new Path(dir)).exists(new Path(dir))

  /** The max DAY partition of a hive-layout table, from the DIRECTORY
    * LISTING alone — no data file is opened. For a `day=to_date(ts)`
    * layout this names the partition holding max(ts), so a high-
    * watermark read scans one partition instead of the table. Values
    * compare as raw dir strings, which is only correct for fixed-width
    * ISO dates — every non-null value is VALIDATED against the
    * `yyyy-MM-dd` shape and anything else fails loud (an
    * integer-valued partition column would otherwise silently return
    * '9' > '10'). The null partition (`__HIVE_DEFAULT_PARTITION__`)
    * is ignored — a null partition value never carries the max of a
    * ts-derived column. None when the table is missing or has no
    * partition dirs.
    */
  def maxDayPartition(spark: SparkSession, dir: String,
      partCol: String): Option[String] = {
    val p = new Path(dir)
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val vals = f.listStatus(p).toSeq
        .filter(s =>
          s.isDirectory && s.getPath.getName.startsWith(partCol + "="))
        .map(_.getPath.getName.substring(partCol.length + 1))
        .filterNot(_ == "__HIVE_DEFAULT_PARTITION__")
      vals.find(!_.matches("""\d{4}-\d{2}-\d{2}""")).foreach { v =>
        throw new IllegalStateException(
          s"maxDayPartition($dir, $partCol): partition value '$v' is not " +
            "an ISO date — lexicographic max is only a value max for " +
            "fixed-width yyyy-MM-dd partitions")
      }
      vals.maxOption
    }
  }

  /** Merge `updates` into the parquet table at `dir`, keyed by `keys`,
    * newest row per key winning by `versionCols` (updates beat existing
    * rows on ties). `marker` commits with the data, as in [[replace]].
    */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
      keys: Seq[String], versionCols: Seq[String],
      marker: Option[(String, Long)] = None): Unit = {
    restore(spark, dir)
    spark.catalog.refreshByPath(dir) // manual swaps bypass listing-cache invalidation
    // updates are reduced to latest-per-key even on first write: a batch
    // may itself carry several versions of a key (property-tested)
    val incoming = updates.withColumn("_src", lit(1))
    val unioned =
      if (!exists(spark, dir)) incoming
      else graft.Tables.parquet(spark, dir).withColumn("_src", lit(0))
        .unionByName(incoming, allowMissingColumns = true)
    val merged = LatestPerKey(unioned, keys, versionCols :+ "_src").drop("_src")
    replace(spark, dir, merged, marker)
  }

  /** K5: append-only with schema widening (new columns null-filled on
    * old rows at read time via mergeSchema).
    */
  def append(spark: SparkSession, dir: String, df: DataFrame): Unit =
    df.write.mode("append").parquet(dir)

  /** Partition-pruned merge: only partitions (by `partCol`, e.g. a date
    * column) present in `updates` are read, merged and rewritten;
    * untouched history is never read or written — their files stay
    * byte-identical (spec-asserted). The merged rows are written and
    * swapped in as in [[replacePartitions]].
    *
    * @param touched the `partCol` values of the EXISTING partitions
    *        `updates` carries, when the caller already knows them: the
    *        merge then reads `updates` once and skips its own
    *        checkpoint and distinct collect. An existing partition
    *        missing from it would be swapped in without its existing
    *        rows; a partition the table does not have yet needs no
    *        entry, and an extra value only rewrites that partition
    *        unchanged. Ignored when the target does not exist yet.
    * @return the `partCol` values of the partitions the merge wrote, as
    *         their directory names spell them (null for the null
    *         partition): every partition `updates` carries, plus the
    *         `touched` ones. Empty when nothing was written.
    */
  def upsertPartitioned(spark: SparkSession, dir: String, updates: DataFrame,
      keys: Seq[String], versionCols: Seq[String], partCol: String,
      touched: Option[Seq[Any]] = None): Seq[String] = {
    restorePartitions(spark, dir, partCol)
    val fresh = !exists(spark, dir)
    // without `touched`, the non-fresh path reads `updates` twice
    // (touched-partition values, then the merge itself) — materialize
    // the batch once so an expensive upstream plan (at 100 TB: a
    // filtered source scan) runs once, not twice; localCheckpoint
    // spills per-partition blocks, no driver heap
    val inc0 =
      if (fresh || touched.isDefined) updates else updates.localCheckpoint()
    val incoming = inc0.withColumn("_src", lit(1))
    // driver-side touched-partition values (bounded by |partitions|,
    // metadata-sized): an isin filter partition-PRUNES the target
    // scan — only touched dirs are listed into the plan, no join,
    // no exchange (vs a broadcast semi join, which still scans the
    // full partition listing through the probe side)
    val parts =
      if (fresh) Nil
      else touched.getOrElse {
        // an empty update set touches no partitions: the merge is a
        // true no-op (no empty temp write, no swap loop, no listing
        // refresh) — the cheap idle path an incremental pipeline
        // replays constantly
        val vals = boundedPartitionValues(inc0, partCol)
        if (vals.isEmpty) return Nil
        vals
      }
    val unioned =
      if (parts.isEmpty) incoming
      else {
        // a NULL partition value needs its own predicate: isInCollection
        // evaluates to NULL (never true) against null rows, so a batch
        // touching the null partition would stage a fresh
        // __HIVE_DEFAULT_PARTITION__ dir WITHOUT the target's existing
        // null-partition rows — and the swap below would then silently
        // drop them
        val nonNull = parts.filter(_ != null)
        val pred =
          if (nonNull.size == parts.size) col(partCol).isInCollection(nonNull)
          else if (nonNull.isEmpty) col(partCol).isNull
          else col(partCol).isInCollection(nonNull) || col(partCol).isNull
        val target = graft.Tables.parquet(spark, dir)
        // a target written WITHOUT the partition layout (a legacy
        // unpartitioned table handed to the partitioned merge) must
        // fail with the actual problem, not an unresolved-column error
        // downstream — and never be partition-swapped into corruption
        require(target.columns.contains(partCol),
          s"partitioned merge target $dir has no '$partCol' column: " +
            "written unpartitioned? Rewrite the layout before merging " +
            "partitioned (one-time full rewrite via partitionBy).")
        target
          .filter(pred)
          .withColumn("_src", lit(0))
          .unionByName(incoming, allowMissingColumns = true)
      }
    writePartitions(spark, dir,
      LatestPerKey(unioned, keys, versionCols :+ "_src").drop("_src"), partCol)
  }

  /** Replace every `partCol` partition `df` holds with `df`'s rows of
    * it, reading nothing of the table at `dir`: the materialization of
    * a layer that recomputes whole partitions (a daily mart's touched
    * days). Partitions `df` does not hold stay byte-identical.
    *
    * `df` is written ONCE to a staging dir partitioned by `partCol`,
    * each partition by one task as one file. A table that does not
    * exist yet is that dir renamed in; otherwise each staged
    * `partCol=x` directory is swapped into the table with the
    * crash-recoverable rename dance of [[swapDir]], in ascending order
    * of the values' strings (null first), which is date order for the
    * fixed-width ISO days [[maxDayPartition]] requires: a reader that
    * takes a table's progress from its max day then never sees that
    * day's new rows while a lower day still holds its old ones,
    * whatever order the file system lists. No dynamic-partition-
    * overwrite second write, no session-wide conf mutation. Zero rows
    * write nothing: a table that did not exist still does not
    * (partitionBy with zero rows would leave a schema-less dir every
    * later read fails on).
    *
    * @return the `partCol` values written, as in [[upsertPartitioned]]
    */
  def replacePartitions(spark: SparkSession, dir: String, df: DataFrame,
      partCol: String): Seq[String] = {
    restorePartitions(spark, dir, partCol)
    writePartitions(spark, dir, df, partCol)
  }

  /** [[restore]] every partition of `dir` a crashed swap left at its
    * `.<partCol>=<v>.old` name, then drop the stale listing cache.
    */
  private def restorePartitions(spark: SparkSession, dir: String,
      partCol: String): Unit = {
    val root = new Path(dir)
    if (exists(spark, dir)) fs(spark, root).listStatus(root)
      .map(_.getPath.getName)
      .filter(n => n.startsWith(s".$partCol=") && n.endsWith(".old"))
      .foreach(n => restore(spark, s"$dir/${n.drop(1).dropRight(4)}"))
    spark.catalog.refreshByPath(dir) // manual swaps bypass listing-cache invalidation
  }

  /** The staged write and swap of [[replacePartitions]]. */
  private def writePartitions(spark: SparkSession, dir: String, df: DataFrame,
      partCol: String): Seq[String] = {
    val dst = new Path(dir)
    val tmp = new Path(dir + ".merge.tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    val f = fs(spark, tmp)
    // co-locate each partition's rows before the partitionBy write (32
    // shuffle partitions x |days| would otherwise write a small-file
    // storm)
    df.repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(tmp.toString)
    val staged = f.listStatus(tmp).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partCol + "="))
      .map(s => s.getPath -> Option(ExternalCatalogUtils.unescapePathName(
        s.getPath.getName.drop(partCol.length + 1)))
        .filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME))
      .sortBy(_._2)
    if (staged.isEmpty) f.delete(tmp, true)
    else if (!f.exists(dst)) {
      if (!f.rename(tmp, dst))
        throw new java.io.IOException(s"merge swap failed: $tmp -> $dst")
    } else {
      staged.foreach { case (p, _) => swapDir(f, p, new Path(dst, p.getName)) }
      f.delete(tmp, true)
    }
    spark.catalog.refreshByPath(dir)
    staged.map(_._2.orNull)
  }

  /** Atomically replace the table at `dir` with `df` (crash-recoverable
    * swap; see [[swapDir]]) — the persistence primitive behind upsert
    * and the view-maintenance sinks ([[Ivm]]). An optional
    * `(fileName, value)` marker is written INTO the staged dir before
    * the swap, so marker and data commit in the same rename — the hook
    * a sink uses to record the progress its data holds (a batch id, a
    * watermark), read back by [[marker]] (name it `_`/`.`-prefixed so
    * scans ignore it).
    */
  def replace(spark: SparkSession, dir: String, df: DataFrame,
      marker: Option[(String, Long)] = None): Unit = {
    val tmp = new Path(dir + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val dst = new Path(dir)
    val f = fs(spark, dst)
    df.write.mode("overwrite").parquet(tmp.toString)
    marker.foreach { case (name, value) =>
      val out = f.create(new Path(tmp, name), true)
      try out.write(value.toString.getBytes(UTF_8))
      finally out.close()
    }
    swapDir(f, tmp, dst)
    spark.catalog.refreshByPath(dir)
  }

  /** The value the last [[replace]] of `dir` committed in its `name`
    * marker; None when `dir` or the marker is missing. A marker is
    * complete before the rename that commits it, so a crash cannot
    * tear it: one that does not parse fails loudly, naming its path.
    */
  def marker(spark: SparkSession, dir: String, name: String): Option[Long] = {
    val p = new Path(dir, name)
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val body = try new String(in.readAllBytes(), UTF_8).trim finally in.close()
      Some(body.toLongOption.getOrElse(throw new IllegalStateException(
        s"marker $p holds '$body', not a number")))
    }
  }

  /** Finish a [[swapDir]] that crashed between its two renames: when
    * `dir` is missing and its `.<name>.old` copy is not, the copy is
    * renamed back. Every entry point runs this before it reads its
    * target; a merge that saw no table would write its batch alone,
    * and its own swap would then delete the copy.
    */
  private[graft] def restore(spark: SparkSession, dir: String): Unit = {
    val dst = new Path(dir)
    val f = fs(spark, dst)
    val old = oldCopy(dst)
    if (!f.exists(dst) && f.exists(old) && !f.rename(old, dst))
      throw new java.io.IOException(s"merge swap recovery failed: $old -> $dst")
  }

  private def oldCopy(dst: Path): Path =
    new Path(dst.getParent, "." + dst.getName + ".old")

  /** Crash-recoverable directory replace: the previous content is
    * renamed to `.<dst>.old` before the new content renames in, so a
    * crash between the two renames leaves a copy at a well-known name,
    * which [[restore]] renames back; the old copy is dropped only
    * after the new content is in place. The dot prefix keeps a crash
    * leftover INVISIBLE to partition discovery when the swapped dir is
    * a `col=value` partition inside a table root — a visible
    * `<name>.old` sibling would read as a bogus extra partition and
    * duplicate that partition's rows on every scan.
    */
  private[operators] def swapDir(f: org.apache.hadoop.fs.FileSystem,
      src: Path, dst: Path): Unit = {
    val old = oldCopy(dst)
    f.delete(old, true) // stale: a crash after the second rename
    if (f.exists(dst) && !f.rename(dst, old))
      throw new java.io.IOException(s"merge swap failed: $dst -> $old")
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"merge swap failed: $src -> $dst")
    f.delete(old, true)
  }
}
