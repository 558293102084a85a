package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned parquet table with time-travel reads — snapshot isolation
  * on plain files, the minimal shape of what table formats provide:
  *
  *   dir/_versions/v=<N>/   immutable parquet snapshots (never edited)
  *   dir/_latest            pointer file holding <N>
  *
  * Commit protocol: write the new snapshot dir (Spark stamps
  * `_SUCCESS` on completion), then swap the pointer. Versions are
  * immutable, so readers pinned to a version see a consistent
  * snapshot regardless of concurrent writes; the pointer swap is the
  * ONLY mutation. Crash semantics: a crash mid-snapshot-write leaves
  * a dir without `_SUCCESS` (ignored by the fallback); a crash
  * mid-pointer-swap leaves either the old pointer (old version stays
  * live) or no pointer (readers fall back to the newest COMPLETE
  * snapshot). At 100 TB this layout also makes rollback and audit
  * O(1): point the pointer, nothing rewrites.
  *
  * Concurrency contract: SINGLE WRITER. `write` is
  * read-increment-write on the version counter (two concurrent
  * writers could claim the same version). Readers are safe at any
  * concurrency: they touch only immutable snapshots.
  *
  * A build-once artifact needs no second commit: a
  * [[Persisted]] dir is already complete and immutable once marked,
  * so artifacts under it are plain parquet.
  */
object Versioned {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def vdir(dir: String, v: Long) = new Path(s"$dir/_versions/v=$v")
  private def pointer(dir: String) = new Path(s"$dir/_latest")

  /** All COMPLETE (committed) snapshot versions, ascending. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val root = new Path(s"$dir/_versions")
    val f = fs(spark, root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .filter(v => f.exists(new Path(vdir(dir, v), "_SUCCESS")))
      .sorted
  }

  /** Latest committed version: the pointer if present AND its target
    * snapshot is complete, else the newest complete snapshot (covers
    * both a pointer-swap crash and a pointer dangling after manual
    * deletion / partial restore of the target dir).
    */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] = {
    val p = pointer(dir)
    val f = fs(spark, p)
    val pointed: Option[Long] =
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
        finally in.close()
      }
    pointed.filter(v => f.exists(new Path(vdir(dir, v), "_SUCCESS")))
      .orElse(versions(spark, dir).lastOption)
  }

  /** Commit `df` as the next version; returns the version number. */
  def write(spark: SparkSession, dir: String, df: DataFrame): Long = {
    val v = latestVersion(spark, dir).getOrElse(0L) + 1L
    df.write.mode("overwrite").parquet(vdir(dir, v).toString)
    val p = pointer(dir)
    val tmp = p.suffix(".tmp")
    val f = fs(spark, p)
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    f.delete(p, false)
    if (!f.rename(tmp, p))
      throw new java.io.IOException(s"versioned commit failed: $tmp -> $p")
    v
  }

  /** Read a pinned version (time travel) or the latest committed one. */
  def read(spark: SparkSession, dir: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed versions in $dir"))
    val path = vdir(dir, v)
    if (!fs(spark, path).exists(new Path(path, "_SUCCESS")))
      throw new java.util.NoSuchElementException(
        s"version $v of $dir does not exist or is incomplete")
    spark.read.parquet(path.toString)
  }
}
