package graft.operators

import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Build-once, attach-everywhere staging for immutable derived
  * artifacts (bucketed layouts, medallion bases, LSH/IVF/PQ indexes,
  * stream landing zones). Each build writes into its own fresh dir
  * `<label>-<sig>-<uuid>` under [[root]]; a `_DONE` file created after
  * the data marks it complete, and every later call, in this process
  * or any other, attaches the smallest-named marked dir. No dir is
  * ever renamed into place or reused, so a marked dir always holds its
  * data, and the protocol never deletes a marked dir. This is the
  * commit of [[Versioned]] and of Structured Streaming's file sink:
  * immutable files first, then a small commit record. All paths go
  * through the Hadoop FS API, so the root may be HDFS/S3/local, and
  * since publishing renames nothing a copy-rename store (s3a) is safe.
  *
  * Contract: a build must finish within `spark.graft.persisted.staleMs`
  * (default 6 h). Past that its unmarked dir is garbage to the
  * [[janitor]], and the build fails loud with an IOException; it never
  * publishes a dir without its data.
  */
object Persisted {

  /** Artifact root: `spark.graft.persisted.root` when set (any Hadoop
    * FS URI — `hdfs://…`, `s3a://…`, `file:/…`), else the local
    * tmpdir.
    */
  def root(spark: SparkSession): Path = new Path(
    spark.conf.getOption("spark.graft.persisted.root")
      .getOrElse("file:" + sys.props("java.io.tmpdir")))

  /** Age past which an unmarked dir is a crashed or overrun build. */
  private def staleMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.persisted.staleMs")
      .map(_.toLong).getOrElse(6L * 3600 * 1000)

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `f` without the local FS's checksum layer: a file created or
    * renamed through it gets no `.crc` sidecar.
    */
  private[graft] def raw(f: FileSystem): FileSystem = f match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case o => o
  }

  private def glob(f: FileSystem, pattern: Path): Seq[FileStatus] =
    Option(f.globStatus(pattern)).toSeq.flatten

  /** CRC signature of arbitrary identity parts plus the RECURSIVE
    * data-file listings (root-relative path + size + mtime, sorted) of
    * the given table directories — file-content-change invalidates,
    * directory stat quirks don't (the r13 ADVICE lesson: directory
    * length/mtime are filesystem-dependent and effectively constant).
    * The walk is recursive so a hive-partitioned table (a directory of
    * `day=…` subdirectories) contributes every leaf file: a
    * regenerated partitioned corpus can never alias to the stale
    * signature a top-level-only listing would produce.
    */
  def signature(spark: SparkSession, parts: Seq[String],
      tableDirs: Seq[String] = Nil): String = {
    val crc = new java.util.zip.CRC32
    // length-prefixed so part boundaries are unambiguous: a plain
    // separator would let ["a|b"] and ["a","b"] alias to one signature
    parts.foreach(p => crc.update(s"${p.length}:$p|".getBytes("UTF-8")))
    tableDirs.foreach { t =>
      val f = fs(spark, new Path(t))
      val dir = f.makeQualified(new Path(t))
      crc.update(dir.toString.getBytes("UTF-8"))
      if (f.exists(dir)) {
        val prefix = dir.toString
        val it = f.listFiles(dir, true)
        val entries = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val st = it.next()
          val rel = st.getPath.toString.stripPrefix(prefix).stripPrefix("/")
          entries += s"|$rel|${st.getLen}|${st.getModificationTime}"
        }
        entries.sorted.foreach(e => crc.update(e.getBytes("UTF-8")))
      }
    }
    java.lang.Long.toHexString(crc.getValue)
  }

  /** The marked dirs of (`label`, `sig`), smallest name first. */
  private def complete(f: FileSystem, rootDir: Path, label: String,
      sig: String): Seq[Path] =
    glob(f, new Path(rootDir, s"$label-$sig-*/_DONE"))
      .map(_.getPath.getParent).sortBy(_.getName)

  /** Janitor, for garbage only: each unmarked dir of `label` with an
    * mtime older than `ttl` ms is renamed to a private dot-prefixed reap
    * name, where a build still running in it can no longer mark it. If
    * it holds `_DONE` after all (marked between check and rename), it
    * is renamed back, else deleted. A dead janitor's reap dir is
    * handled the same way.
    */
  private[graft] def janitor(spark: SparkSession, label: String,
      ttl: Long): Unit = {
    val rootDir = root(spark)
    val f = fs(spark, rootDir)
    val cutoff = System.currentTimeMillis() - ttl
    def marked(d: Path) = f.exists(new Path(d, "_DONE"))
    (glob(f, new Path(rootDir, s"$label-*")) ++
        glob(f, new Path(rootDir, s".$label-*"))).foreach { st =>
      val name = st.getPath.getName
      val live = new Path(rootDir, name.stripPrefix(".").split("\\.reap-")(0))
      val reap = new Path(rootDir,
        s".${live.getName}.reap-${java.util.UUID.randomUUID()}")
      try {
        if (st.isDirectory && st.getModificationTime < cutoff &&
            (name.startsWith(".") || !marked(st.getPath)) &&
            f.rename(st.getPath, reap)) {
          if (marked(reap)) f.rename(reap, live) else f.delete(reap, true)
        }
      } catch { case _: java.io.IOException => } // a racing janitor
    }
  }

  /** Return a marked dir for (`label`, `sig`) (a path string on the
    * root's filesystem), first running `build` against a fresh dir of
    * its own if none exists. Racing builders may each publish a dir;
    * every call after the race attaches the smallest-named one.
    */
  def ensure(spark: SparkSession, label: String, sig: String)
      (build: String => Unit): String = {
    val rootDir = root(spark)
    val f = fs(spark, rootDir)
    complete(f, rootDir, label, sig).headOption.getOrElse {
      val ttl = staleMs(spark)
      def fail(dir: Path, why: String, cause: Throwable = null) =
        new java.io.IOException(s"persisted build '$label' in $dir $why " +
          s"(an unmarked dir is reaped past staleMs = $ttl ms)", cause)
      janitor(spark, label, ttl)
      val dir = f.makeQualified(
        new Path(rootDir, s"$label-$sig-${java.util.UUID.randomUUID()}"))
      val token = new Path(dir, "_BUILD")
      f.mkdirs(dir)
      f.create(token, false).close()
      try build(dir.toString) catch { case e: Throwable => throw fail(dir, "failed", e) }
      complete(f, rootDir, label, sig).headOption match {
        case Some(sibling) =>
          f.delete(dir, true) // never marked, so nobody attached it
          sibling
        case None =>
          if (!f.exists(token)) throw fail(dir, "was reaped before it was marked")
          // non-recursive, so a reaped dir is never re-created as a
          // `_DONE`-only husk; the checksummed local FS checks for the
          // parent and then mkdirs it, so mark through its raw FS
          try raw(f).createFile(new Path(dir, "_DONE")).overwrite(false).build().close()
          catch { case e: java.io.IOException => throw fail(dir, "could not be marked", e) }
          dir
      }
    }.toString
  }
}
