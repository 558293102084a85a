package graft

import java.net.URI
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** The local file system under the `revfs` scheme, listing every
  * directory in reverse name order, and able to fail one rename of a
  * staged partition (`<table>.merge.tmp-*` / `<col>=<value>`) into its
  * table: a partition swap on a file system whose listing order is not
  * the partition order, dying midway.
  */
class ReversedLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${ReversedLocalFs.Scheme}:///")
  override def getScheme: String = ReversedLocalFs.Scheme

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).sortBy(_.getPath.getName)(Ordering.String.reverse)

  override def rename(src: Path, dst: Path): Boolean = {
    val staged = src.getParent.getName
      .startsWith(s"${ReversedLocalFs.failingTable.get}.merge.tmp-") &&
      src.getName.contains("=")
    if (staged && ReversedLocalFs.stagedRenamesLeft.decrementAndGet() == 0) false
    else super.rename(src, dst)
  }
}

object ReversedLocalFs {
  val Scheme = "revfs"

  /** Staged-partition renames into `failingTable` until the one that
    * fails; 0 or less fails none.
    */
  private val stagedRenamesLeft = new AtomicInteger(0)
  private val failingTable = new AtomicReference("")

  /** Make `revfs:` paths resolve to this file system under `conf`. */
  def register(conf: Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[ReversedLocalFs].getName)

  /** Fail the `n`-th rename of a staged partition into the table
    * named `table` from now, once.
    */
  def failStagedRename(table: String, n: Int): Unit = {
    failingTable.set(table)
    stagedRenamesLeft.set(n)
  }
}
