package org.apache.spark.graft

import java.io.File
import java.net.URI

import org.apache.spark.util.ShutdownHookManager

import graft.{SparkEntry, SparkSpec}

/** A declared query's per-call scratch root (here `pipeline_medallion`'s
  * medallion root) is registered with Spark's shutdown hook, so it is
  * deleted when the JVM exits instead of piling up in the tmpdir.
  */
class ScratchRootSpec extends SparkSpec {

  test("pipeline_medallion's scratch root is deleted at JVM exit") {
    val mart = SparkEntry.queries("pipeline_medallion")(spark, sf)
    val roots = mart.inputFiles.toSeq.flatMap { f =>
      Iterator.iterate(new File(new URI(f)))(_.getParentFile)
        .takeWhile(_ != null).find(_.getName.startsWith("graft-medallion"))
    }.distinct
    assert(roots.size == 1, mart.inputFiles.mkString(", "))
    assert(ShutdownHookManager.hasShutdownDeleteDir(roots.head), roots.head)
  }
}
