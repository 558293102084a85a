package graft.tools

import org.apache.spark.sql.functions._

/** Scratch profiling main (dev tool). */
object Prof {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.prepare(graft.GraftSession.local(32))
    val dir = "/root/testdata/sf0.1"
    println("===== AFTER (sessionize full incl. sized compaction) =====")
    graft.queries.PipelineQueries.defs("streaming_sessionize")(spark, dir)
      .explain("formatted")
    spark.stop()
  }
}
