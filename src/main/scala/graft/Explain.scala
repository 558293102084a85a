package graft

/** Plan auditor: prints the formatted physical plan for the named
  * queries (default: a representative set) so scan pruning
  * (`ReadSchema`), predicate pushdown (`PushedFilters`), join
  * strategies (broadcast vs shuffle) and `WholeStageCodegen` spans can
  * be reviewed per query.
  *
  * Usage: `sbt "runMain graft.Explain [sfDir] [query ...]"`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "join_regional_revenue", "metar_latest_per_key",
        "metar_daily_metrics", "asof_signup", "similarity_topk")
    val spark = GraftSession.local(sys.env.get("SPARK_GRAFT_CPUS")
      .fold(GraftSession.DefaultCores)(_.toInt))
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
