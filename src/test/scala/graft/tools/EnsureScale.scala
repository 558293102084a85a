package graft.tools

/** Materialize ScaleCurve's x{m} replica dirs without timing anything
  * — `graft.Bench` (SPARK_GRAFT_SF_DIR) and `tools/bench_scaling.py`
  * run on these, and /tmp does not survive a reboot.
  */
object EnsureScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val root = sys.env.getOrElse("GRAFT_SCALE_ROOT", "/tmp/graft-scale")
    val factors = sys.env.getOrElse("GRAFT_SCALE_FACTORS", "30")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(graft.GraftSession.DefaultCores)(_.toInt)
    val spark = graft.GraftSession.prepare(graft.GraftSession.local(cpus))
    factors.foreach { m =>
      val dir = ScaleCurve.ensureScaled(spark, sfDir, root, m)
      println(s"""{"scaled":$m,"dir":"$dir"}""")
    }
    spark.stop()
  }
}
