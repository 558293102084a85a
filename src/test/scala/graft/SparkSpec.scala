package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"

  /** Capture (result, jobCount, callSites) for Spark jobs started while
    * `f` runs — the no-hidden-sizing-jobs guard shared by the index and
    * LSH suites.
    */
  def jobsDuring[A](f: => A): (A, Int, Seq[String]) = {
    val (out, props) = jobPropertiesDuring(f)
    (out, props.size,
      props.map(p => Option(p.getProperty("callSite.short")).getOrElse("")))
  }

  /** The local properties of every Spark job started while `f` runs. */
  def jobPropertiesDuring[A](f: => A): (A, Seq[java.util.Properties]) = {
    val props = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        props.add(Option(js.properties).getOrElse(new java.util.Properties()))
    }
    org.apache.spark.graft.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
      (out, props.toArray(Array.empty[java.util.Properties]).toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
