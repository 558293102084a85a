package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent,
  QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.util.QueryExecutionListener

import org.apache.spark.graft.TestBus

/** Operators that need their own settings get them from the plan they
  * run, not from the session they are called on: batch operators run
  * on a sized clone, and a stream reads its settings when it starts.
  * The calling session keeps its width the whole time.
  */
class SizedConfSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Width = "spark.sql.shuffle.partitions"

  /** A session at width 32 on the suite's SparkContext. */
  private def wide(): SparkSession = {
    val s = GraftSession.prepare(spark.newSession())
    s.conf.set(Width, "32")
    s
  }

  /** `f`'s result, every width a second thread polled from `s` while
    * `f` ran, and the partition count of every hash shuffle of the
    * queries `f` ran (a clone of `s` inherits the listener).
    */
  private def observed[A](s: SparkSession)(f: => A): (A, Set[String], Seq[Int]) = {
    val shuffles = new ConcurrentLinkedQueue[Int]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        collectWithSubqueries(qe.executedPlan) {
          case e: ShuffleExchangeExec if e.outputPartitioning != SinglePartition =>
            e.outputPartitioning.numPartitions
        }.foreach(shuffles.add)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val polled = new ConcurrentLinkedQueue[String]()
    @volatile var done = false
    val poller = new Thread(() =>
      while (!done) {
        polled.add(s.conf.get(Width))
        Thread.sleep(1)
      })
    s.listenerManager.register(listener)
    poller.start()
    try {
      val out = f
      TestBus.drain(spark.sparkContext)
      (out, polled.asScala.toSet, shuffles.asScala.toSeq)
    } finally {
      done = true
      poller.join()
      s.listenerManager.unregister(listener)
    }
  }

  test("connected components and pagerank shuffle at their sized width; the session stays at 32") {
    val s = wide()
    val pairs = s.range(0, 200)
      .select(col("id").as("a"), (col("id") - col("id") % 10).as("b"))
    val nodes = s.range(0, 100).select(col("id").as("node"))
    val edges = s.range(0, 100)
      .select(col("id").as("src"), ((col("id") + 1) % 100).as("dst"))
    val ((cc, pr), polled, shuffles) = observed(s) {
      (graft.ext.Clusters.connectedComponents(pairs, "a", "b"),
        graft.ext.Graph.pageRank(nodes, edges))
    }
    // both results live on the caller's session
    assert(cc.sparkSession eq s)
    assert(pr.sparkSession eq s)
    assert(cc.count() == 200)
    assert(cc.select("cluster").distinct().count() == 20)
    assert(pr.count() == 100)
    assert(polled.nonEmpty)
    assert(polled == Set("32"), "the session's width changed while the operators ran")
    assert(shuffles.nonEmpty)
    assert(shuffles.toSet == Set(4), shuffles)
  }

  test("a stream's stateful operator runs at its sized width on a width-32 session") {
    val s = wide()
    val partitions = new ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o => partitions.add(o.numShufflePartitions))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)
    try {
      // streaming_dedup runs through the same merge-sink runner as
      // streaming_cdc, whose stream holds no state
      assert(SparkEntry.queries("streaming_dedup")(s, sf).count() > 0)
      TestBus.drain(spark.sparkContext)
    } finally s.streams.removeListener(listener)
    assert(!partitions.isEmpty)
    assert(partitions.asScala.toSet == Set(4L), partitions)
    assert(s.conf.get(Width) == "32")
  }
}
