package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark call: name, wall interval, the span that caused it
  * and the operation it belongs to. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, var endNs: Long = 0L)

/** Spans recorded around every call the benchmark makes into the
  * program. Kept in memory and written once, at the end of the run.
  * Disabled (no recording at all) in untraced runs.
  */
final class Spans(enabled: Boolean) {
  val all = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextOp = 0

  def newOp(): Int = { nextOp += 1; nextOp }

  def apply[A](name: String, op: Int = 0)(f: => A): A =
    if (!enabled) f
    else {
      val parent = stack.headOption
      val s = Span(all.size + 1, parent.map(_.id).getOrElse(0),
        if (op != 0) op else parent.map(_.op).getOrElse(0), name, System.nanoTime())
      all += s
      stack.push(s)
      try f finally { s.endNs = System.nanoTime(); stack.pop() }
    }

  def json(t0: Long): String = all.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Streaming progress of every micro-batch (traced run only). */
final class Progress extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    batches.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
}

/** Spark-side counters of the traced run.
  *
  * Every job is attributed to a program module through its
  * `spark.sql.execution.id` and that execution's call-site stack
  * (the innermost `graft.<module>.` frame); jobs without an execution
  * fall back to their first stage's call site, and jobs of a streaming
  * query to `streaming`. A job whose stack holds no program frame (an
  * action the benchmark invoked on a DataFrame the program built) is
  * unattributed. Stage names are not used: under AQE most of them name
  * a CompletableFuture frame, not program code.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  val progress = new Progress
  private val lock = new Object
  val execModule = mutable.Map.empty[Long, String]
  val stageModule = mutable.Map.empty[Int, String]
  val jobsByModule = mutable.Map.empty[String, Int].withDefaultValue(0)
  val taskRunMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  // task busy intervals [launch, finish) in ms, for driver-only time
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var jobs = 0
  var catalystActions = 0

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => lock.synchronized {
      execModule(e.executionId) = moduleOf(e.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val module =
      if (prop("sql.streaming.queryId").isDefined) "streaming"
      else prop("spark.sql.execution.id").flatMap(id => execModule.get(id.toLong))
        .filter(_ != Unattributed)
        .orElse(e.stageInfos.headOption.map(s => moduleOf(s.details)))
        .getOrElse(Unattributed)
    jobs += 1
    jobsByModule(module) += 1
    e.stageIds.foreach(stageModule(_) = module)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    val module = stageModule.getOrElse(e.stageId, Unattributed)
    if (e.taskInfo != null) taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    if (m != null) {
      taskRunMs(module) += m.executorRunTime
      sums("tasks") += 1
      sums("task_run_s") += m.executorRunTime / 1e3
      sums("task_cpu_s") += m.executorCpuTime / 1e9
      sums("gc_s") += m.jvmGCTime / 1e3
      sums("shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / MB
      sums("shuffle_read_mb") += (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead) / MB
      sums("spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / MB
      sums("input_mb") += m.inputMetrics.bytesRead / MB
      sums("output_mb") += m.outputMetrics.bytesWritten / MB
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized { sums("stages") += 1 }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = lock.synchronized {
    catalystActions += 1
    qe.tracker.phases.foreach { case (phase, p) =>
      sums(s"catalyst.${phase}_s") += (p.endTimeMs - p.startTimeMs) / 1e3 }
  }

  /** Wall seconds inside [fromMs, toMs) during which no task ran. */
  def driverOnlySeconds(fromMs: Long, toMs: Long): Double = lock.synchronized {
    val iv = taskIntervals.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    (toMs - fromMs - busy) / 1e3
  }

  /** Snapshot of the counters, to diff around a timed region. */
  def snapshot(): Tracer.Snap = lock.synchronized {
    Tracer.Snap(jobs, catalystActions, sums.toMap, jobsByModule.toMap, taskRunMs.toMap)
  }
}

object Tracer {
  val MB: Double = 1024.0 * 1024.0
  val Unattributed = "unattributed"
  val Modules: Seq[String] = Seq("sources", "metar", "operators", "pipeline",
    "quality", "streaming", "ext", "functions", "plans", "queries")
  /** Module of the innermost `graft.<module>.` frame of a call-site stack. */
  def moduleOf(details: String): String =
    Option(details).iterator.flatMap(_.split("\n"))
      .map(_.trim.stripPrefix("at ").trim)
      .filter(_.startsWith("graft."))
      .map(_.split('.')(1))
      .find(Modules.contains)
      .getOrElse(Unattributed)

  final case class Snap(jobs: Int, catalystActions: Int, sums: Map[String, Double],
      jobsByModule: Map[String, Int], taskRunMs: Map[String, Long])

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    spark.streams.addListener(t.progress)
    t
  }
}
