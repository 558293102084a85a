package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession, SparkEntry}

/** JVM side of the benchmark: set-up, one workload measured closed-loop
  * for a fixed number of seconds, then the checks that need Spark.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --root <scratch dir> --out <result json>
  *
  * The inputs are already generated under `<root>/data`. Everything
  * the run writes lives under `--root`. The result file carries raw
  * per-operation records; `run.py` turns them into metrics and checks
  * query outputs against DuckDB.
  */
object Main {

  /** Queries of the sweep: one of every pack of `SparkEntry`, with the
    * data-heavy `plans`/`ext` kernels of the sweep's tail (triangles,
    * ppjoin), both persisted-index users (bucketed join, IVF probe) and
    * one streaming entry (micro-batches into the keyed merge sink). */
  val SweepQueries: Seq[String] = Seq(
    "metar_daily_metrics", // parity
    "join_bucketed", // relational
    "graph_triangles", // analytics
    "dedup_ppjoin", // text
    "similarity_ivf_probe", // similarity
    "metar_pipeline_daily", // metar
    "table_diff", // ops
    "set_ops", // setop
    "sql_daily_mart", // sql
    "scalar_strings", // scalar
    "streaming_cdc") // pipeline

  val Packs: Seq[(String, Set[String])] = Seq(
    "parity" -> graft.queries.ParityQueries.defs.keySet,
    "relational" -> graft.queries.RelationalQueries.defs.keySet,
    "analytics" -> graft.queries.AnalyticsQueries.defs.keySet,
    "text" -> graft.queries.TextQueries.defs.keySet,
    "similarity" -> graft.queries.SimilarityQueries.defs.keySet,
    "metar" -> graft.queries.MetarQueries.defs.keySet,
    "pipeline" -> graft.queries.PipelineQueries.defs.keySet,
    "ops" -> graft.queries.OpsQueries.defs.keySet,
    "setop" -> graft.queries.SetOpQueries.defs.keySet,
    "sql" -> graft.queries.SqlQueries.defs.keySet,
    "scalar" -> graft.queries.ScalarQueries.defs.keySet)

  def packOf(q: String): String = Packs.find(_._2.contains(q)).map(_._1).get

  /** One timed operation. `kind` names what `ms` (wall time) and
    * `cpuMs` (CPU time of the whole JVM over the same interval) measure. */
  final case class Op(kind: String, name: String, ms: Double, ok: Boolean,
      pass: Int = 0, cpuMs: Double = 0)

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this JVM, all threads, in ms. */
  def cpuMs(): Double = osBean.getProcessCpuTime / 1e6

  /** Collects the heap before an operation is timed, so that the
    * garbage of one operation is not collected, and billed, in the next. */
  def settle(): Unit = System.gc()

  /** CPU time the host took from this machine's vCPUs (steal), summed
    * over them, in ms; 0 where /proc/stat is absent. */
  def stealMs(): Double = try {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
      .split("\\s+")
    if (f.length > 8) f(8).toDouble * 10 else 0.0
  } catch { case _: Exception => 0.0 }

  final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
      val root: Path, val spans: Spans, val tracer: Option[Tracer]) {
    val ops = mutable.ArrayBuffer.empty[Op]
    /** Outputs checked against a DuckDB oracle by run.py: (query, dir). */
    val checks = mutable.ArrayBuffer.empty[(String, String)]
    /** Operations that threw (also marked not ok in `ops`). */
    val failures = mutable.ArrayBuffer.empty[String]
    /** Outputs checked on the JVM side that came out wrong. */
    val wrong = mutable.ArrayBuffer.empty[String]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val stamps = mutable.LinkedHashMap.empty[String, Double]
    var setupS = 0.0
    var measureFromMs = 0L
    var measureToMs = 0L
    val rng = new Random(seed)
    val data: String = root.resolve("data").toString
    val cores: Int = spark.sparkContext.defaultParallelism
    def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
    def snap(): Option[Tracer.Snap] = tracer.map { t => drain(); t.snapshot() }
  }

  /** Whole seeded passes while the next one is expected to end within
    * `run.seconds` of the first one's start (always at least one). */
  def passes(run: Run)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var pass = 0
    var lastNs = 0L
    while (pass == 0 || System.nanoTime() - t0 + lastNs <= run.seconds * 1e9) {
      pass += 1
      val p0 = System.nanoTime()
      body(pass)
      lastNs = System.nanoTime() - p0
    }
  }

  def timeMs[A](f: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t) / 1e6)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val root = Paths.get(opt("root")).toAbsolutePath
    val trace = opt("trace") == "1"
    val tStart = System.nanoTime()
    val (spark, sessionMs) = timeMs {
      GraftSession.local(Runtime.getRuntime.availableProcessors)
    }
    val tracer = if (trace) Some(Tracer.install(spark)) else None
    val run = new Run(spark, opt("seed").toLong, opt("seconds").toDouble, root,
      new Spans(trace), tracer)
    run.stamps("session_ms") = sessionMs
    val w: Workload = workload match {
      case "medallion_arrivals" => new MedallionArrivals(run)
      case "query_sweep" => new QuerySweep(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val (_, setupMs) = timeMs {
      run.spans("setup") {
        run.spans("warmup") { warmup(run) }
        w.setup()
      }
    }
    run.setupS = (sessionMs + setupMs) / 1e3
    run.stamps("canary_before_s") = Bench.canary(spark, run.cores)
    run.stamps("fs_canary_before_s") = Bench.fsCanary()
    val before = run.snap()
    val steal0 = stealMs()
    run.measureFromMs = System.currentTimeMillis()
    w.measure()
    run.measureToMs = System.currentTimeMillis()
    // share of the vCPUs' time the host gave to others while measuring
    run.stamps("steal_share") = (stealMs() - steal0) /
      math.max(1L, run.measureToMs - run.measureFromMs) / Runtime.getRuntime.availableProcessors
    val after = run.snap()
    run.stamps("canary_after_s") = Bench.canary(spark, run.cores)
    run.stamps("fs_canary_after_s") = Bench.fsCanary()
    spark.catalog.clearCache()
    // collect, let the ContextCleaner drop the blocks of unreachable
    // broadcasts and shuffles, collect again
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(200); System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / Tracer.MB
    w.check()
    for (t <- tracer; b <- before; a <- after) layerMetrics(run, t, b, a)
    w.layerMetrics()
    spark.stop()
    // what the program left behind once its session is gone: everything
    // under the root except the benchmark's inputs and checked outputs
    val mine = Seq("data", "landing", "out").map(root.resolve)
    val diskMb = Files.walk(root).iterator.asScala
      .filter(p => !mine.exists(p.startsWith))
      .filter(Files.isRegularFile(_)).map(Files.size).sum / Tracer.MB
    writeResult(run, opt("out"), heapMb, diskMb, (System.nanoTime() - tStart) / 1e9)
    if (trace) Files.writeString(Paths.get(opt("out") + ".spans.json"), run.spans.json(tStart))
  }

  /** Canary warm-up, so the stamps taken before the workload do not
    * time the canaries' own first run. The workload's set-up warms the
    * JVM, parquet and streaming paths it uses. */
  def warmup(run: Run): Unit = {
    Bench.canary(run.spark, run.cores)
    Bench.fsCanary()
  }

  /** Counters of the measured region, diffed from tracer snapshots. */
  def layerMetrics(run: Run, t: Tracer, b: Tracer.Snap, a: Tracer.Snap): Unit = {
    val L = run.layer
    def d(k: String) = a.sums.getOrElse(k, 0.0) - b.sums.getOrElse(k, 0.0)
    L("spark.jobs") = a.jobs - b.jobs
    Seq("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb",
      "shuffle_read_mb", "spill_mb", "input_mb", "output_mb")
      .foreach(k => L(s"spark.$k") = d(k))
    L("spark.driver_only_s") = t.driverOnlySeconds(run.measureFromMs, run.measureToMs)
    L("catalyst.actions") = a.catalystActions - b.catalystActions
    Seq("analysis", "optimization", "planning")
      .foreach(p => L(s"catalyst.${p}_s") = d(s"catalyst.${p}_s"))
    val totalRun = math.max(1e-9, d("task_run_s"))
    (Tracer.Modules :+ Tracer.Unattributed).foreach { m =>
      val runS = (a.taskRunMs.getOrElse(m, 0L) - b.taskRunMs.getOrElse(m, 0L)) / 1e3
      L(s"layer.$m.task_run_s") = runS
      if (m != Tracer.Unattributed)
        L(s"layer.$m.jobs") = a.jobsByModule.getOrElse(m, 0) - b.jobsByModule.getOrElse(m, 0)
      else L("layer.unattributed.share") = runS / totalRun
    }
  }

  def writeResult(run: Run, out: String, heapMb: Double, diskMb: Double,
      wallS: Double): Unit = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""
    val ops = run.ops.map(o =>
      s"""{"kind":${str(o.kind)},"name":${str(o.name)},"ms":${num(o.ms)},"ok":${o.ok},"pass":${o.pass},""" +
      s""""cpu_ms":${num(o.cpuMs)}}""")
    val checks = run.checks.map { case (q, d) =>
      s"""{"name":${str(q)},"sql":${str(SparkEntry.oracleSql(q))},"dir":${str(d)}}""" }
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    val json =
      s"""{"seed":${run.seed},"setup_s":${num(run.setupS)},"heap_after_gc_mb":${num(heapMb)},""" +
      s""""disk_left_mb":${num(diskMb)},"jvm_wall_s":${num(wallS)},"stamps":${obj(run.stamps)},""" +
      s""""failures":${run.failures.map(str).mkString("[", ",", "]")},""" +
      s""""wrong":${run.wrong.map(str).mkString("[", ",", "]")},""" +
      s""""layer":${obj(run.layer)},"ops":${ops.mkString("[", ",\n", "]")},""" +
      s""""checks":${checks.mkString("[", ",\n", "]")}}"""
    Files.writeString(Paths.get(out), json)
  }

  /** Size in bytes of the regular files under `dir` (0 when absent). */
  def bytesUnder(dir: Path, newerThanMs: Long = Long.MinValue): (Long, Int) =
    if (!Files.exists(dir)) (0L, 0)
    else {
      val fs = Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_))
        .filter(p => !p.getFileName.toString.startsWith("."))
        .filter(p => Files.getLastModifiedTime(p).toMillis >= newerThanMs).toSeq
      (fs.map(Files.size).sum, fs.size)
    }
}

/** A workload: inputs, set-up, the timed loop, and the checks. */
trait Workload {
  def setup(): Unit
  def measure(): Unit
  def check(): Unit
  def layerMetrics(): Unit
}

/** Scheduled ticks of the medallion pipeline over arriving slices. */
final class MedallionArrivals(run: Main.Run) extends Workload {
  import Main._
  private val spark = run.spark
  private val landing = run.root.resolve("landing")
  private val landed = landing.resolve("events.parquet")
  private val mat = run.root.resolve("mat").toString
  // per-tick traced counters: (empty?, jobs, written bytes per layer, files, landed bytes)
  private val tickStats = mutable.ArrayBuffer.empty[(Boolean, Int, Seq[Long], Int, Long)]

  /** Tick schedule written with the inputs: a slice index, or -1 for a
    * tick that brings nothing new. */
  private val ticks: Seq[Int] = new String(Files.readAllBytes(
    Paths.get(run.data, "ticks.json"))).stripPrefix("[").stripSuffix("]")
    .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq

  private def partFile(dir: Path): Path =
    Files.list(dir).iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get

  private def land(src: Path, name: String): Long = {
    Files.createDirectories(landed)
    val dst = landed.resolve(s"part-$name.parquet")
    Files.copy(partFile(src), dst, StandardCopyOption.REPLACE_EXISTING)
    Files.size(dst)
  }

  /** Bulk build of the first days, one catch-up day in three
    * incremental runs and one run with nothing new, so the timed ticks
    * do not pay the first runs of the incremental and the no-op paths:
    * the CPU time of the first incremental runs after the bulk build
    * falls by a quarter from the first to the third as the JIT compiles. */
  def setup(): Unit = (Seq("base") ++ (0 until 3).map(i => s"catchup-$i") :+ "").foreach { part =>
    run.spans(s"medallion.${if (part.isEmpty) "empty" else part}") {
      if (part.nonEmpty) land(Paths.get(run.data, part), part)
      graft.pipeline.Medallion.run(spark, landing.toString, mat)
    }
  }

  def measure(): Unit = {
    val deadline = System.nanoTime() + (run.seconds * 1e9).toLong
    val it = ticks.iterator
    // at least two arrivals, so every run measures the same minimum
    while (it.hasNext && (System.nanoTime() < deadline ||
        run.ops.count(_.kind == "arrival") < 2)) {
      val tick = Some(it.next()).filter(_ >= 0)
      val landedBytes = tick.map(i => land(Paths.get(run.data, s"slice-$i"), s"s$i")).getOrElse(0L)
      val before = run.snap()
      val t0 = System.currentTimeMillis()
      val op = run.spans.newOp()
      settle()
      val cpu0 = cpuMs()
      val (ok, ms) = timeMs {
        try {
          run.spans(if (tick.isEmpty) "medallion.empty_tick" else "medallion.arrival", op) {
            graft.pipeline.Medallion.run(spark, landing.toString, mat)
          }
          true
        } catch {
          case e: Exception =>
            run.failures += s"tick ${tick.getOrElse("empty")}: $e"; false
        }
      }
      run.ops += Op(if (tick.isEmpty) "empty_tick" else "arrival", tick.fold("empty")(i => s"s$i"), ms, ok,
        cpuMs = cpuMs() - cpu0)
      for (b <- before; a <- run.snap()) {
        val written = Seq("stg_events", "int_latest", "dwh_daily").map(l =>
          bytesUnder(Paths.get(mat).resolve(l), t0))
        tickStats += ((tick.isEmpty, a.jobs - b.jobs, written.map(_._1),
          written.map(_._2).sum, landedBytes))
      }
    }
  }

  /** Final incremental mart == one-shot build over the same landed corpus:
    * exact on keys, counts, max and min; avg within 1e-3. */
  def check(): Unit = run.spans("check.medallion_oneshot") {
    val full = graft.pipeline.Medallion.run(spark, landing.toString,
      run.root.resolve("out/oneshot").toString)
    val inc = spark.read.parquet(s"$mat/dwh_daily")
    def keyed(df: DataFrame, t: String) = df.select(col("user_id_date"),
      col("day").as(s"day_$t"), col("n_events").as(s"n_$t"),
      col("max_value").as(s"max_$t"), col("min_value").as(s"min_$t"),
      col("avg_value").as(s"avg_$t"))
    def differs(a: String, b: String) = !(col(a) <=> col(b))
    val j = keyed(full, "f").join(keyed(inc, "i"), Seq("user_id_date"), "full")
      .agg(count(when(
        col("day_f").isNull || col("day_i").isNull || differs("n_f", "n_i") ||
        differs("max_f", "max_i") || differs("min_f", "min_i") ||
        differs("day_f", "day_i") ||
        coalesce(abs(col("avg_f") - col("avg_i")) > 0.001, lit(true)), 1)),
        count(lit(1)))
      .head()
    if (j.getLong(0) != 0 || j.getLong(1) == 0)
      run.wrong += s"incremental mart differs from one-shot build: ${j.getLong(0)} of ${j.getLong(1)} rows"
  }

  def layerMetrics(): Unit = {
    val L = run.layer
    def median(xs: Seq[Double]) =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
    val arr = tickStats.filter(!_._1)
    val emp = tickStats.filter(_._1)
    L("medallion.jobs_per_arrival") = median(arr.map(_._2.toDouble).toSeq)
    L("medallion.jobs_per_empty_tick") = median(emp.map(_._2.toDouble).toSeq)
    val n = math.max(1, arr.size)
    // per arrival: the written files are those new since its tick began
    Seq("stg", "int", "dwh").zipWithIndex.foreach { case (l, i) =>
      L(s"medallion.${l}_written_mb") = arr.map(_._3(i)).sum / Tracer.MB / n }
    L("medallion.files_written") = arr.map(_._4).sum.toDouble / n
    val landedB = arr.map(_._5).sum
    L("medallion.write_amplification") =
      if (landedB == 0) 0.0 else arr.map(_._3.sum).sum.toDouble / landedB
    val lat = run.ops.filter(o => o.kind == "arrival" && o.ok).map(_.ms).toSeq
    val q = math.max(1, lat.size / 4)
    L("medallion.latency_growth") =
      if (lat.size < 2) 1.0 else median(lat.takeRight(q)) / median(lat.take(q))
  }
}

/** Declared queries, batch and streaming, in seeded passes. */
final class QuerySweep(run: Main.Run) extends Workload {
  import Main._
  private val spark = run.spark
  private val outDir = run.root.resolve("out")
  private var persistedBuilds = 0
  private var batches = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  /** One untimed pass in declared order: builds the persisted indexes,
    * stages the streaming landing zones and pays every query's first-run
    * class loading and code generation, so the timed passes neither
    * depend on their seeded order nor include a build. */
  def setup(): Unit = SweepQueries.foreach { q =>
    run.spans(s"setup.$q") {
      SparkEntry.queries(q)(spark, run.data).write.format("noop").mode("overwrite").save()
    }
  }

  def measure(): Unit = {
    run.tracer.foreach { t => run.drain(); t.progress.batches.clear() }
    passes(run) { pass =>
      run.rng.shuffle(SweepQueries).foreach { q =>
        val dst = outDir.resolve(s"$q-p$pass").toString
        val pre = Bench.publishedIndexes(spark)
        val op = run.spans.newOp()
        settle()
        val cpu0 = cpuMs()
        val (ok, ms) = timeMs {
          try {
            run.spans(s"query.$q", op) {
              SparkEntry.queries(q)(spark, run.data).write.mode("overwrite").parquet(dst)
            }
            true
          } catch {
            case e: Exception => run.failures += s"$q pass $pass: $e"; false
          }
        }
        persistedBuilds += (Bench.publishedIndexes(spark) -- pre).size
        run.ops += Op("query", q, ms, ok, pass, cpuMs() - cpu0)
        if (ok) run.checks += ((q, dst))
      }
    }
    batches = run.tracer.toSeq.flatMap { t => run.drain(); t.progress.batches.asScala }
  }

  def check(): Unit = ()

  def layerMetrics(): Unit = {
    val L = run.layer
    val nPasses = math.max(1, run.ops.map(_.pass).max)
    def perPass(ops: collection.Seq[Op]) = ops.map(_.ms).sum / 1e3 / nPasses
    Packs.foreach { case (p, _) => L(s"sweep.${p}_s") = perPass(run.ops.filter(o => packOf(o.name) == p)) }
    L("sweep.total_s") = perPass(run.ops)
    L("sweep.persisted_builds") = persistedBuilds
    // streaming entries: per-micro-batch progress
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    val bs = batches
    val streamS = perPass(run.ops.filter(_.name.startsWith("streaming_")))
    val trig = bs.map(d(_, "triggerExecution")).sum
    L("streaming.batches") = bs.size
    L("streaming.input_rows") = bs.map(_.numInputRows.toDouble).sum
    L("streaming.wall_s") = streamS
    L("streaming.batch_p50_ms") = p50(bs.map(d(_, "triggerExecution")))
    L("streaming.batch_p90_ms") =
      if (bs.isEmpty) 0.0 else bs.map(d(_, "triggerExecution")).sorted.apply(bs.size * 9 / 10)
    L("streaming.commit_ms_p50") = p50(bs.map(p => d(p, "walCommit") + d(p, "commitOffsets")))
    L("streaming.planning_ms_p50") = p50(bs.map(d(_, "queryPlanning")))
    L("streaming.offsets_ms_p50") = p50(bs.map(p => d(p, "latestOffset") + d(p, "getBatch")))
    L("streaming.add_batch_ms_p50") = p50(bs.map(d(_, "addBatch")))
    L("streaming.machinery_share") =
      if (trig == 0) 0.0 else (trig - bs.map(d(_, "addBatch")).sum) / trig
    val state = bs.flatMap(_.stateOperators.toSeq)
    L("streaming.state_rows") = state.map(_.numRowsTotal.toDouble).sum
    L("streaming.state_commit_ms") = state.map(_.commitTimeMs.toDouble).sum
    L("streaming.state_mem_mb") = state.map(_.memoryUsedBytes.toDouble).sum / Tracer.MB
    L("streaming.outside_s") = streamS - trig / 1e3 / nPasses
  }
}
