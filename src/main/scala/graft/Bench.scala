package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Fixed CPU-bound probe (data-independent: hashes a range) timed
    * before and after the query sweep. The host this runs on has
    * documented multi-minute degraded phases (r10 lost a full bench
    * capture to one); a canary that runs >3x its pinned clean time
    * stamps the artifact `"degraded": true` so a judge/builder never
    * diagnoses host weather as a plan regression.
    */
  val CanaryPinSec = 0.25 // clean runs measure 0.15-0.20 s of 2^21 hashes/thread

  /** Fixed fs-latency probe pin (r21, VERDICT r20 #2): the CPU canary
    * was blind to the envelope that moved the streaming/write classes
    * 16-137% in r20 (checkpoint WAL commits, tiny-file sink writes —
    * fsync-bound disk work, not compute). This probe times 200
    * create+write(256 B)+fsync cycles plus one directory listing under
    * java.io.tmpdir — the filesystem that actually carries the shuffle
    * local dirs, merge-sink parquet targets and the persisted-index
    * root (streaming checkpoints prefer /dev/shm; the DISK tmpdir is
    * the blind spot). Clean runs measure 0.09-0.10 s.
    */
  val FsPinSec = 0.10

  def fsCanary(): Double = {
    val dir = java.nio.file.Files.createTempDirectory("graft-fs-canary")
    val t0 = System.nanoTime()
    val buf = java.nio.ByteBuffer.allocate(256)
    (0 until 200).foreach { i =>
      val p = dir.resolve(s"f$i")
      val ch = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      buf.rewind(); ch.write(buf)
      ch.force(true) // fsync — the WAL/state-commit shape being probed
      ch.close()
    }
    val listed = java.nio.file.Files.list(dir)
    val n = listed.count(); listed.close()
    val elapsed = (System.nanoTime() - t0) / 1e9
    require(n == 200, s"fs canary listed $n of 200 files")
    // cleanup OUTSIDE the timed region
    val all = java.nio.file.Files.list(dir)
    all.forEach(p => java.nio.file.Files.delete(p)); all.close()
    java.nio.file.Files.delete(dir)
    elapsed
  }

  /** Published persisted artifact dirs (`graft-<label>-<sig>-<uuid>`
    * holding a `_DONE` marker) currently on the artifact root: indexes,
    * bucketed layouts, medallion bases and stream landing zones, so a
    * cold streaming row shows its zone's build in
    * `persisted_index_state`. Snapshot before/after each query so the
    * artifact itself says whether a row ran against a warm pre-built
    * artifact or paid a cold build —
    * the r19 BENCH tail was unreadable without cross-referencing
    * exactly because a 6 s `similarity_recall` could be either a warm
    * 1.6 s probe or a cold 8 s build+probe depending on whether a
    * previous process on the same machine left its index behind.
    */
  def publishedIndexes(spark: SparkSession): Set[String] = {
    import org.apache.hadoop.fs.Path
    val rootDir = graft.operators.Persisted.root(spark)
    val f = rootDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(f.globStatus(new Path(rootDir, "graft-*/_DONE"))).toSet.flatten
      .map(_.getPath.getParent.getName)
  }
  def canary(spark: SparkSession, threads: Int): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    // work scales WITH the thread count (2^21 hashes per thread), so
    // the wall time — and the pin — is width-independent: a 4-core
    // tuning run and the 32-core driver run measure the same probe
    spark.range(0, threads.toLong << 21, 1, threads)
      .select(xxhash64(col("id")).as("h"))
      .agg(expr("bit_xor(h)")) // xor cannot overflow under ANSI mode
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(GraftSession.DefaultCores)(_.toInt)
    val spark = GraftSession.prepare(GraftSession.local(cpus))
    // optional comma-separated subset for targeted tuning runs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1) // deterministic execution order
    // untimed warmup: JVM/codegen/parquet-reader init (~4s) otherwise
    // lands entirely on whichever query happens to run first
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // same for the streaming machinery (MicroBatchExecution + state
    // store class-init, ~3.5s): run a one-row file-source stream once,
    // untimed, so the first streaming query isn't billed for it
    if (selected.exists(_._1.startsWith("streaming_"))) {
      val warmDir = java.nio.file.Files.createTempDirectory("graft-warm")
      import spark.implicits._
      Seq(1L).toDF("x").write.parquet(warmDir.resolve("d").toString)
      val q = spark.readStream.schema("x LONG").parquet(warmDir.resolve("d").toString)
        .groupBy("x").count()
        .writeStream.format("memory").queryName("graft_warmup")
        .outputMode("update")
        .option("checkpointLocation", warmDir.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    canary(spark, cpus) // untimed: first call pays probe-plan codegen
    fsCanary() // untimed: first call pays dir-entry/page-cache warmup
    val canaryStart = canary(spark, cpus)
    val fsStart = fsCanary()
    val results = selected.map { case (name, fn) =>
      val idxPre = publishedIndexes(spark)
      val t0 = System.nanoTime()
      // noop sink, NOT count(): count() lets Catalyst prune the work
      // being measured — ColumnPruning drops every unreferenced
      // projection (a map-only query times as a metadata row count),
      // EliminateSorts removes the final orderBy — while the DuckDB
      // anchor fetches full results. The noop write executes the
      // COMPLETE physical plan (all columns, final sort) and discards
      // rows executor-side, which is the honest apples-to-apples
      // timing.
      val ok = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        true
      } catch {
        // a broken query must be visible, not a near-zero "speedup" —
        // but FATAL JVM errors (OOM) must not keep benchmarking in a
        // damaged JVM whose remaining timings would be garbage
        case e: Throwable if scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] QUERY FAILED: $name: $e")
          false
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      val idxNew = publishedIndexes(spark) -- idxPre
      // drop per-query cached data + collect garbage so one query's
      // heap churn doesn't bill the next query's timing
      spark.catalog.clearCache()
      System.gc()
      (name, if (ok) elapsed else -elapsed, ok, idxPre.size, idxNew.size)
    }
    val qs = results.map { case (k, v, _, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false, _, _) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    // self-adjudication (VERDICT r19 #3): `pre` = published persisted
    // indexes on the artifact root before the row ran (warm state a
    // previous process may have left), `built` = indexes this row
    // published (it paid a cold build inside its timing). A judge can
    // read "similarity_recall 6 s, built 1" as cold-with-build in
    // place, without cross-referencing committed medians.
    //
    // r21 (VERDICT r20 #4): only rows that BUILT an index are emitted,
    // plus the run's starting `pre` count. That is the complete series:
    // `pre` only ever changes by a build (pre[i+1] = pre[i] + built[i]),
    // so `pre_start` + the built rows reconstruct every row's warm
    // state. (The first r21 cut compared `pre` to the run-wide mode,
    // but `pre` drifts up with each mid-run build, so on a cold machine
    // nearly every row differed from the mode and the 150-entry map
    // still crowded the per-query seconds out of the visible tail.)
    val preStart = results.headOption.map(_._4).getOrElse(0)
    val persisted = results
      .collect { case (k, _, _, pre, built) if built > 0 =>
        s"\"" + k + s"\":{\"pre\":$pre,\"built\":$built}" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, true, _, _) => v }.sum
    // degradation can start mid-sweep: probe both ends of the run
    val canaryEnd = canary(spark, cpus)
    val fsEnd = fsCanary()
    val degraded = math.max(canaryStart, canaryEnd) > 3 * CanaryPinSec
    // the canary-to-pin multiplier, stamped so the single-run artifact
    // carries its own host-weather adjudication (row seconds divide by
    // this before being compared across rounds). fs_factor is the
    // disk-latency twin (r21): streaming/write rows track IT, not the
    // CPU factor — r20's regression rows moved 16-137% under a clean
    // CPU canary.
    val hostFactor = math.max(canaryStart, canaryEnd) / CanaryPinSec
    val fsFactor = math.max(fsStart, fsEnd) / FsPinSec
    // queries LAST (r21): the per-query seconds are the artifact's
    // payload and must survive tail-truncated captures
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"canary_sec":[$canaryStart,$canaryEnd],"canary_pin":$CanaryPinSec,"host_factor":$hostFactor,"fs_canary_sec":[$fsStart,$fsEnd],"fs_pin":$FsPinSec,"fs_factor":$fsFactor,"degraded":$degraded,"persisted_pre_start":$preStart,"persisted_index_state":$persisted,"sf":"$sfDir","queries":$qs}""")
    spark.stop()
  }
}
