package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Incremental, MergeWriter}

/** Merge-sink contract (K2/K4-K7): replay idempotence, update-wins,
  * schema widening on append, and the empty-target watermark default
  * that fixes the reference's latent `int` bug (SURVEY §5 / §7.4).
  */
class MergeWriterSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-test-merge").resolve("t").toString

  test("upsert is idempotent under replay (K2)") {
    import spark.implicits._
    val dir = tmp()
    val batch = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "v", "payload")
    MergeWriter.upsert(spark, dir, batch, Seq("id"), Seq("v"))
    MergeWriter.upsert(spark, dir, batch, Seq("id"), Seq("v"))
    val got = spark.read.parquet(dir)
    assert(got.count() === 2)
  }

  test("newer version wins; updates beat existing on version tie") {
    import spark.implicits._
    val dir = tmp()
    MergeWriter.upsert(spark, dir,
      Seq((1L, 10L, "old"), (2L, 20L, "keep")).toDF("id", "v", "payload"),
      Seq("id"), Seq("v"))
    MergeWriter.upsert(spark, dir,
      Seq((1L, 10L, "tie-update"), (2L, 19L, "stale")).toDF("id", "v", "payload"),
      Seq("id"), Seq("v"))
    val got = spark.read.parquet(dir).orderBy("id")
      .select("payload").as[String].collect()
    assert(got.toSeq === Seq("tie-update", "keep"))
  }

  test("append widens schema (K5 on_schema_change=append_new_columns)") {
    import spark.implicits._
    val dir = tmp()
    MergeWriter.append(spark, dir, Seq((1L, "x")).toDF("id", "a"))
    MergeWriter.append(spark, dir, Seq((2L, "y", 3.0)).toDF("id", "a", "b"))
    val got = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(got.columns.toSet === Set("id", "a", "b"))
    assert(got.filter(col("id") === 1 && col("b").isNull).count() === 1)
  }

  test("empty-target watermark admits all rows (reference int-layer bug fixed)") {
    import spark.implicits._
    val source = Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-01-02 00:00:00"))
      .toDF("id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val emptyTarget = source.filter(lit(false))
    val got = Incremental.aboveWatermark(source, emptyTarget, "ts")
    assert(got.count() === 2)
  }

  test("strict > vs inclusive >= watermark boundaries (F2 vs F3)") {
    import spark.implicits._
    val df = Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-01-02 00:00:00"))
      .toDF("id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    assert(Incremental.aboveWatermark(df, df, "ts").count() === 0)
    assert(Incremental.aboveWatermark(df, df, "ts", inclusive = true).count() === 1)
  }

  test("partitioned upsert rewrites only touched partitions") {
    import spark.implicits._
    val dir = tmp()
    val b1 = (1L to 40L)
      .map(id => (id, if (id % 2 == 0) "2024-01-02" else "2024-01-01", 10L))
      .toDF("id", "day", "v")
    val b2 = Seq((2L, "2024-01-02", 11L)).toDF("id", "day", "v")
    // with AQE coalescing on, these tiny shuffle outputs land in one task
    // whatever the merge does; off, a day's rows span every shuffle
    // partition unless the merge co-locates them
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try {
      MergeWriter.upsertPartitioned(spark, dir, b1, Seq("id"), Seq("v"), "day")
      MergeWriter.upsertPartitioned(spark, dir, b2, Seq("id"), Seq("v"), "day")
    } finally spark.conf.set(coalesce, prior)
    val got = spark.read.parquet(dir).orderBy("id")
    assert(got.count() === 40)
    assert(got.filter(col("id") === 2).select("v").head().getLong(0) === 11L)
    // each touched day dir (both by the first build, 01-02 again by the
    // merge) holds exactly one data file
    Seq("2024-01-01", "2024-01-02").foreach { day =>
      val files = new java.io.File(dir, s"day=$day").listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      assert(files.length === 1, s"day=$day holds ${files.length} data files")
    }
  }

  test("partitioned upsert partition-PRUNES the target scan (plan guard)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dir = tmp()
    val b1 = Seq((1L, "2024-01-01", 10L), (2L, "2024-01-02", 10L),
      (3L, "2024-01-03", 10L)).toDF("id", "day", "v")
    MergeWriter.upsertPartitioned(spark, dir, b1, Seq("id"), Seq("v"), "day")
    // capture every plan the merge executes; the guard is on the scan
    // of the TARGET dir inside the merge write — at 100 TB a refactor
    // that drops the isInCollection prune (e.g. to a non-pushable join)
    // silently full-scans the mart, and only the plan can prove it
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val dirName = new java.io.File(dir).getName
    spark.listenerManager.register(ql)
    try {
      val b2 = Seq((2L, "2024-01-02", 11L)).toDF("id", "day", "v")
      MergeWriter.upsertPartitioned(spark, dir, b2, Seq("id"), Seq("v"), "day")
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
      // AQE hides materialized stages behind QueryStageExec leaves, so
      // a plain collect never reaches the scan — recurse through them
      def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
        case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(q.plan)
        case s: FileSourceScanExec if s.relation.location.rootPaths
          .exists(_.toString.contains(dirName)) => Seq(s)
      }.flatten
      val scans = plans.toArray(Array.empty[SparkPlan]).flatMap(scansOf)
      assert(scans.nonEmpty, "merge executed no captured scan of the target")
      scans.foreach { s =>
        assert(s.partitionFilters.nonEmpty,
          s"target scan lost its PartitionFilters: ${s.simpleString(120)}")
        val selected = s.selectedPartitions.partitionCount
        assert(selected === 1,
          s"expected 1 pruned partition (day=2024-01-02), scan listed $selected")
      }
    } finally spark.listenerManager.unregister(ql)
  }

  /** Recursive (path, size, mtime, checksum-ish first bytes) listing of
    * a partition dir, to prove byte-level no-touch.
    */
  private def fileState(root: java.io.File): Seq[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).filterNot(_.getName.startsWith("."))
      .map(f => (f.getAbsolutePath, f.length(), f.lastModified())).sortBy(_._1)
  }

  test("partitioned upsert leaves untouched partitions byte-identical") {
    import spark.implicits._
    val dir = tmp()
    val b1 = Seq((1L, "2024-01-01", 10L), (2L, "2024-01-02", 10L),
      (3L, "2024-01-03", 10L)).toDF("id", "day", "v")
    MergeWriter.upsertPartitioned(spark, dir, b1, Seq("id"), Seq("v"), "day")
    val before = fileState(new java.io.File(dir, "day=2024-01-01"))
    assert(before.nonEmpty)
    // merge touching only day 02 and a brand-new day 04
    val b2 = Seq((2L, "2024-01-02", 11L), (4L, "2024-01-04", 10L))
      .toDF("id", "day", "v")
    MergeWriter.upsertPartitioned(spark, dir, b2, Seq("id"), Seq("v"), "day")
    val after = fileState(new java.io.File(dir, "day=2024-01-01"))
    assert(after === before) // same files, same sizes, same mtimes
    val got = spark.read.parquet(dir)
    assert(got.count() === 4)
    assert(got.filter(col("id") === 2).select("v").head().getLong(0) === 11L)
    // no leftover tmp/old dirs from the swap dance
    val leftovers = new java.io.File(dir).getParentFile.listFiles()
      .map(_.getName).filter(n => n.contains(".merge.tmp") || n.endsWith(".old"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("partitioned upsert preserves existing NULL-partition rows") {
    import spark.implicits._
    val dir = tmp()
    // base load: one real day plus two rows in the null partition
    val b1 = Seq((1L, Some("2024-01-01"), 10L), (2L, None, 10L),
      (3L, None, 10L)).toDF("id", "day", "v")
    MergeWriter.upsertPartitioned(spark, dir, b1, Seq("id"), Seq("v"), "day")
    // the update batch touches the null partition (updates id 2) — the
    // untouched null-partition row (id 3) must SURVIVE the swap: isin
    // alone evaluates NULL against null rows and would stage the
    // __HIVE_DEFAULT_PARTITION__ dir without it
    val b2 = Seq((2L, None: Option[String], 11L)).toDF("id", "day", "v")
    MergeWriter.upsertPartitioned(spark, dir, b2, Seq("id"), Seq("v"), "day")
    val got = spark.read.parquet(dir)
    assert(got.count() === 3)
    assert(got.filter(col("id") === 2).select("v").head().getLong(0) === 11L)
    assert(got.filter(col("id") === 3).count() === 1,
      "pre-existing null-partition row was dropped by the merge")
  }

  test("compact shrinks a fragmented table without changing its contents") {
    import spark.implicits._
    val dir = tmp()
    // 32 tiny files
    (1 to 320).map(i => (i.toLong, s"row$i")).toDF("id", "s")
      .repartition(32).write.parquet(dir)
    def files() = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files() === 32)
    val before = spark.read.parquet(dir).orderBy("id").collect().toSeq
    MergeWriter.compact(spark, dir) // 128 MB target -> 1 file here
    assert(files() === 1)
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq === before)
    // stable under repetition
    MergeWriter.compact(spark, dir)
    assert(files() === 1)
    // no leftover swap dirs
    val leftovers = new java.io.File(dir).getParentFile.listFiles()
      .map(_.getName).filter(n => n.contains(".tmp") || n.endsWith(".old"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("compact preserves a hive-partitioned layout (per-partition rewrite)") {
    import spark.implicits._
    val dir = tmp()
    // fragmented partitioned table: 8 files per day= dir
    (1 to 160).map(i => (i.toLong, s"2024-01-0${i % 2 + 1}", i.toLong))
      .toDF("id", "day", "v")
      .repartition(8).write.partitionBy("day").parquet(dir)
    val root = new java.io.File(dir)
    def dayDirs() = root.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("day="))
    assert(dayDirs().forall(_.listFiles()
      .count(_.getName.endsWith(".parquet")) === 8))
    val before = spark.read.parquet(dir).orderBy("id").collect().toSeq
    MergeWriter.compact(spark, dir)
    // layout preserved: still two day= dirs, one file each, nothing flat
    assert(dayDirs().map(_.getName).sorted.toSeq ===
      Seq("day=2024-01-01", "day=2024-01-02"))
    assert(dayDirs().forall(_.listFiles()
      .count(_.getName.endsWith(".parquet")) === 1))
    assert(root.listFiles().count(_.getName.endsWith(".parquet")) === 0)
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq === before)
    // a later partition swap still works against the compacted layout
    MergeWriter.upsertPartitioned(spark, dir,
      Seq((1L, "2024-01-02", 999L)).toDF("id", "day", "v"),
      Seq("id"), Seq("v"), "day")
    val got = spark.read.parquet(dir)
    assert(got.count() === 160)
    assert(got.filter(col("id") === 1).select("v").head().getLong(0) === 999L)
    // no staging/old leftovers inside the root — and the ones that do
    // exist transiently are dot-prefixed, invisible to discovery
    val inside = root.listFiles().map(_.getName)
      .filter(n => n.contains(".tmp") || n.contains(".old"))
    assert(inside.isEmpty, inside.mkString(","))
  }

  test("compact preserves a MULTI-LEVEL hive layout (leaf-partition rewrite)") {
    import spark.implicits._
    val dir = tmp()
    // two-level layout a=X/b=Y, 4 files per leaf
    (1 to 80).map(i => (i.toLong, (i % 2).toString, (i % 3).toString))
      .toDF("id", "a", "b")
      .repartition(4).write.partitionBy("a", "b").parquet(dir)
    val root = new java.io.File(dir)
    def leafDirs() = root.listFiles().filter(_.getName.startsWith("a="))
      .flatMap(_.listFiles()).filter(f =>
        f.isDirectory && f.getName.startsWith("b="))
    assert(leafDirs().length === 6)
    val before = spark.read.parquet(dir).orderBy("id").collect().toSeq
    MergeWriter.compact(spark, dir)
    // nested structure intact: a= dirs contain ONLY b= dirs, one file each
    assert(leafDirs().length === 6)
    assert(leafDirs().forall(_.listFiles()
      .count(_.getName.endsWith(".parquet")) === 1))
    assert(root.listFiles().filter(_.getName.startsWith("a=")).forall(
      _.listFiles().filterNot(f => f.getName.startsWith(".") ||
        f.getName.startsWith("_")).forall(f =>
        f.isDirectory && f.getName.startsWith("b="))))
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq === before)
  }

  test("maxDayPartition: listing-only max, null partition ignored") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "2024-01-02"), (2L, "2024-01-10"), (3L, null))
      .toDF("id", "day")
      .write.partitionBy("day").parquet(dir)
    assert(MergeWriter.maxDayPartition(spark, dir, "day")
      === Some("2024-01-10"))
    assert(MergeWriter.maxDayPartition(spark, dir + "-missing", "day")
      === None)
  }

  test("partitioned merge refuses an unpartitioned legacy target loudly") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir) // no 'day' column
    val up = Seq((2L, "b", "2024-01-01")).toDF("id", "v", "day")
    val e = intercept[IllegalArgumentException] {
      MergeWriter.upsertPartitioned(spark, dir, up,
        keys = Seq("id"), versionCols = Seq("v"), partCol = "day")
    }
    assert(e.getMessage.contains("written unpartitioned"))
  }

  test("fresh empty partitioned merge writes nothing (no schema-less dir)") {
    import spark.implicits._
    val dir = tmp()
    val empty = Seq.empty[(Long, String, String)].toDF("id", "v", "day")
    MergeWriter.upsertPartitioned(spark, dir, empty,
      keys = Seq("id"), versionCols = Seq("v"), partCol = "day")
    assert(!MergeWriter.exists(spark, dir))
    // and the table appears normally once real rows arrive
    MergeWriter.upsertPartitioned(spark, dir,
      Seq((1L, "a", "2024-01-01")).toDF("id", "v", "day"),
      keys = Seq("id"), versionCols = Seq("v"), partCol = "day")
    assert(spark.read.parquet(dir).count() === 1)
  }

  test("touched-partition collect is bounded: loud failure past the cap") {
    import spark.implicits._
    // the guarded collect every rescope goes through (upsertPartitioned's
    // touched values, Medallion's touched days): partition values are
    // metadata-sized; a per-row column handed in as the partition key
    // must fail fast, not stream row count to the driver
    val perRow = (1 to 50).map(i => (i.toLong, s"k$i")).toDF("id", "day")
    val e = intercept[IllegalArgumentException] {
      MergeWriter.boundedPartitionValues(perRow, "day", max = 10)
    }
    assert(e.getMessage.contains("not partition-grained"))
    // at or under the cap: the values come back complete
    val ok = MergeWriter.boundedPartitionValues(
      perRow.filter(col("id") <= 10), "day", max = 10)
    assert(ok.toSet === (1 to 10).map(i => s"k$i").toSet)
    // the production cap admits any sane calendar (274 years of days)
    assert(MergeWriter.MaxCollectedPartitionValues === 100000)
  }

  test("partition swap staging is never visible to partition discovery") {
    import spark.implicits._
    val dir = tmp()
    (1 to 40).map(i => (i.toLong, s"2024-01-0${i % 2 + 1}", i.toLong))
      .toDF("id", "day", "v")
      .repartition(4).write.partitionBy("day").parquet(dir)
    MergeWriter.compact(spark, dir)
    // everything non-hidden under the root must be a real partition dir
    val visible = new java.io.File(dir).listFiles()
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(visible.forall(f => f.isDirectory && f.getName.matches("day=[^.]+")),
      visible.map(_.getName).mkString(","))
    assert(spark.read.parquet(dir).count() === 40)
  }
}
