package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

import graft.operators.MergeWriter

/** Merge-sink contract (K2/K4-K7): replay idempotence, update-wins,
  * schema widening on append, partition-scoped merges and their
  * crash-recoverable swaps.
  */
class MergeWriterSpec extends SparkSpec {

  private def tmp(): String =
    PlanDsl.tempDir("graft-test-merge").resolve("t").toString

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
    // fragmented layout: 4 files per day= dir
    (1 to 40).map(i => (i.toLong, s"2024-01-0${i % 2 + 1}", i.toLong))
      .toDF("id", "day", "v")
      .repartition(4).write.partitionBy("day").parquet(dir)
    MergeWriter.upsertPartitioned(spark, dir,
      Seq((1L, "2024-01-02", 999L)).toDF("id", "day", "v"),
      Seq("id"), Seq("v"), "day")
    // everything non-hidden under the root must be a real partition dir
    val visible = new java.io.File(dir).listFiles()
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(visible.forall(f => f.isDirectory && f.getName.matches("day=[^.]+")),
      visible.map(_.getName).mkString(","))
    val got = spark.read.parquet(dir)
    assert(got.count() === 40)
    assert(got.filter(col("id") === 1).select("v").head().getLong(0) === 999L)
    // no staging/old leftovers inside the root once the swap is done
    val inside = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.contains(".tmp") || n.contains(".old"))
    assert(inside.isEmpty, inside.mkString(","))
  }

  /** Rename `dir` to its `.<name>.old` copy: the state a swap leaves
    * when it dies between its two renames.
    */
  private def crashMidSwap(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.rename(p, new org.apache.hadoop.fs.Path(p.getParent,
      s".${p.getName}.old")))
  }

  test("a table left at its .old name by a crashed swap survives the next upsert") {
    import spark.implicits._
    val dir = tmp()
    MergeWriter.upsert(spark, dir,
      Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("id", "v", "payload"),
      Seq("id"), Seq("v"))
    crashMidSwap(dir)
    MergeWriter.upsert(spark, dir,
      Seq((2L, 11L, "b2"), (3L, 10L, "c")).toDF("id", "v", "payload"),
      Seq("id"), Seq("v"))
    val got = spark.read.parquet(dir).orderBy("id")
      .select("payload").as[String].collect().toSeq
    assert(got === Seq("a", "b2", "c"))
    assert(!new java.io.File(new java.io.File(dir).getParentFile, ".t.old").exists())
  }

  test("a day left at its .old name by a crashed partition swap survives the next merge") {
    import spark.implicits._
    val dir = tmp()
    MergeWriter.upsertPartitioned(spark, dir,
      Seq((1L, "2024-01-01", 10L), (2L, "2024-01-02", 10L),
        (3L, "2024-01-02", 10L)).toDF("id", "day", "v"),
      Seq("id"), Seq("v"), "day")
    crashMidSwap(s"$dir/day=2024-01-02")
    MergeWriter.upsertPartitioned(spark, dir,
      Seq((3L, "2024-01-02", 11L), (4L, "2024-01-02", 10L)).toDF("id", "day", "v"),
      Seq("id"), Seq("v"), "day")
    val got = spark.read.parquet(dir).orderBy("id")
      .select("id", "v").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 10L), (2L, 10L), (3L, 11L), (4L, 10L)))
    assert(!new java.io.File(dir, ".day=2024-01-02.old").exists())
  }
}
