package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl
import org.apache.spark.sql.streaming.Trigger

/** The production trigger path: the reference's 30-min cron cadence
  * maps to `Trigger.ProcessingTime` (a long-lived query firing
  * micro-batches on a wall-clock interval), while every declared
  * streaming query runs `AvailableNow` for bounded test runs. This
  * spec exercises the ProcessingTime path for real: a live query on a
  * short interval consumes files as they arrive, commits multiple
  * micro-batches, and the idempotent merge sink converges to the same
  * state a batch upsert of the same data reaches (T7/T8).
  */
class ProcessingTimeSpec extends SparkSpec {

  private def waitUntil(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (cond) return true
      Thread.sleep(100)
    }
    cond
  }

  test("ProcessingTime trigger commits multiple micro-batches into the merge sink") {
    import spark.implicits._
    val in = PlanDsl.tempDir("pt-in").toString
    val target = PlanDsl.tempDir("pt-out").resolve("t").toString
    val ckpt = PlanDsl.tempDir("pt-ckpt").toString

    def writeFile(rows: Seq[(Long, Long)], name: String): Unit = {
      val tmp = PlanDsl.tempDir("pt-stage").toString
      rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.startsWith("part-")).head
      Files.copy(part.toPath, java.nio.file.Paths.get(in, name))
    }

    // first file exists before start so batch 0 has data
    writeFile(Seq((1L, 10L), (2L, 10L)), "a.parquet")

    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = spark.readStream
      .schema("id LONG, v LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.MergeWriter.upsert(batch.sparkSession, target,
          batch, Seq("id"), Seq("v"))
      }
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      assert(waitUntil(30000)(q.recentProgress.exists(_.numInputRows > 0)),
        "first micro-batch never committed")
      // second file lands while the query is LIVE — only the
      // ProcessingTime loop can pick it up (no restart, no AvailableNow
      // drain); key 2 is updated, key 3 is new
      writeFile(Seq((2L, 20L), (3L, 20L)), "b.parquet")
      assert(waitUntil(30000) {
        q.recentProgress.count(_.numInputRows > 0) >= 2
      }, "second micro-batch never committed")
      assert(waitUntil(30000) {
        spark.catalog.refreshByPath(target)
        val t = spark.read.parquet(target)
        t.count() == 3 &&
          t.filter(col("id") === 2 && col("v") === 20).count() == 1
      }, "merge sink did not converge to the upserted state")
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", saved)
    }
    // idempotence (T7): replaying the same data as one batch upsert
    // lands on the identical table
    graft.operators.MergeWriter.upsert(spark, target,
      Seq((1L, 10L), (2L, 10L), (2L, 20L), (3L, 20L)).toDF("id", "v"),
      Seq("id"), Seq("v"))
    val fin = spark.read.parquet(target).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fin === Seq((1L, 10L), (2L, 20L), (3L, 20L)))
  }
}
