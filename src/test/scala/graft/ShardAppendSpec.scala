package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

import graft.streaming.Streams

class ShardAppendSpec extends SparkSpec {
  import spark.implicits._

  private def layout(data: String) =
    spark.read.parquet(data)
      .select(col("doc_id"), col("arrival_batch"),
        col("shard").cast("long").as("shard"), col("pos_in_shard"))
      .orderBy("doc_id").collect().toSeq

  test("shard append: ids continue across batches, none rewritten") {
    val root = PlanDsl.tempDir("graft-sa").toString
    val (data, counts) = (s"$root/data", s"$root/counts")
    val b0 = (1L to 130L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val b1 = (201L to 280L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    Streams.applyShardBatch(b0, 0L, data, counts, docsPerShard = 50, "t0")
    val after0 = layout(data)
    // batch 0: 130 docs -> shards 0..2 (last partial)
    assert(after0.map(_.getLong(2)).distinct.sorted === Seq(0L, 1L, 2L))
    Streams.applyShardBatch(b1, 1L, data, counts, docsPerShard = 50, "t0")
    val after1 = layout(data)
    // batch 1 seals shards 3..4; batch 0's layout is byte-identical
    // (appended, never rewritten)
    assert(after1.filter(_.getLong(1) == 0L) === after0)
    assert(after1.map(_.getLong(2)).distinct.sorted === (0L to 4L))
  }

  test("shard append: an EMPTY batch seals nothing and later ids continue unbroken") {
    // the empty-batch recovery path (a pmod residue with no doc_ids)
    // drives the whole rank pipeline — including the r20
    // analytic-bucket global rank and its driver offsets map — over a
    // zero-row frame; it must commit a 0-shard manifest, write no
    // data, and leave the NEXT batch's shard offset where the previous
    // non-empty batch put it
    val root = PlanDsl.tempDir("graft-sa-e").toString
    val (data, counts) = (s"$root/data", s"$root/counts")
    val b0 = (1L to 60L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val empty = b0.filter(lit(false))
    val b2 = (101L to 140L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    Streams.applyShardBatch(b0, 0L, data, counts, 50, "t0")
    Streams.applyShardBatch(empty, 1L, data, counts, 50, "t0")
    Streams.applyShardBatch(b2, 2L, data, counts, 50, "t0")
    val rows = layout(data)
    // batch 0 sealed shards 0-1; the empty batch sealed none; batch 2
    // continues at shard 2 — no gap, no overlap
    assert(rows.map(_.getLong(2)).distinct.sorted === Seq(0L, 1L, 2L))
    assert(rows.filter(_.getLong(1) == 1L).isEmpty,
      "an empty batch must contribute no rows")
    assert(rows.filter(_.getLong(1) == 2L).map(_.getLong(2)).distinct
      === Seq(2L))
    // the manifest records the empty batch explicitly with 0 shards
    // (read through the same driver-side reader the offset path uses)
    val manifest = Streams.readShardManifest(spark, counts)
    assert(manifest === Map(0L -> 2L, 1L -> 0L, 2L -> 1L))
  }

  test("shard append: a replayed batch overwrites exactly itself") {
    val root = PlanDsl.tempDir("graft-sa-r").toString
    val (data, counts) = (s"$root/data", s"$root/counts")
    val b0 = (1L to 60L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val b1 = (101L to 170L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    Streams.applyShardBatch(b0, 0L, data, counts, 50, "t0")
    Streams.applyShardBatch(b1, 1L, data, counts, 50, "t0")
    val committed = layout(data)
    // crash-between-sink-and-checkpoint: batch 1 is applied AGAIN
    Streams.applyShardBatch(b1, 1L, data, counts, 50, "t0")
    assert(layout(data) === committed)
    // and still one file per shard dir after the replay
    val files = spark.read.parquet(data)
      .select(col("shard"), col("_metadata.file_path").as("_f"))
      .groupBy("shard").agg(countDistinct(col("_f")).as("n"))
      .filter(col("n") =!= 1L).count()
    assert(files === 0L)
  }
}
