package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

import graft.operators.MergeWriter

/** ScalaCheck properties over the write lifecycle (MergeWriter) —
  * the carrier of the reference's K2-K7 upsert semantics, which until
  * now were pinned on example frames only. Randomized batch splits, replays and boundary ties
  * sweep the input space the fixed specs can't.
  *
  * Version values are generated GLOBALLY UNIQUE so the per-key winner
  * is deterministic (the engine's tie-break — updates beat existing
  * at equal version — is pinned separately in MergeWriterSpec).
  */
object WritePropertySpec extends Properties("graft.writes") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = GraftSession.local(4)

  /** (id, ver, payload) rows: small key domain forces cross-batch key
    * collisions; ver is the global index (unique); payload derives
    * from both so winner rows are content-checkable.
    */
  private val rowsGen: Gen[List[(Int, Long, String)]] = for {
    n <- Gen.choose(1, 30)
    ids <- Gen.listOfN(n, Gen.choose(0, 7))
  } yield ids.zipWithIndex.map { case (id, i) =>
    (id, i.toLong, s"p-$id-$i")
  }

  /** Split `rows` into 1-4 contiguous batches at random cut points. */
  private def splitsGen(n: Int): Gen[List[Int]] =
    Gen.choose(0, 3).flatMap(k =>
      Gen.listOfN(k, Gen.choose(1, math.max(1, n - 1))).map(
        _.distinct.sorted))

  private def freshDir(): String = {
    val d = PlanDsl.tempDir("graft-prop-")
    d.toFile.deleteOnExit()
    d.resolve("t").toString
  }

  private def winners(rows: List[(Int, Long, String)]) =
    rows.groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }.toSet

  private def readTable(dir: String): Set[(Int, Long, String)] =
    spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet

  private def batchesOf(rows: List[(Int, Long, String)],
      cuts: List[Int]): List[List[(Int, Long, String)]] =
    (0 :: cuts).zip(cuts :+ rows.length).map { case (a, b) =>
      rows.slice(a, b)
    }.filter(_.nonEmpty)

  property("upsert: random batch splits + replays converge on the per-key max-version rows") =
    Prop.forAll(rowsGen, Gen.choose(0L, Long.MaxValue)) { (rows, seed) =>
      import spark.implicits._
      val cuts = splitsGen(rows.length)
        .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
        .getOrElse(Nil)
      val batches = batchesOf(rows, cuts)
      // a replay schedule: after the ordered run, re-apply a
      // pseudo-random subset of earlier batches (stale replays) — with
      // globally unique versions the winners must not move
      val replays = batches.zipWithIndex.filter { case (_, i) =>
        ((seed >>> (i % 60)) & 1L) == 1L
      }.map(_._1)
      val dir = freshDir()
      (batches ++ replays).foreach { b =>
        MergeWriter.upsert(spark, dir, b.toDF("id", "ver", "payload"),
          keys = Seq("id"), versionCols = Seq("ver"))
      }
      readTable(dir) == winners(rows)
    }

  property("upsertPartitioned equals flat upsert when the partition key is key-derived") =
    Prop.forAll(rowsGen) { rows =>
      import spark.implicits._
      // day derives from the KEY (the K7 `icao_date` shape): a key's
      // history lives in one partition, so partition-pruned merges see
      // every row the flat merge sees
      def withDay(b: List[(Int, Long, String)]) =
        b.map { case (id, v, p) =>
          (id, v, p, f"2024-01-${1 + id % 5}%02d") }
          .toDF("id", "ver", "payload", "day")
          .withColumn("day", col("day").cast("date"))
      val cuts = rows.length / 2
      val batches = batchesOf(rows, if (cuts >= 1) List(cuts) else Nil)
      val flat = freshDir(); val part = freshDir()
      batches.foreach { b =>
        MergeWriter.upsert(spark, flat, withDay(b),
          keys = Seq("id"), versionCols = Seq("ver"))
        MergeWriter.upsertPartitioned(spark, part, withDay(b),
          keys = Seq("id"), versionCols = Seq("ver"), partCol = "day")
      }
      val f = spark.read.parquet(flat)
        .select("id", "ver", "payload", "day")
      val p = spark.read.parquet(part)
        .select("id", "ver", "payload", "day")
      f.exceptAll(p).isEmpty && p.exceptAll(f).isEmpty
    }
}
