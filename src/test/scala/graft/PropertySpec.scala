package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import org.apache.spark.sql.graft.PlanDsl

import graft.operators.{LatestPerKey, MergeWriter}
import graft.ref.LatestPerKeyRef

/** ScalaCheck properties over the incremental/merge machinery
  * (SURVEY §5: idempotence of merge writes is exactly the bug class
  * the reference cannot catch).
  */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = GraftSession.local(4)

  private val rowGen: Gen[(Long, Long, String)] = for {
    id <- Gen.choose(0L, 15L)
    v <- Gen.choose(0L, 1000000L)
    p <- Gen.alphaStr.map(_.take(6))
  } yield (id, v, p)

  private val batchGen: Gen[List[(Long, Long, String)]] =
    Gen.listOfN(25, rowGen).map(
      // unique (id, version) so keep-latest is a total function
      _.groupBy(r => (r._1, r._2)).values.map(_.head).toList)

  private def df(rows: List[(Long, Long, String)]) = {
    import spark.implicits._
    rows.toDF("id", "v", "p")
  }

  property("upsert replay is idempotent") = Prop.forAll(batchGen) { rows =>
    val dir = PlanDsl.tempDir("graft-prop").resolve("t").toString
    val b = df(rows)
    MergeWriter.upsert(spark, dir, b, Seq("id"), Seq("v"))
    val once = spark.read.parquet(dir).collect().toSet
    MergeWriter.upsert(spark, dir, b, Seq("id"), Seq("v"))
    val twice = spark.read.parquet(dir).collect().toSet
    once == twice
  }

  property("upsert of split batches == latest-per-key of the union") =
    Prop.forAll(batchGen) { rows =>
      val dir = PlanDsl.tempDir("graft-prop").resolve("t").toString
      val (b1, b2) = rows.splitAt(rows.length / 2)
      // global version uniqueness so batch order cannot matter
      val u1 = b1.zipWithIndex.map { case ((i, v, p), n) => (i, v * 2, p) }
      val u2 = b2.zipWithIndex.map { case ((i, v, p), n) => (i, v * 2 + 1, p) }
      MergeWriter.upsert(spark, dir, df(u1), Seq("id"), Seq("v"))
      MergeWriter.upsert(spark, dir, df(u2), Seq("id"), Seq("v"))
      val merged = spark.read.parquet(dir).collect().toSet
      val expected = LatestPerKey(df(u1 ++ u2), Seq("id"), Seq("v")).collect().toSet
      merged == expected
    }

  property("max_by latest == window latest") = Prop.forAll(batchGen) { rows =>
    val d = df(rows)
    val a = LatestPerKey(d, Seq("id"), Seq("v", "p")).collect().toSet
    val b = LatestPerKeyRef.viaWindow(d, Seq("id"), Seq("v", "p")).collect().toSet
    a == b
  }
}
