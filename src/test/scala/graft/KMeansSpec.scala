package graft

import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.ext.KMeans
import graft.functions.Vectors
import graft.ref.KMeansRef

/** Round-14 map-only nearest-centroid assignment
  * (`graft_assign_nearest`) vs the k×-expand + rank-window form:
  * identical assignments on the corpus and on the NaN edge, and the
  * window gone from the fit plan.
  */
class KMeansSpec extends SparkSpec {
  import spark.implicits._

  private def corpusPieces = {
    val base = Tables.embeddings(spark, sf)
      .select(col("label").as("cluster"), col("vec_id"), col("embedding"))
    val vecs = Vectors.unitized(base, "embedding", "vec_id" -> "vec_id")
    val cents = KMeans.centroidsOf(
      vecs.join(base.select(col("vec_id"), col("cluster")), "vec_id"))
    (vecs, cents)
  }

  test("native assignment equals the window form on the corpus") {
    val (vecs, cents) = corpusPieces
    val nat = KMeans.assign(vecs, cents, "vec_id")
      .select("vec_id", "cluster", "similarity")
    val win = KMeansRef.assignWindow(vecs, cents, "vec_id")
      .select("vec_id", "cluster", "similarity")
    assert(nat.exceptAll(win).isEmpty && win.exceptAll(nat).isEmpty)
  }

  test("zero vector: native assignment is total where the window twin throws") {
    // unitized passes a zero vector through -> cosine is 0/0. Under
    // ANSI mode (Spark 4 default) the composed Column form THROWS
    // DIVIDE_BY_ZERO — the twin is partial on an input the real
    // corpus never produces. The native argmax is deliberately total:
    // NaN ranks greatest (Spark's DESC double order), all k tie, the
    // cluster-sorted model resolves to the FIRST cluster, and the NaN
    // similarity is surfaced rather than a crash.
    val df = Seq(
      (1L, Array(0.0, 0.0), "a"),
      (2L, Array(1.0, 0.0), "a"),
      (3L, Array(0.0, 1.0), "b")).toDF("vec_id", "embedding", "label")
    val base = df.select(col("label").as("cluster"), col("vec_id"),
      col("embedding"))
    val vecs = Vectors.unitized(base, "embedding", "vec_id" -> "vec_id")
    val cents = KMeans.centroidsOf(
      vecs.join(base.select(col("vec_id"), col("cluster")), "vec_id"))
    val thrown = intercept[Exception] {
      KMeansRef.assignWindow(vecs, cents, "vec_id").collect()
    }
    assert(thrown.getMessage.contains("DIVIDE_BY_ZERO"))
    val zeroRow = KMeans.assign(vecs, cents, "vec_id")
      .select("vec_id", "cluster", "similarity")
      .filter(col("vec_id") === 1L)
      .as[(Long, String, Double)].collect().head
    assert(zeroRow._2 == "a" && zeroRow._3.isNaN)
    // the non-degenerate vectors agree with the twin's math: each sits
    // in its own label cluster at similarity 1
    val rest = KMeans.assign(vecs, cents, "vec_id")
      .filter(col("vec_id") > 1L).select("vec_id", "cluster", "similarity")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(rest.map(r => (r._1, r._2)) == Seq((2L, "a"), (3L, "b")))
  }

  test("fit plan is window-free (assignment is map-side)") {
    val fit = KMeans.fit(Tables.embeddings(spark, sf), "vec_id",
      "embedding", initCol = "label", iters = 1)
    val wins = fit.queryExecution.executedPlan.collect {
      case w: WindowExec => w
    }
    assert(wins.isEmpty)
  }
}
