package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

import graft.ext.Dedup
import graft.operators.Versioned

/** MinHash-LSH dedup index lifecycle: the corpus band-posting index is
  * persisted once; batch probes are pure plans over it — zero jobs at
  * construction, postings read from the versioned table, corpus never
  * re-signed per batch.
  */
class LshIndexSpec extends SparkSpec {

  test("probe over persisted band postings: zero jobs, reads the index") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val root = PlanDsl.tempDir("lsh-idx").toString
    Versioned.write(spark, s"$root/bands",
      Dedup.minhashBands(corpus, "doc_id", "text")
        .select(col("doc_id").as("c_id"),
          posexplode(col("bands")).as(Seq("band_idx", "band_key"))))
    val idx = Versioned.read(spark, s"$root/bands")

    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    org.apache.spark.graft.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val cands =
      try {
        val probe = Dedup.minhashBands(batch, "doc_id", "text")
          .select(col("doc_id"),
            posexplode(col("bands")).as(Seq("band_idx", "band_key")))
        val c = probe.join(idx, Seq("band_idx", "band_key"))
          .select(col("doc_id"), col("c_id")).distinct()
        org.apache.spark.graft.TestBus.drain(spark.sparkContext)
        assert(started.get() === 0, "probe construction must not launch jobs")
        c
      } finally spark.sparkContext.removeSparkListener(listener)

    // the probe plan reads the persisted index, not a recomputed one
    val plan = cands.queryExecution.optimizedPlan.toString
    assert(plan.contains("bands"), "probe plan must scan the index table")

    // candidates equal the no-index in-memory band join restricted to
    // batch-vs-corpus — the index changes where postings live, not
    // what they contain
    val all = Dedup.minhashBands(docs, "doc_id", "text")
      .select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band_idx", "band_key")))
    val direct = all.filter(col("doc_id") % 5 === 0)
      .join(all.filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id").as("c_id"), col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"))
      .select(col("doc_id"), col("c_id")).distinct()
    assert(cands.orderBy("doc_id", "c_id").collect().toSeq ===
      direct.orderBy("doc_id", "c_id").collect().toSeq)
  }

  test("probe verify shingles only semi-join-restricted corpus rows") {
    // the expensive corpus pass is the SHINGLING, not the id scan: the
    // verify stage must restrict corpus rows by candidate id (left
    // semi) BEFORE the shingle projection, or every probe batch pays a
    // full corpus re-shingle at scale
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val root = PlanDsl.tempDir("lsh-semi").toString
    Versioned.write(spark, s"$root/bands",
      Dedup.minhashBands(corpus, "doc_id", "text")
        .select(col("doc_id").as("c_id"),
          posexplode(col("bands")).as(Seq("band_idx", "band_key"))))
    val result = Dedup.lshIndexProbe(Versioned.read(spark, s"$root/bands"),
      corpus, batch, "doc_id", "text")
    val semiJoins = result.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semiJoins.nonEmpty,
      "corpus verify side must be candidate-restricted via left semi join")
  }
}
