package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

import graft.ext.Pq

/** PQ index lifecycle: build (train + encode) is separable from probe,
  * the probe is a pure plan over a prebuilt index (zero jobs at
  * construction, no index rebuild), and the one-shot path launches no
  * driver-side sizing jobs (stats-based sizing, dim from the caller).
  */
class PqIndexSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)

  test("probe over a prebuilt index is a pure plan: zero jobs at construction") {
    val q = emb.filter(col("vec_id") < 10)
    val codebook = Pq.trainCodebook(emb, "embedding", "label", 16, 64)
      .localCheckpoint()
    val codes = Pq.encode(emb, "vec_id", "embedding", codebook, 16, 64)
      .localCheckpoint()
    val (probe, n, sites) = jobsDuring {
      Pq.adcProbe(q, "vec_id", "embedding", codebook, codes, 16, 64, k = 3)
    }
    assert(n === 0, s"probe construction must not launch jobs, saw: $sites")
    // and the probe result equals the one-shot pipeline
    val oneShot = Pq.adcTopK(q, emb, "vec_id", "vec_id", "embedding",
        "label", 16, 3, dim = 64)
      .orderBy("q_id", "rank").collect().toSeq
    assert(probe.orderBy("q_id", "rank").collect().toSeq === oneShot)
  }

  test("probe plan: ADC scoring is the single codegen'd loop expression") {
    // a refactor back to the unrolled m-term element_at chain blows
    // the generated method past JIT/Janino limits at m = 32 and drops
    // the scoring stage out of whole-stage codegen (measured ~6 µs per
    // pair interpreted vs the loop's compiled form — the 2×-gate miss
    // PqAdc fixed)
    val cb = Pq.trainCodebook(emb, "embedding", "label", 16, 64)
      .localCheckpoint()
    val codes = Pq.encode(emb, "vec_id", "embedding", cb, 16, 64)
      .localCheckpoint()
    val probe = Pq.adcProbe(emb.filter(col("vec_id") < 10), "vec_id",
      "embedding", cb, codes, 16, 64, k = 3)
    val phys = probe.queryExecution.executedPlan.toString
    assert(phys.contains("graft_pq_adc"),
      s"ADC must score through the PqAdc loop expression:\n${phys.take(2000)}")
    assert(!phys.contains("element_at(element_at"),
      "ADC must not be an unrolled element_at chain")
  }

  test("encode plan: arg-min is a partial-aggregating hash agg, no window sort") {
    // the packed-long min keeps encoding map-side combinable; a
    // refactor back to the row_number window would sort corpus ×
    // subspaces × codewords rows on one exchange at 100 TB
    val cb = Pq.trainCodebook(emb, "embedding", "label", 16, 64)
    val codes = Pq.encode(emb, "vec_id", "embedding", cb, 16, 64)
    val phys = codes.queryExecution.executedPlan.toString
    // the codebook subtree keeps its tiny dense-code window (over
    // codewords); the guard is that no window is keyed on the CORPUS
    val corpusWindows = phys.linesIterator
      .filter(l => l.contains("Window") && l.contains("c_id")).toSeq
    assert(corpusWindows.isEmpty,
      s"encode must not window-sort the corpus: $corpusWindows")
    assert(phys.contains("partial_min"),
      s"encode arg-min must partial-aggregate map-side:\n${phys.take(2000)}")
  }

  test("probe over a PERSISTED index matches and rebuilds nothing") {
    import graft.operators.Versioned
    val q = emb.filter(col("vec_id") < 10)
    val root = PlanDsl.tempDir("pq-idx").toString
    Versioned.write(spark, s"$root/codebook",
      Pq.trainCodebook(emb, "embedding", "label", 16, 64))
    val cb = Versioned.read(spark, s"$root/codebook")
    Versioned.write(spark, s"$root/codes",
      Pq.encode(emb, "vec_id", "embedding", cb, 16, 64))
    val codes = Versioned.read(spark, s"$root/codes")
    val (probe, n, sites) = jobsDuring {
      Pq.adcProbe(q, "vec_id", "embedding", cb, codes, 16, 64, k = 3)
    }
    assert(n === 0, s"persisted-index probe construction launched: $sites")
    val oneShot = Pq.adcTopK(q, emb, "vec_id", "vec_id", "embedding",
        "label", 16, 3, dim = 64)
      .orderBy("q_id", "rank").collect().toSeq
    assert(probe.orderBy("q_id", "rank").collect().toSeq === oneShot)
    // the probe plan reads the persisted parquet — codebook TRAINING
    // (the per-block subspace averages) must not reappear in it; the
    // only aggregates allowed are the LUT collect_lists
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("avg("),
      "probe plan must not re-train the codebook (found an avg aggregate)")
  }

  test("encode fails loudly past the 16-bit code capacity") {
    import spark.implicits._
    // the packed-long arg-min stores the code in the low 16 bits; a
    // codebook claiming code 70000 would silently corrupt every
    // recovered code — the broadcast-side guard must raise instead
    val w = 4 // dim 64 / m 16
    val cb = Seq((0, 0L, Seq.fill(w)(0.1), 70000))
      .toDF("sub", "cw", "_cw", "code")
    val ex = intercept[Exception] {
      Pq.encode(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        cb, 16, 64).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("65536")),
      s"expected the capacity raise_error, got: ${messages(ex).mkString(" | ")}")
  }

  test("one-shot adcTopK with dim given launches no sizing job (no count/head)") {
    val q = emb.filter(col("vec_id") < 10)
    val (_, _, sites) = jobsDuring {
      Pq.adcTopK(q, emb, "vec_id", "vec_id", "embedding", "label", 16, 3,
        dim = 64)
    }
    val sizing = sites.filter(s =>
      s.startsWith("count at") || s.startsWith("head at"))
    assert(sizing.isEmpty,
      s"stats-based sizing must not launch count()/head() jobs, saw: $sizing")
  }
}
