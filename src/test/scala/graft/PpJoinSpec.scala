package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.ext.{Dsir, PpJoin}
import graft.functions.Text
import graft.plans.SortedOverlap
import graft.ref.PpJoinRef

/** PPJoin prefix-filtered similarity join: lossless pruning (result ==
  * brute-force all-pairs), real candidate reduction, and the DSIR
  * selection invariants.
  */
class PpJoinSpec extends SparkSpec {

  test("ppjoin equals brute-force all-pairs Jaccard (no false negatives)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val got = PpJoin.pairs(docs, "doc_id", "text", shingleN = 3,
        minJaccard = 0.5)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Double)].collect().toSeq

    // brute force on the same shingle sets — the unpruned ground truth
    val sets = docs.select(col("doc_id"),
      array_distinct(Text.shingles(Text.tokens(col("text")), 3)).as("s"))
    val a = sets.select(col("doc_id").as("id_a"), col("s").as("sa"))
    val b = sets.select(col("doc_id").as("id_b"), col("s").as("sb"))
    val want = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("_i", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("j", round(col("_i").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("_i")).cast("double"), 4))
      .filter(col("j") >= 0.5)
      .select(col("id_a"), col("id_b"), col("j"))
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Double)].collect().toSeq

    assert(got === want)
    assert(got.nonEmpty, "testdata should contain near-duplicate docs")
  }

  test("graft_sorted_overlap: exact merge count, safe early exit, null poisoning") {
    import spark.implicits._
    // random distinct sorted string arrays (empty included); ground
    // truth per row = size(array_intersect) on the same columns
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 60).map(n => f"w$n%02d")
    val rows = (1 to 300).map { _ =>
      (rnd.shuffle(vocab).take(rnd.nextInt(20)).sorted,
        rnd.shuffle(vocab).take(rnd.nextInt(20)).sorted)
    }
    val df = rows.toDF("a", "b")
      .withColumn("want", size(array_intersect(col("a"), col("b"))))
    def overlap(a: Column, b: Column, req: Column): Column =
      column(SortedOverlap(expression(a), expression(b), expression(req)))
    // req = 0 disables the exit → always the exact count
    val exact = df.withColumn("got", overlap(col("a"), col("b"), lit(0L)))
    assert(exact.filter(col("got") =!= col("want")).isEmpty)
    // req = true count: the bound (an upper bound on the final count)
    // can never dip below it → still the exact count, never −1
    val atReq = df.withColumn("got",
      overlap(col("a"), col("b"), col("want").cast("long")))
    assert(atReq.filter(col("got") =!= col("want")).isEmpty)
    // req = true count + 1: −1 (provably below req) or the exact count
    // — never a wrong non-sentinel value
    val overReq = df.withColumn("got",
      overlap(col("a"), col("b"), (col("want") + 1).cast("long")))
    assert(overReq
      .filter(col("got") =!= lit(-1) && col("got") =!= col("want"))
      .isEmpty)
    // null array and null element both poison to NULL (a null element
    // is a violated input contract; poisoning is the loud response) —
    // and the element check runs BEFORE the early-exit bound, so a
    // high req cannot turn the poison into a −1 (result must be
    // deterministic in the inputs, independent of req)
    val nulls = spark.range(1).select(
        overlap(expr("array('a', 'b')"), expr("CAST(NULL AS ARRAY<STRING>)"),
          lit(0L)).as("x"),
        overlap(expr("array('a', CAST(NULL AS STRING))"), expr("array('a', 'b')"),
          lit(0L)).as("y"),
        overlap(expr("array(CAST(NULL AS STRING), 'b')"), expr("array('a', 'b')"),
          lit(10L)).as("z"))
      .head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1) && nulls.isNullAt(2))
  }

  test("prefix filter prunes the candidate space hard") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val allPairs = n * (n - 1) / 2
    // the PRODUCTION canonical-set construction (package-private hook),
    // so the pruning measurement can never drift from what pairs() runs
    val sets = PpJoinRef.canonicalSets(docs, "doc_id", "text", 3)
    val cands = PpJoin.candidates(sets, 0.5).count()
    assert(cands < allPairs / 20,
      s"prefix filter left $cands of $allPairs pairs — pruning too weak")
  }

  test("native PrefixPairs node == composed self-join candidates") {
    import spark.implicits._
    val sets =
      PpJoinRef.canonicalSets(Tables.documents(spark, sf), "doc_id", "text", 3)
    // 0.5 (exact ceil boundaries everywhere) and a threshold whose
    // t/(1+t) is irrational-ish — the 1e-9 slack path
    Seq(0.5, 0.3333).foreach { t =>
      val native = PpJoin.candidates(sets, t)
        .as[(Long, Long)].collect().toSet
      val composed = PpJoin.candidatesComposed(sets, t)
        .as[(Long, Long)].collect().toSet
      assert(native === composed, s"threshold $t")
      assert(native.nonEmpty, s"threshold $t should yield candidates")
    }
  }

  test("native PrefixPairs: one shuffle + one sort below the node") {
    val sets =
      PpJoinRef.canonicalSets(Tables.documents(spark, sf), "doc_id", "text", 3)
    val plan = PpJoin.candidates(sets, 0.5).queryExecution.executedPlan
      .toString
    assert(plan.contains("PrefixPairs"), plan.take(1500))
    // postings shuffle + the final distinct's — the composed self-join
    // shape would add a second Sort over the reused exchange
    val exchanges = "Exchange hashpartitioning".r
      .findAllMatchIn(plan).length
    val sorts = raw"\bSort \[".r.findAllMatchIn(plan).length
    assert(exchanges === 2, s"want 2 exchanges, got $exchanges:\n" +
      plan.take(2000))
    assert(sorts === 1, s"want 1 sort, got $sorts:\n" + plan.take(2000))
  }

  test("native PrefixPairs streams a hot-token group without blowup") {
    import spark.implicits._
    // one token shared by every doc (hot group) + per-doc filler; the
    // node must stream the quadratic candidate set lazily and agree
    // with the composed form
    val docs = (0L until 120L)
      .map(i => (i, s"common common common filler$i filler$i extra$i"))
      .toDF("doc_id", "text")
    val sets = PpJoinRef.canonicalSets(docs, "doc_id", "text", 3)
    val t = 0.25
    val native = PpJoin.candidates(sets, t).as[(Long, Long)].collect().toSet
    val composed =
      PpJoin.candidatesComposed(sets, t).as[(Long, Long)].collect().toSet
    assert(native === composed)
  }

  test("native PrefixPairs metrics report the pruning honestly") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.LongType
    import spark.implicits._
    // one token group, sizes [2, 4, 10], t=0.5 — hand-computable:
    //   j=1 (sz 4): bound ceil(0.5*4)=2, s=0; candidate (0,1):
    //     positions 0 ⇒ min(2,4) ≥ ceil(1/3·6 − ε)=2 → EMITTED
    //   j=2 (sz 10): bound 5, s advances past sizes 2 and 4 ⇒ 2 pairs
    //     skipped by the length bound, no candidates
    val pre = Seq(
      ("tok", 100L, 2, 0),
      ("tok", 200L, 4, 0),
      ("tok", 300L, 10, 0)).toDF("_ptok", "_id", "_sz", "_p")
    val node = graft.plans.PrefixPairsNode(0.5,
      pre.queryExecution.analyzed,
      AttributeReference("id_a", LongType, nullable = false)(),
      AttributeReference("id_b", LongType, nullable = false)())
    val df = org.apache.spark.sql.graft.PlanDsl.ofRows(spark, node)
    // collect on df ITSELF: .as[...] would build a new QueryExecution
    // and the metrics accumulate on the executed instance only
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((100L, 200L)))
    // AQE nests the executed operators inside leaf wrappers
    // (AdaptiveSparkPlanExec, QueryStageExec) that tree traversal
    // doesn't descend into — unwrap recursively
    def find(p: org.apache.spark.sql.execution.SparkPlan)
        : Option[graft.plans.PrefixPairsExec] = p match {
      case e: graft.plans.PrefixPairsExec => Some(e)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        find(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        find(s.plan)
      case other => other.children.view.flatMap(find(_)).headOption
    }
    val exec = find(df.queryExecution.executedPlan)
      .getOrElse(fail("no PrefixPairsExec in plan"))
    assert(exec.metrics("numOutputRows").value === 1)
    assert(exec.metrics("numGroups").value === 1)
    assert(exec.metrics("prunedLength").value === 2)
    assert(exec.metrics("prunedPositional").value === 0)
  }

  test("dsir: selection fraction, partition invariance, target affinity") {
    val docs = Tables.documents(spark, sf)
    val out = Dsir.scoreAndSelect(docs, "doc_id", "text",
      isTarget = col("source") === "src0", quantile = 0.8)
    val rows = out.collect()
    val n = rows.length
    val sel = rows.count(_.getInt(2) == 1)
    assert(n === docs.count())
    // >= threshold keeps AT LEAST the top 20% (ties can widen it)
    assert(sel >= n / 5 && sel <= n / 2, s"selected $sel of $n")

    // scores are BIGINT-sum deterministic: invariant under partitioning
    val re = Dsir.scoreAndSelect(docs.repartition(13), "doc_id", "text",
      isTarget = col("source") === "src0", quantile = 0.8)
    assert(re.orderBy("doc_id").collect().toSeq ===
      out.orderBy("doc_id").collect().toSeq)

    // planted check: a corpus whose target slice has a distinct
    // vocabulary must score target-like docs above the rest
    import spark.implicits._
    val planted = (
      (0L until 40L).map(i => (i, "alpha beta gamma delta " * 5, "tgt")) ++
      (40L until 80L).map(i => (i, "omega psi chi phi " * 5, "other")) ++
      (80L until 90L).map(i => (i, "alpha beta gamma delta " * 5, "other"))
    ).toDF("id", "text", "src")
    val scored = Dsir.scoreAndSelect(planted, "id", "text",
        isTarget = col("src") === "tgt", quantile = 0.8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val tgtLike = (80L until 90L).map(scored)
    val other = (40L until 80L).map(scored)
    assert(tgtLike.min > other.max,
      "target-vocabulary docs must outscore off-target docs")
  }
}
