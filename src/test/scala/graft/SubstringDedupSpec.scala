package graft

import graft.ext.Dedup

/** Substring-level exact dedup: planted repeated spans come out, the
  * rest stays, and the hot path is the codegen'd RemoveSpans sweep.
  */
class SubstringDedupSpec extends SparkSpec {

  private val K = 4

  private def run(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    Dedup.removeRepeatedSpans(docs.toDF("doc_id", "text"), "doc_id", "text", K)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
  }

  test("a span shared by two docs is removed from BOTH; unique text survives") {
    val span = "one two three four five" // 5 tokens > K
    val out = run(Seq(
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"x y z $span p q"),
      (3L, "entirely unique words nothing repeated here at all")))
    assert(out(0) === ((1L, 9L, 5L, "alpha beta gamma delta")))
    assert(out(1) === ((2L, 10L, 5L, "x y z p q")))
    assert(out(2) === ((3L, 8L, 0L, "entirely unique words nothing repeated here at all")))
  }

  test("self-repetition within one doc is removed (both copies)") {
    val out = run(Seq(
      (1L, "a b c d X a b c d Y"),
      (2L, "completely different filler text")))
    // both 4-token copies of "a b c d" go; X and Y stay
    assert(out(0) === ((1L, 10L, 8L, "X Y")))
    assert(out(1)._3 === 0L)
  }

  test("overlapping repeated windows merge into one maximal span") {
    // 6-token shared span: its three 4-gram windows overlap; removal
    // must cover exactly tokens [2, 8) in doc 1, not more
    val span = "s1 s2 s3 s4 s5 s6"
    val out = run(Seq(
      (1L, s"u1 u2 $span u3"),
      (2L, span)))
    assert(out(0) === ((1L, 9L, 6L, "u1 u2 u3")))
    assert(out(1) === ((2L, 6L, 6L, "")))
  }

  private def runKeepFirst(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    Dedup.removeRepeatedSpans(docs.toDF("doc_id", "text"), "doc_id", "text", K,
        keepFirst = true)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
  }

  test("keepFirst: the corpus-global first occurrence survives, later copies go") {
    val span = "one two three four five"
    val out = runKeepFirst(Seq(
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"x y z $span p q"),
      (3L, span)))
    // doc 1 holds the min-(doc_id, pos) occurrence of every window
    assert(out(0) === ((1L, 9L, 0L, s"alpha beta $span gamma delta")))
    assert(out(1) === ((2L, 10L, 5L, "x y z p q")))
    assert(out(2) === ((3L, 5L, 5L, "")))
  }

  test("keepFirst: within one doc the earlier copy survives") {
    val out = runKeepFirst(Seq(
      (1L, "a b c d X a b c d Y"),
      (2L, "completely different filler text")))
    assert(out(0) === ((1L, 10L, 4L, "a b c d X Y")))
    assert(out(1)._3 === 0L)
  }

  test("keepFirst: one boilerplate k-gram repeated >> others — skewed survivor agg") {
    import spark.implicits._
    // 200 docs all share the SAME boilerplate 4-gram (one hash holds
    // ~99% of the repeated occurrences); doc 0 also carries a second,
    // lightly-repeated span. The survivor of the hot gram must be its
    // (min doc_id, min pos) occurrence, and the plan must select it
    // with a partial aggregate, not a per-hash sort window (one window
    // partition would sort all 10⁸ occurrences of such a gram at
    // corpus scale).
    val boiler = "all rights reserved inc"
    val docs = (0L until 200L).map(d => (d, s"u${d}a u${d}b $boiler u${d}c"))
    val df = Dedup.removeRepeatedSpans(docs.toDF("doc_id", "text"),
      "doc_id", "text", K, keepFirst = true)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(800))
    val out = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(3)))
    assert(out(0) === ((0L, s"u0a u0b $boiler u0c"))) // survivor keeps text
    (1 until 200).foreach { d =>
      assert(out(d) === ((d.toLong, s"u${d}a u${d}b u${d}c")))
    }
  }

  test("docs shorter than k tokens never match and pass through") {
    val out = run(Seq((1L, "tiny doc"), (2L, "tiny doc"), (3L, "tiny doc")))
    assert(out.forall(_._3 === 0L))
    assert(out.forall(_._4 === "tiny doc"))
  }

  test("null text is treated as empty, not dropped") {
    import spark.implicits._
    val docs = Seq((1L, Option("padding words here repeated nowhere")),
      (2L, Option.empty[String])).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(docs, "doc_id", "text", K)
      .orderBy("doc_id").collect()
    assert(out.length === 2)
    assert(out(1).getString(3) === "")
  }

  test("matches the O(n*m) reference formulation on a random-ish corpus") {
    // deterministic pseudo-random docs over a tiny vocab so repeats occur
    val vocab = Vector("a", "b", "c", "d", "e")
    val docs = (0L until 40L).map { d =>
      val toks = (0 until 30).map(i => vocab(((d * 31 + i * 17 + i * i * 7) % 97 % 5).toInt))
      (d, toks.mkString(" "))
    }
    val got = run(docs)
    // reference: brute-force — mark every k-window occurring >= 2 times
    val kgrams = docs.flatMap { case (d, t) =>
      val w = t.split(" ")
      (0 to w.length - K).map(p => (w.slice(p, p + K).mkString(" "), d, p))
    }
    val repeated = kgrams.groupBy(_._1).filter(_._2.size >= 2).keySet
    val expected = docs.map { case (d, t) =>
      val w = t.split(" ")
      val covered = (0 to w.length - K)
        .filter(p => repeated(w.slice(p, p + K).mkString(" ")))
        .flatMap(p => p until p + K).toSet
      val kept = w.zipWithIndex.collect { case (tok, i) if !covered(i) => tok }
      (d, w.length.toLong, covered.size.toLong, kept.mkString(" "))
    }
    assert(got.toSeq === expected)
  }

  test("the span sweep is the codegen'd expression, not an interpreted lambda") {
    import spark.implicits._
    val df = Dedup.removeRepeatedSpans(
      Seq((1L, "a b c d e a b c d e")).toDF("doc_id", "text"), "doc_id", "text", K)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_remove_spans"))
  }
}
