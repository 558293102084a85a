package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.functions.Text
import graft.plans.GramRepetitionStats
import graft.ref.{SimHashRef, TextRef}

/** Native codegen'd text expressions vs their builtin-HOF
  * formulations: byte-identical on the corpus.
  */
class TextFeaturesSpec extends SparkSpec {
  import spark.implicits._

  private val stop = Seq("the", "a", "or", "and", "of", "to", "in")

  test("graft_collapse equals the HOF collapse on the corpus") {
    val docs = Tables.documents(spark, sf)
    val toks = Text.tokens(col("text"))
    val d = docs.select(
        Text.collapseRepeats(toks).as("nat"),
        TextRef.collapseRepeatsHof(toks).as("hof"))
      .filter(not(col("nat") <=> col("hof"))).count()
    assert(d == 0)
  }

  test("graft_collapse handles empties, singletons and null runs") {
    val df = Seq(
      (Seq("a", "a"), Seq("a")),
      (Seq("a"), Seq("a")),
      (Seq[String](), Seq[String]()),
      (Seq("a", null, null, "a", "a"), Seq("a", null, "a")),
      // LEADING null: the first element of a (null) run is kept — the
      // HOF's bare predicate would have dropped it (null <=> null out
      // of bounds is TRUE); both forms must agree here
      (Seq(null, null, "a"), Seq(null, "a")))
      .toDF("in", "want")
    val bad = df.select(Text.collapseRepeats(col("in")).as("got"),
        TextRef.collapseRepeatsHof(col("in")).as("hof"), col("want"))
      .filter(not(col("got") <=> col("want")) ||
        not(col("hof") <=> col("want"))).count()
    assert(bad == 0)
  }

  test("graft_fingerprint equals the HOF composition on the corpus and edges") {
    // corpus parity: min md5 + distinct-window-minima count
    val sh = Text.shingles(Text.tokens(col("text")), 3)
    val hashes = transform(sh, s => md5(s))
    val fp = Text.fingerprint(sh, 4)
    val bad = Tables.documents(spark, sf).select(
        fp.getField("min_shingle_hash").as("a1"),
        fp.getField("n_winnow").as("a2"),
        array_min(hashes).as("b1"),
        size(TextRef.winnow(hashes, 4)).cast("long").as("b2"))
      .filter(not(col("a1") <=> col("b1")) || not(col("a2") <=> col("b2")))
      .count()
    assert(bad === 0)
    // edges: fewer hashes than the window (short docs collapse to one
    // whole-text shingle) take the single-global-min branch
    import spark.implicits._
    val edge = Seq("a", "a b", "a b c d e").toDF("text")
    val esh = Text.shingles(Text.tokens(col("text")), 3)
    val eh = transform(esh, s => md5(s))
    val efp = Text.fingerprint(esh, 4)
    val ebad = edge.select(
        efp.getField("min_shingle_hash").as("a1"),
        efp.getField("n_winnow").as("a2"),
        array_min(eh).as("b1"),
        size(TextRef.winnow(eh, 4)).cast("long").as("b2"))
      .filter(not(col("a1") <=> col("b1")) || not(col("a2") <=> col("b2")))
      .count()
    assert(ebad === 0)
    // degenerate: an EMPTY shingle array. The HOF winnow's
    // otherwise-branch yields array(array_min(empty)) = [null], size 1,
    // so the native expression must report (null, 1) — not (null, 0)
    val empty = Seq(Seq[String]()).toDF("sh")
    val nfp = Text.fingerprint(col("sh"), 4)
    val nh = transform(col("sh"), s => md5(s))
    val nbad = empty.select(
        nfp.getField("min_shingle_hash").as("a1"),
        nfp.getField("n_winnow").as("a2"),
        array_min(nh).as("b1"),
        size(TextRef.winnow(nh, 4)).cast("long").as("b2"))
      .filter(not(col("a1") <=> col("b1")) || not(col("a2") <=> col("b2")))
      .count()
    assert(nbad === 0)
  }

  test("graft_simhash equals the HOF fold on the corpus and edges") {
    import graft.functions.SimHash
    val toks = Text.tokens(col("text"))
    val bad = Tables.documents(spark, sf).select(
        SimHash.simhash32(toks).as("a"),
        SimHashRef.simhash32Hof(toks).as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(bad === 0)
    // edges: empty token list (all-zero votes -> all '0'), single token
    import spark.implicits._
    val edge = Seq(Seq[String](), Seq("a"), Seq("a", "a", "b"))
      .toDF("toks")
    val ebad = edge.select(
        SimHash.simhash32(col("toks")).as("a"),
        SimHashRef.simhash32Hof(col("toks")).as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(ebad === 0)
  }

  test("graft_simhash null-array and fingerprint window guards") {
    import graft.functions.SimHash
    import spark.implicits._
    // a NULL token array signs to the EMPTY STRING on both forms
    // (concat_ws never returns null) — null-text documents group
    // under '' with either implementation
    val nulls = Seq((1L, None: Option[Seq[String]])).toDF("id", "toks")
    val got = nulls.select(SimHash.simhash32(col("toks")).as("a"),
      SimHashRef.simhash32Hof(col("toks")).as("b")).head()
    assert(got.getString(0) === "" && got.getString(1) === "")
    // a non-positive winnow window fails readably, not with an
    // ArrayIndexOutOfBounds from the executor loop
    val e = intercept[Exception] {
      Seq("a b c d e").toDF("text").select(
        Text.fingerprint(Text.shingles(Text.tokens(col("text")), 3), 0))
        .collect()
    }
    assert(e.getMessage.contains("window must be > 0") ||
      Option(e.getCause).exists(_.getMessage.contains("window must be > 0")))
  }

  test("graft_textstats equals the HOF counts on the corpus") {
    val docs = Tables.documents(spark, sf)
    val toks = Text.tokens(col("text"))
    val st = Text.tokenStats(toks, stop)
    val d = docs.select(
        st.getField("n_tokens").as("a1"),
        st.getField("n_distinct").as("a2"),
        st.getField("n_stop").as("a3"),
        st.getField("n_repeat").as("a4"),
        size(toks).cast("long").as("b1"),
        size(array_distinct(toks)).cast("long").as("b2"),
        Text.countIn(toks, stop).cast("long").as("b3"),
        (size(toks) - size(TextRef.collapseRepeatsHof(toks))).cast("long").as("b4"))
      .filter(col("a1") =!= col("b1") || col("a2") =!= col("b2") ||
        col("a3") =!= col("b3") || col("a4") =!= col("b4")).count()
    assert(d == 0)
  }

  test("PII redaction removes every match and nothing else") {
    import spark.implicits._
    val df = Seq(
      "mail a.b+c@x-corp.io now", "call +1-555-0042 then 10.0.3.7 ok",
      "no pii here", "999.999.999.999 still an ipv4 shape").toDF("t")
    val out = df.select(Text.redactPii(col("t")).as("r")).as[String].collect()
    assert(out(0) == "mail <EMAIL> now")
    assert(out(1) == "call <PHONE> then <IP> ok")
    assert(out(2) == "no pii here")
    assert(out(3) == "<IP> still an ipv4 shape")
    val residue = df.select(Text.redactPii(col("t")).as("r"))
      .filter(col("r").rlike(Text.EmailRe) || col("r").rlike(Text.PhoneRe) ||
        col("r").rlike(Text.Ipv4Re)).count()
    assert(residue == 0)
  }

  test("collocation bigrams cover n-1 adjacent pairs per document") {
    val docs = Tables.documents(spark, sf)
    val expected = docs
      .select((size(Text.tokens(col("text"))) - 1).cast("long").as("n"))
      .filter(col("n") >= 1).agg(sum("n")).head().getLong(0)
    val t = col("_t")
    val total = docs.select(Text.tokens(col("text")).as("_t"))
      .filter(size(t) >= 2)
      .select(explode(arrays_zip(
        slice(t, lit(1), size(t) - 1).as("w1"),
        slice(t, lit(2), size(t) - 1).as("w2"))).as("_bg"))
      .count()
    assert(total == expected, s"$total vs $expected")
  }

  test("graft_gram_stats repetition equals the composed explode form on the corpus") {
    val nat = graft.queries.TextQueries.textRepetition(spark, sf)
    val comp = graft.ref.TextQueriesRef.textRepetitionComposed(spark, sf)
    assert(nat.columns.toSeq == comp.columns.toSeq)
    // full-row null-safe equality, both directions
    assert(nat.exceptAll(comp).count() == 0)
    assert(comp.exceptAll(nat).count() == 0)
    assert(nat.count() > 0)
  }

  test("graft_gram_stats hand-computed edges: short docs, repeats, null tokens") {
    val df = Seq(
      Tuple1(Seq("a")),                       // no bigrams/trigrams
      Tuple1(Seq("a", "b")),                  // bigrams, no trigrams
      Tuple1(Seq("a", "b", "a", "b", "a")),   // "a b a" twice, "b a b" once
      Tuple1(Seq("x", null, "x"))             // concat_ws skips the null
    ).toDF("w")
    val got = df.select(column(GramRepetitionStats(expression(col("w")))).as("s"))
      .select("s.*").collect()
    def row(i: Int) = got(i).toSeq
    // (n_words, m1, m2, t2, m3, t3, d3)
    assert(row(0) == Seq(1L, 1L, null, null, null, null, null))
    assert(row(1) == Seq(2L, 1L, 1L, 1L, null, null, null))
    // unigrams: a×3 b×2; bigrams: "a b"×2 "b a"×2; trigrams:
    // "a b a"×2 "b a b"×1 → top 2, total 3, dup mass 2
    assert(row(2) == Seq(5L, 3L, 2L, 4L, 2L, 3L, 2L))
    // null token: unigram gram "" (concat_ws of a lone null), bigrams
    // "x"×2 (null skipped), trigram "x x"
    assert(row(3) == Seq(3L, 2L, 2L, 2L, 1L, 1L, 0L))
  }

  test("native text expressions stay inside whole-stage codegen") {
    val p = graft.queries.TextQueries.textQuality(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("ArrayFilter"), p.take(400))
  }
}
