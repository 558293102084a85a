package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.functions.Text
import graft.plans.{BigramCounts, BigramTableAgg, DsirBuckets, PerplexityModel,
  TermCounts}

/** Round-14 native scoring rewrites (`graft_term_counts` /
  * `graft_bigram_counts` / `graft_bm25_topk` / `graft_perplexity`) vs
  * their composed exploded-postings formulations: byte-identical
  * results on the corpus, correct count semantics on edges, and the
  * plan-shape win (no per-document window/exchange) pinned.
  */
class TextScoringSpec extends SparkSpec {
  import spark.implicits._

  private def termCounts(toks: Column): Column =
    column(TermCounts(expression(toks)))

  /** `BigramTableAgg` over the one-row frame whose `bc` column is the
    * SQL array literal `bcSql`.
    */
  private def bigramTable(bcSql: String,
      vocabCap: Long = BigramTableAgg.DefaultVocabCap) =
    spark.range(1).select(expr(bcSql).as("bc"))
      .agg(column(BigramTableAgg(expression(col("bc")), vocabCap)
        .toAggregateExpression()).as("t"))

  test("graft_term_counts equals the explode-groupBy counts and sorts by term") {
    val docs = Tables.documents(spark, sf)
    // re-derive (doc, term, tf) from the native array and from the
    // composed explode; the two postings sets must match exactly
    val nat = docs.select(col("doc_id"),
        explode(termCounts(Text.tokens(col("text")))).as("e"))
      .select(col("doc_id"), col("e.term").as("term"), col("e.tf").as("tf"))
    val comp = docs.select(col("doc_id"),
        explode(Text.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    assert(nat.exceptAll(comp).isEmpty && comp.exceptAll(nat).isEmpty)
    // sortedness (binary UTF8 order, the model-side sort_array order)
    val unsorted = docs.select(termCounts(Text.tokens(col("text"))).as("tc"))
      .filter(not(col("tc") <=> sort_array(col("tc")))).count()
    assert(unsorted == 0)
  }

  test("graft_term_counts edges: empty array, empty strings, null tokens") {
    val df = Seq(
      (Seq.empty[String], 0),            // no tokens -> empty counts
      (Seq(""), 1),                      // empty token IS counted
      // null skipped, "" kept: distinct entries {a: 2, "": 1}
      (Seq("a", null, "a", ""), 2))
      .toDF("in", "n")
    val rows = df.select(termCounts(col("in")).as("tc"), col("n"))
      .select(size(col("tc")).as("sz"), col("n"),
        aggregate(col("tc"), lit(0L), (acc, e) => acc + e.getField("tf"))
          .as("total"))
      .collect()
    assert(rows.forall(r => r.getInt(0) == r.getInt(1)))
    // token occurrences preserved: [a, null, a, ""] -> tf sums to 3
    assert(rows.map(_.getLong(2)).toSeq == Seq(0L, 1L, 3L))
  }

  test("graft_bigram_counts equals the composed zip-explode bigrams") {
    val docs = Tables.documents(spark, sf)
    val t = Text.tokens(col("text"))
    val nat = docs.select(col("doc_id"),
        explode(column(BigramCounts(expression(t)))).as("e"))
      .select(col("doc_id"), col("e.w1").as("w1"), col("e.bg").as("bg"),
        col("e.c").as("c"))
    val comp = docs.select(col("doc_id"), t.as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("_t"), lit(1), size(col("_t")) - 1).as("w1"),
        slice(col("_t"), lit(2), size(col("_t")) - 1).as("w2"))).as("_bg"))
      .select(col("doc_id"), col("_bg.w1").as("w1"),
        concat_ws(" ", col("_bg.w1"), col("_bg.w2")).as("bg"))
      .groupBy("doc_id", "w1", "bg").agg(count(lit(1)).as("c"))
    assert(nat.exceptAll(comp).isEmpty && comp.exceptAll(nat).isEmpty)
  }

  test("graft_bigram_table: null elements skipped, vocab cap fails loud with the knob's name") {
    // a caller-built array may carry null struct elements / null
    // fields (graft_bigram_counts never emits them) — skip, never NPE
    // in an executor task
    val withNulls = bigramTable("array(" +
        "named_struct('w1','a','bg','a b','c',2L), " +
        "cast(null as struct<w1:string,bg:string,c:bigint>), " +
        "named_struct('w1','x','bg',cast(null as string),'c',5L), " +
        "named_struct('w1','b','bg','b c','c',1L))")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(withNulls.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("a b", 2L), ("b c", 1L)))
    // the vocab-bounded buffer is an ENFORCED contract: past vocabCap
    // the task fails with the parameter's name, not an undiagnosed OOM
    val twoBigrams = "array(" +
      "named_struct('w1','a','bg','a b','c',1L), " +
      "named_struct('w1','b','bg','b c','c',1L))"
    val e = intercept[Throwable] {
      bigramTable(twoBigrams, vocabCap = 1).collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("vocabCap"), msgs)
    // default cap: the same frame answers
    val ok = bigramTable(twoBigrams)
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(ok.length == 2)
  }

  test("text_bm25 native equals the composed window form on the corpus") {
    val docs = Tables.documents(spark, sf)
    val nat = graft.ext.TfIdf.bm25TopTerms(docs, "doc_id", "text", k = 3)
    val comp = graft.ref.TfIdfRef.bm25TopTermsComposed(docs, "doc_id", "text",
      k = 3)
    assert(nat.exceptAll(comp).isEmpty && comp.exceptAll(nat).isEmpty)
    // the rewrite's point: scoring and per-doc top-k selection happen
    // map-side — no window operator anywhere in the plan
    val wins = nat.queryExecution.executedPlan.collect {
      case w: WindowExec => w
    }
    assert(wins.isEmpty)
  }

  test("graft_dsir_buckets equals the composed md5-substring bucketing") {
    val docs = Tables.documents(spark, sf)
    val nat = docs.select(col("doc_id"),
        explode(column(DsirBuckets(expression(Text.tokens(col("text")))))).as("e"))
      .select(col("doc_id"), col("e.bucket").as("b"), col("e.c").as("c"))
    val comp = docs.select(col("doc_id"),
        explode(Text.tokens(col("text"))).as("t"))
      .select(col("doc_id"), substring(md5(col("t")), 1, 2).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    assert(nat.exceptAll(comp).isEmpty && comp.exceptAll(nat).isEmpty)
  }

  test("text_tfidf native equals the composed window form on the corpus") {
    val docs = Tables.documents(spark, sf)
    val nat = graft.ext.TfIdf.topTerms(docs, "doc_id", "text", k = 3)
    val comp = graft.ref.TfIdfRef.topTermsComposed(docs, "doc_id", "text", k = 3)
    assert(nat.exceptAll(comp).isEmpty && comp.exceptAll(nat).isEmpty)
  }

  test("text_perplexity native equals the composed model-join form") {
    val nat = graft.queries.TextQueries.textPerplexity(spark, sf)
    val comp = graft.ref.TextQueriesRef.textPerplexityComposed(spark, sf)
    assert(nat.exceptAll(comp).isEmpty && comp.exceptAll(nat).isEmpty)
  }

  test("graft_perplexity_model derives context table and vocab in one walk") {
    // c2 table {a b: 2, b a: 1}: c1 = [(a,2),(b,1)]; vocab =
    // {a,b} from the bigrams ∪ {z,a} solo supplement = 3 ("a" not
    // double-counted, solo-only "z" counted)
    val r = spark.range(1).select(column(PerplexityModel(
        expression(array(struct(lit("a b").as("bg"), lit(2L).as("c2")),
          struct(lit("b a").as("bg"), lit(1L).as("c2")))),
        expression(array(lit("z"), lit("a"))))).as("m"))
      .selectExpr("m.vs", "m.c1arr", "m.c2arr").collect().head
    assert(r.getLong(0) == 3L)
    val c1 = r.getSeq[org.apache.spark.sql.Row](1)
      .map(e => (e.getString(0), e.getLong(1)))
    assert(c1 == Seq(("a", 2L), ("b", 1L)))
    assert(r.getSeq[org.apache.spark.sql.Row](2).size == 2,
      "c2arr must pass through unchanged")
  }

  test("checkUniqueIds flag: duplicate ids fail loud, unique ids pass") {
    spark.conf.set("spark.graft.checkUniqueIds", "true")
    try {
      val dup = Seq((1L, "a b"), (1L, "b c")).toDF("doc_id", "text")
      val e = intercept[Exception] {
        graft.ext.TfIdf.topTerms(dup, "doc_id", "text", k = 2).collect()
      }
      assert(e.getMessage.contains("not unique") ||
        Option(e.getCause).exists(_.getMessage.contains("not unique")),
        s"misuse must name the violated contract: ${e.getMessage}")
      val ok = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
      assert(graft.ext.TfIdf.bm25TopTerms(ok, "doc_id", "text", k = 2)
        .count() > 0)
    } finally spark.conf.unset("spark.graft.checkUniqueIds")
  }

  test("bm25 selection: 6-decimal score ties break by term, k caps output") {
    // two docs: "b a" ties both terms exactly (same tf, df, dl) ->
    // rank order must be term ASC; k=1 keeps only 'a'
    val docs = Seq((1L, "b a"), (2L, "b a")).toDF("doc_id", "text")
    val got = graft.ext.TfIdf.bm25TopTerms(docs, "doc_id", "text", k = 1)
      .select("doc_id", "rank", "term").as[(Long, Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L, "a"), (2L, 1L, "a")))
  }
}
