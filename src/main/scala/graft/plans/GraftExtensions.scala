package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** Engine extension points, installed on a session by [[registerOn]]
  * (run by `GraftSession.local`/`prepare` and every `SparkEntry.queries`
  * call): the native functions — callable from SQL and via
  * `call_function`, e.g. `graft_dot(a, b)` ([[DotProduct]]) — the
  * planner strategies and the optimizer rule.
  */
object GraftExtensions {

  private val dotFunction: (String, Seq[Expression] => Expression) = (
    "graft_dot",
    (children: Seq[Expression]) => {
      requireArity(children, 2, "graft_dot(a, b)")
      DotProduct(children(0), children(1))
    })

  private val pqAdcFunction: (String, Seq[Expression] => Expression) = (
    "graft_pq_adc",
    (children: Seq[Expression]) => {
      requireArity(children, 2, "graft_pq_adc(codes, lut)")
      PqAdc(children(0), children(1))
    })

  /** `graft_minhash(shingles, k, family)` — k and family must be
    * literals (they shape the output schema).
    */
  private def buildMinhash(children: Seq[Expression]): Expression = {
    requireArity(children, 3, "graft_minhash(shingles, k, family)")
    import org.apache.spark.sql.catalyst.expressions.Literal
    val k = children(1) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"graft_minhash: numHashes must be an int literal, got $other")
    }
    val fam = children(2) match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
      case other => throw new IllegalArgumentException(
        s"graft_minhash: family must be a string literal, got $other")
    }
    MinHashSignature(children(0), k, fam)
  }

  private val minhashFunction: (String, Seq[Expression] => Expression) = (
    "graft_minhash",
    buildMinhash _)

  /** `graft_shingles(tokens, n)` — n must be an int literal. */
  private def buildShingles(children: Seq[Expression]): Expression = {
    requireArity(children, 2, "graft_shingles(tokens, n)")
    import org.apache.spark.sql.catalyst.expressions.Literal
    val n = children(1) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"graft_shingles: n must be an int literal, got $other")
    }
    Shingles(children(0), n)
  }

  private val shinglesFunction: (String, Seq[Expression] => Expression) = (
    "graft_shingles",
    buildShingles _)

  /** `graft_textstats(tokens, stopwords...)` — stopwords as trailing
    * string literals (they parameterize the expression, not the rows).
    */
  private def buildTextStats(children: Seq[Expression]): Expression = {
    if (children.isEmpty) throw new IllegalArgumentException(
      "graft_textstats(tokens, stopwords...) takes at least 1 argument, got 0")
    import org.apache.spark.sql.catalyst.expressions.Literal
    val words = children.tail.map {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
      case other => throw new IllegalArgumentException(
        s"graft_textstats: stopwords must be string literals, got $other")
    }
    TextStats(children.head, words)
  }

  private val hllRegFunction: (String, Seq[Expression] => Expression) = (
    "graft_hll_reg",
    (children: Seq[Expression]) => {
      requireArity(children, 1, "graft_hll_reg(value)")
      HllReg(children.head)
    })

  private val simhashFunction: (String, Seq[Expression] => Expression) = (
    "graft_simhash",
    (children: Seq[Expression]) => {
      requireArity(children, 1, "graft_simhash(tokens)")
      SimHashExpr(children.head)
    })

  private val fingerprintFunction: (String, Seq[Expression] => Expression) = (
    "graft_fingerprint",
    (children: Seq[Expression]) => {
      requireArity(children, 2, "graft_fingerprint(shingles, window)")
      Fingerprint(children(0), children(1))
    })

  private val collapseFunction: (String, Seq[Expression] => Expression) = (
    "graft_collapse",
    (children: Seq[Expression]) => {
      requireArity(children, 1, "graft_collapse(tokens)")
      CollapseRepeats(children.head)
    })

  private val textstatsFunction: (String, Seq[Expression] => Expression) = (
    "graft_textstats",
    buildTextStats _)

  private val gramStatsFunction: (String, Seq[Expression] => Expression) = (
    "graft_gram_stats",
    (children: Seq[Expression]) => {
      requireArity(children, 1, "graft_gram_stats(tokens)")
      GramRepetitionStats(children.head)
    })

  private val sortedPairsFunction: (String, Seq[Expression] => Expression) = (
    "graft_sorted_pairs",
    (children: Seq[Expression]) => {
      requireArity(children, 1, "graft_sorted_pairs(sorted_bigint_array)")
      SortedPairs(children.head)
    })

  private val firstCollisionFunction: (String, Seq[Expression] => Expression) = (
    "graft_first_collision",
    (children: Seq[Expression]) => {
      requireArity(children, 2, "graft_first_collision(codes_a, codes_b)")
      FirstCollision(children(0), children(1))
    })

  private val sortedPairsPackedFunction: (String, Seq[Expression] => Expression) = (
    "graft_sorted_pairs_packed",
    (children: Seq[Expression]) => {
      requireArity(children, 1,
        "graft_sorted_pairs_packed(sorted_bigint_array)")
      SortedPairsPacked(children.head)
    })

  /** Analysis-time arity check — a wrong argument count must surface
    * as a readable error naming the signature, not an
    * IndexOutOfBoundsException from children(i).
    */
  private def requireArity(children: Seq[Expression], n: Int,
      sig: String): Unit =
    if (children.length != n) throw new IllegalArgumentException(
      s"$sig takes $n arguments, got ${children.length}")

  private def intLit(e: Expression, fn: String, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an int literal, got $other")
  }

  /** `graft_bloom_pos(key, mBits, numHashes)` — sizes are literals. */
  private def buildBloomPos(children: Seq[Expression]): Expression = {
    requireArity(children, 3, "graft_bloom_pos(key, mBits, numHashes)")
    BloomPositions(children(0),
      intLit(children(1), "graft_bloom_pos", "mBits"),
      intLit(children(2), "graft_bloom_pos", "numHashes"))
  }

  /** `graft_bloom_might(key, bits, numHashes)` — bits is the binary
    * literal carrying the built filter (held as a plan reference, not
    * inlined into generated source).
    */
  private def buildBloomMight(children: Seq[Expression]): Expression = {
    requireArity(children, 3, "graft_bloom_might(key, bits, numHashes)")
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bits = children(1) match {
      case Literal(b: Array[Byte], org.apache.spark.sql.types.BinaryType) => b
      case other => throw new IllegalArgumentException(
        s"graft_bloom_might: bits must be a binary literal, got $other")
    }
    BloomMightContain(children(0), bits,
      intLit(children(2), "graft_bloom_might", "numHashes"))
  }

  private val bloomPosFunction: (String, Seq[Expression] => Expression) = (
    "graft_bloom_pos",
    buildBloomPos _)

  private val bloomMightFunction: (String, Seq[Expression] => Expression) = (
    "graft_bloom_might",
    buildBloomMight _)

  /** `graft_hll(value_string)` — the analyzer wraps the returned
    * AggregateFunction in its AggregateExpression.
    */
  private val hllAggFunction: (String, Seq[Expression] => Expression) = (
    "graft_hll",
    (children: Seq[Expression]) => {
      requireArity(children, 1, "graft_hll(value)")
      HllAgg(children.head)
    })

  /** `graft_bigram_table(bc)` — imperative aggregate; the analyzer
    * wraps it in its AggregateExpression.
    */
  private val bigramTableFunction: (String, Seq[Expression] => Expression) = (
    "graft_bigram_table",
    (children: Seq[Expression]) => {
      requireArity(children, 1, "graft_bigram_table(bc)")
      // the builder runs at analysis time on the driver, so the knob
      // rides the expression to executors as a constructor value
      val cap = org.apache.spark.sql.internal.SQLConf.get
        .getConfString(BigramTableAgg.VocabCapKey,
          BigramTableAgg.DefaultVocabCap.toString).toLong
      BigramTableAgg(children.head, vocabCap = cap)
    })

  /** `graft_shingle_explode(tokens, n)` — generator; n is a literal. */
  private def buildShingleExplode(children: Seq[Expression]): Expression = {
    requireArity(children, 2, "graft_shingle_explode(tokens, n)")
    ShingleExplode(children(0),
      intLit(children(1), "graft_shingle_explode", "n"))
  }

  private val shingleExplodeFunction: (String, Seq[Expression] => Expression) = (
    "graft_shingle_explode",
    buildShingleExplode _)

  /** `graft_remove_spans(tokens, positions, k)` — k is a literal. */
  private def buildRemoveSpans(children: Seq[Expression]): Expression = {
    requireArity(children, 3, "graft_remove_spans(tokens, positions, k)")
    RemoveSpans(children(0), children(1),
      intLit(children(2), "graft_remove_spans", "k"))
  }

  private val removeSpansFunction: (String, Seq[Expression] => Expression) = (
    "graft_remove_spans",
    buildRemoveSpans _)

  private val termCountsFunction: (String, Seq[Expression] => Expression) = (
    "graft_term_counts",
    (children: Seq[Expression]) => {
      requireArity(children, 1, "graft_term_counts(tokens)")
      TermCounts(children.head)
    })

  private val bigramCountsFunction: (String, Seq[Expression] => Expression) = (
    "graft_bigram_counts",
    (children: Seq[Expression]) => {
      requireArity(children, 1, "graft_bigram_counts(tokens)")
      BigramCounts(children.head)
    })

  private def doubleLit(e: Expression, fn: String, what: String): Double =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a double literal, got $other")
    }

  /** `graft_bm25_topk(tc, dl, model, k, k1, b)` — k/k1/b literals. */
  private def buildBm25TopK(children: Seq[Expression]): Expression = {
    requireArity(children, 6, "graft_bm25_topk(tc, dl, model, k, k1, b)")
    Bm25TopK(children(0), children(1), children(2),
      intLit(children(3), "graft_bm25_topk", "k"),
      doubleLit(children(4), "graft_bm25_topk", "k1"),
      doubleLit(children(5), "graft_bm25_topk", "b"))
  }

  private val bm25TopKFunction: (String, Seq[Expression] => Expression) = (
    "graft_bm25_topk",
    buildBm25TopK _)

  private val perplexityFunction: (String, Seq[Expression] => Expression) = (
    "graft_perplexity",
    (children: Seq[Expression]) => {
      requireArity(children, 2, "graft_perplexity(bc, model)")
      PerplexityScore(children(0), children(1))
    })

  private val prefixC1Function: (String, Seq[Expression] => Expression) = (
    "graft_prefix_c1",
    (children: Seq[Expression]) => {
      requireArity(children, 1, "graft_prefix_c1(c2arr)")
      PrefixContextCounts(children.head)
    })

  private val cosinePairsFunction: (String, Seq[Expression] => Expression) = (
    "graft_cosine_pairs",
    (children: Seq[Expression]) => {
      requireArity(children, 4, "graft_cosine_pairs(a, b, same, minCosine)")
      CosinePairs(children(0), children(1), children(2),
        doubleLit(children(3), "graft_cosine_pairs", "minCosine"))
    })

  private val perplexityModelFunction: (String, Seq[Expression] => Expression) = (
    "graft_perplexity_model",
    (children: Seq[Expression]) => {
      requireArity(children, 2, "graft_perplexity_model(c2arr, sup)")
      PerplexityModel(children(0), children(1))
    })

  private val dsirBucketsFunction: (String, Seq[Expression] => Expression) = (
    "graft_dsir_buckets",
    (children: Seq[Expression]) => {
      requireArity(children, 1, "graft_dsir_buckets(tokens)")
      DsirBuckets(children.head)
    })

  private val dsirScoreFunction: (String, Seq[Expression] => Expression) = (
    "graft_dsir_score",
    (children: Seq[Expression]) => {
      requireArity(children, 2, "graft_dsir_score(bcnts, lrarr)")
      DsirScore(children(0), children(1))
    })

  private val sortableBitsFunction: (String, Seq[Expression] => Expression) = (
    "graft_sortable_bits",
    (children: Seq[Expression]) => {
      requireArity(children, 1, "graft_sortable_bits(v)")
      SortableBits(children.head)
    })

  private val sortedOverlapFunction: (String, Seq[Expression] => Expression) = (
    "graft_sorted_overlap",
    (children: Seq[Expression]) => {
      requireArity(children, 3, "graft_sorted_overlap(a, b, req)")
      SortedOverlap(children(0), children(1), children(2))
    })

  /** `graft_edit_pairs(a, b, same, maxDist)` — maxDist is a literal
    * (it parameterizes the banded DP, plan-time fixed like
    * graft_cosine_pairs' threshold).
    */
  private val editPairsFunction: (String, Seq[Expression] => Expression) = (
    "graft_edit_pairs",
    (children: Seq[Expression]) => {
      requireArity(children, 4, "graft_edit_pairs(a, b, same, maxDist)")
      val k = intLit(children(3), "graft_edit_pairs", "maxDist")
      require(k >= 0, s"graft_edit_pairs: maxDist must be >= 0, got $k")
      EditPairs(children(0), children(1), children(2), k)
    })

  /** `graft_tfidf_topk(tc, model, k)` — k is a literal. */
  private val tfidfTopKFunction: (String, Seq[Expression] => Expression) = (
    "graft_tfidf_topk",
    (children: Seq[Expression]) => {
      requireArity(children, 3, "graft_tfidf_topk(tc, model, k)")
      TfIdfTopK(children(0), children(1),
        intLit(children(2), "graft_tfidf_topk", "k"))
    })

  private val assignNearestFunction: (String, Seq[Expression] => Expression) = (
    "graft_assign_nearest",
    (children: Seq[Expression]) => {
      requireArity(children, 2, "graft_assign_nearest(uv, cents)")
      AssignNearest(children(0), children(1))
    })

  /** Idempotent registration on an already-built session. Builders are
    * the SAME values the injectFunction path ships — the arity checks
    * (requireArity's readable signature errors) must not differ
    * between the two registration paths.
    */
  def registerOn(spark: SparkSession): Unit = {
    Seq(dotFunction, pqAdcFunction, minhashFunction, shinglesFunction,
        fingerprintFunction, simhashFunction, hllRegFunction,
        collapseFunction, textstatsFunction, gramStatsFunction,
        sortedPairsFunction, sortedPairsPackedFunction,
        firstCollisionFunction, bloomPosFunction,
        bloomMightFunction, hllAggFunction, bigramTableFunction,
        shingleExplodeFunction,
        removeSpansFunction, termCountsFunction, bigramCountsFunction,
        bm25TopKFunction, perplexityFunction, prefixC1Function,
        perplexityModelFunction, cosinePairsFunction, assignNearestFunction,
        tfidfTopKFunction, dsirBucketsFunction, dsirScoreFunction,
        sortableBitsFunction, sortedOverlapFunction, editPairsFunction)
      .foreach { case (name, builder) =>
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          name, builder, "built-in")
      }
    if (!spark.experimental.extraOptimizations.contains(LatestWindowToMaxBy))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ LatestWindowToMaxBy
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy
    if (!spark.experimental.extraStrategies.contains(PrefixPairsStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ PrefixPairsStrategy
  }
}
