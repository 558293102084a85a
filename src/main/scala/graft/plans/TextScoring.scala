package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native corpus-scoring expressions — the round-14 closure of the
  * text-scoring constant (`text_bm25` 10.8×, `text_perplexity` 16.8×
  * vs DuckDB at 10× corpus, both non-amortizing).
  *
  * The family insight is the same one that fixed `text_repetition`
  * ([[GramRepetitionStats]]): per-document token statistics never
  * cross documents, so exploding the token stream into a (doc, term)
  * exchange only to re-aggregate per document is pure overhead. What
  * DOES cross documents in BM25/perplexity is a *model* — document
  * frequencies, bigram/context counts, vocabulary size — and the
  * model is vocab-sized, not corpus-sized. So the plan becomes:
  *
  *  1. one map-side pass producing per-doc count arrays
  *     ([[TermCounts]] / [[BigramCounts]], codegen'd one-loop);
  *  2. vocab-sized aggregations (map-side partials) folded into a
  *     ONE-ROW model via `sort_array(collect_list(struct(...)))` —
  *     the J3 crossJoin(broadcast(1-row-aggregate)) pattern, no
  *     driver collect;
  *  3. a second map-side pass scoring each document against the
  *     broadcast model ([[Bm25TopK]] / [[PerplexityScore]]) with
  *     binary search over the sorted model arrays — reading the
  *     broadcast row's bytes in place inside WholeStageCodegen.
  *
  * Exchanges: vocab-sized only. Nothing document-grain ever shuffles.
  * At 100 TB the model row must fit a single row buffer (~10M-term
  * unigram vocab ≈ 200 MB — within the 2 GB row limit but worth
  * watching); past that the fallback is the classic postings join on
  * `term`, which these expressions deliberately do not preclude.
  *
  * Arithmetic mirrors the composed Column formulation operation for
  * operation (same literal values, same association order, Spark's
  * `round` = BigDecimal HALF_UP) so results hash-match the DuckDB
  * oracle unchanged; `TextScoringSpec` pins native == composed on the
  * real corpus.
  */

/** Per-document term counts: `array<struct<term, tf>>` sorted by term
  * (binary UTF8 order — the order `sort_array` gives the model side,
  * so the scorer's merge walk advances monotonically). Null tokens are
  * skipped (corpus tokens are split()-produced and never null); empty
  * tokens are COUNTED (the `length >= 1` pseudo-term filter is the
  * consumer's call — BM25 drops them, vocabulary size keeps them).
  */
case class TermCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_term_counts expects array<string>, got $t")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  override def nullable: Boolean = child.nullable

  override def nullSafeEval(v: Any): Any =
    TermCounts.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TermCounts.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}

object TermCounts {
  def compute(toks: ArrayData): GenericArrayData = {
    val n = toks.numElements()
    val counts = new java.util.HashMap[UTF8String, Array[Long]](
      Math.max(16, n * 2))
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        val c = counts.get(t)
        if (c == null) counts.put(t, Array(1L)) else c(0) += 1L
      }
      i += 1
    }
    val terms = counts.keySet().toArray(new Array[UTF8String](counts.size()))
    java.util.Arrays.sort(terms.asInstanceOf[Array[Object]])
    val out = new Array[Any](terms.length)
    var j = 0
    while (j < terms.length) {
      out(j) = new GenericInternalRow(
        Array[Any](terms(j), counts.get(terms(j))(0)))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-document bigram counts: `array<struct<w1, bg, c>>` sorted by
  * bigram text. Gram text is `UTF8String.concatWs(" ", w1, w2)` —
  * byte-identical to the composed `concat_ws(" ", w1, w2)` including
  * null skipping; `w1` rides along because the context count C(w1) is
  * a separate model table. One bigram per adjacent position, counted
  * with multiplicity.
  */
case class BigramCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_bigram_counts expects array<string>, got $t")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = true),
    StructField("bg", StringType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)

  override def nullable: Boolean = child.nullable

  override def nullSafeEval(v: Any): Any =
    BigramCounts.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.BigramCounts.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): BigramCounts =
    copy(child = newChild)
}

object BigramCounts {
  private val Space = UTF8String.fromString(" ")

  private final class Entry(val w1: UTF8String) { var c: Long = 1L }

  def compute(toks: ArrayData): GenericArrayData = {
    val n = toks.numElements()
    val counts = new java.util.HashMap[UTF8String, Entry](Math.max(16, n * 2))
    var i = 0
    while (i < n - 1) {
      val w1 = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      val w2 = if (toks.isNullAt(i + 1)) null else toks.getUTF8String(i + 1)
      val bg = UTF8String.concatWs(Space, w1, w2)
      val e = counts.get(bg)
      if (e == null) counts.put(bg, new Entry(w1)) else e.c += 1L
      i += 1
    }
    val grams = counts.keySet().toArray(new Array[UTF8String](counts.size()))
    java.util.Arrays.sort(grams.asInstanceOf[Array[Object]])
    val out = new Array[Any](grams.length)
    var j = 0
    while (j < grams.length) {
      val e = counts.get(grams(j))
      out(j) = new GenericInternalRow(Array[Any](e.w1, grams(j), e.c))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Shared model-array lookup: binary search a
  * `sort_array(collect_list(struct(key, value)))` model column for a
  * key, reading structs in place (O(1) access on UnsafeArrayData). A
  * missing key means the scoring pass and the model were built from
  * different corpora — fail loud, never score against a wrong model.
  */
private[plans] object ModelSearch {
  def findIndex(arr: ArrayData, key: UTF8String, fromIdx: Int,
      numFields: Int, what: String): Int = {
    var lo = fromIdx
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val cmp = arr.getStruct(mid, numFields).getUTF8String(0).compareTo(key)
      if (cmp < 0) lo = mid + 1
      else if (cmp > 0) hi = mid - 1
      else return mid
    }
    throw new IllegalStateException(
      s"graft text-scoring model is missing $what '$key' — the model " +
        "and scoring passes must be built from the same corpus")
  }
}

/** The COMPLETE perplexity model from the global bigram table plus the
  * solo-token supplement: `graft_perplexity_model(c2arr, sup)` →
  * `struct(c2arr, c1arr, vs)` (the [[PerplexityScore]] input contract).
  * One walk over the bg-sorted c2 array derives the context table
  * (prefix-contiguous sums: tokens hold no space, so a bg's prefix
  * before its first space is its w1, and binary sort keeps each w1's
  * bigrams contiguous) AND the
  * vocabulary size: every token of a ≥2-token document appears as the
  * w1 or w2 of one of its bigrams, so `vs = |{w1} ∪ {w2} ∪ sup|`
  * where `sup` is the `collect_set` of single-token documents' solo
  * tokens (0-token documents contribute nothing on either form).
  * This deletes the separate vocab leg entirely — its per-document
  * term-count kernel, its array bytes in the checkpoint, and its
  * term-grain two-phase distinct exchange. Runs ONCE on the one-row
  * model fold; O(|bigram vocab|) time and memory.
  */
case class PerplexityModel(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StructType(Array(StructField(_, StringType, _, _),
          StructField(_, LongType, _, _))), _),
          ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"graft_perplexity_model expects (array<struct<bg, c2>>, " +
          s"array<string>), got ($a, $b)")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("c2arr", left.dataType, nullable = false),
    StructField("c1arr", ArrayType(StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("c1", LongType, nullable = false))),
      containsNull = false), nullable = false),
    StructField("vs", LongType, nullable = false)))

  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(c2: Any, sup: Any): Any =
    PerplexityModel.compute(c2.asInstanceOf[ArrayData],
      sup.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c2, sup) =>
      s"${ev.value} = graft.plans.PerplexityModel.compute($c2, $sup);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PerplexityModel =
    copy(left = newLeft, right = newRight)
}

object PerplexityModel {
  private val Space = UTF8String.fromString(" ")

  def compute(c2arr: ArrayData, sup: ArrayData): InternalRow = {
    val n = c2arr.numElements()
    val vocab = new java.util.HashSet[UTF8String](Math.max(16, n * 2))
    val keys = new java.util.ArrayList[UTF8String](Math.min(n, 1024))
    val sums = new java.util.ArrayList[Array[Long]](Math.min(n, 1024))
    var i = 0
    while (i < n) {
      val e = c2arr.getStruct(i, 2)
      val bg = e.getUTF8String(0)
      val sp = bg.indexOf(Space, 0)
      if (sp >= 0) { // no-space bg = null-member bigram: never scored
        val w1 = bg.substring(0, sp)
        vocab.add(w1)
        vocab.add(bg.substring(sp + 1, bg.numChars()))
        val last = keys.size() - 1
        if (last >= 0 && keys.get(last).equals(w1)) sums.get(last)(0) += e.getLong(1)
        else { keys.add(w1); sums.add(Array(e.getLong(1))) }
      }
      i += 1
    }
    var s = 0
    val ns = sup.numElements()
    while (s < ns) {
      if (!sup.isNullAt(s)) vocab.add(sup.getUTF8String(s))
      s += 1
    }
    val m = keys.size()
    val order = Array.tabulate(m)(identity)
    var sorted = true
    i = 1
    while (i < m && sorted) {
      if (keys.get(i - 1).compareTo(keys.get(i)) > 0) sorted = false
      i += 1
    }
    if (!sorted) { // control-byte tokens only; ModelSearch needs sorted keys
      val boxed = order.map(Integer.valueOf)
      java.util.Arrays.sort(boxed,
        java.util.Comparator.comparing[Integer, UTF8String](
          (j: Integer) => keys.get(j)))
      var b = 0
      while (b < m) { order(b) = boxed(b); b += 1 }
    }
    val c1out = new Array[Any](m)
    var k = 0
    while (k < m) {
      val j = order(k)
      c1out(k) = new GenericInternalRow(Array[Any](keys.get(j), sums.get(j)(0)))
      k += 1
    }
    new GenericInternalRow(Array[Any](c2arr.copy(),
      new GenericArrayData(c1out), vocab.size().toLong))
  }
}

/** Okapi BM25 top-k terms for one document against the broadcast
  * corpus model `struct(dfarr: array<struct<term, df>>, n_docs,
  * avgdl)`. Empty-string pseudo-terms are dropped (the composed
  * `length >= 1` filter); scoring replicates the composed Column
  * arithmetic exactly (`ln((N - df + 0.5) / (df + 0.5) + 1)` ×
  * saturating length-normalized tf, rounded HALF_UP to 6); selection
  * replicates the rank window's `(round(bm25, 9) DESC, term ASC)`
  * ordering. Returns `array<struct<rank, term, bm25>>` of size ≤ k.
  */
case class Bm25TopK(first: Expression, second: Expression,
    third: Expression, k: Int, k1: Double, b: Double)
  extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(_: StructType, _), LongType,
            StructType(Array(StructField(_, ArrayType(_: StructType, _), _, _),
              StructField(_, LongType, _, _),
              StructField(_, DoubleType, _, _)))) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b2, c) => TypeCheckResult.TypeCheckFailure(
        "graft_bm25_topk expects (array<struct<term, tf>>, bigint, " +
          s"struct<dfarr, n_docs, avgdl>), got ($a, $b2, $c)")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("rank", LongType, nullable = false),
    StructField("term", StringType, nullable = false),
    StructField("bm25", DoubleType, nullable = false))), containsNull = false)

  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable

  override def nullSafeEval(tc: Any, dl: Any, model: Any): Any =
    Bm25TopK.compute(tc.asInstanceOf[ArrayData], dl.asInstanceOf[Long],
      model.asInstanceOf[InternalRow], k, k1, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (tc, dl, model) =>
      s"${ev.value} = graft.plans.Bm25TopK.compute($tc, $dl, $model, " +
        s"$k, ${k1}D, ${b}D);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Bm25TopK =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object Bm25TopK {
  def compute(tcA: ArrayData, dl: Long, model: InternalRow, k: Int,
      k1: Double, b: Double): GenericArrayData = {
    val dfArr = model.getArray(0)
    val nDocs = model.getLong(1)
    val avgdl = model.getDouble(2)
    val n = tcA.numElements()
    val terms = new Array[UTF8String](n)
    val scores = new Array[Double](n)
    var m = 0
    val k1p1 = k1 + 1
    val oneMinusB = 1 - b
    // both tc and dfarr are term-sorted: each lookup starts past the
    // previous hit, so the binary search range shrinks as we walk
    var from = 0
    var i = 0
    while (i < n) {
      val e = tcA.getStruct(i, 2)
      val term = e.getUTF8String(0)
      if (term.numBytes() > 0) { // composed length(term) >= 1 filter
        val idx = ModelSearch.findIndex(dfArr, term, from, 2, "term")
        from = idx + 1
        val df = dfArr.getStruct(idx, 2).getLong(1)
        val tf = e.getLong(1)
        // association order mirrors the Column form:
        // (idf * (tf * (k1+1))) / (tf + k1 * ((1-b) + (dl * b) / avgdl))
        val idf = Math.log((nDocs - df + 0.5d) / (df + 0.5d) + 1d)
        val raw = idf * (tf * k1p1) / (tf + k1 * (oneMinusB + dl * b / avgdl))
        terms(m) = term
        scores(m) = java.math.BigDecimal.valueOf(raw)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        m += 1
      }
      i += 1
    }
    TopKSelect.select(terms, scores, m, k)
  }
}

/** TF-IDF top-k terms for one document against the broadcast corpus
  * model `struct(dfarr: array<struct<term, df>>, n_docs)` — same
  * model-array + map-side-selection shape as [[Bm25TopK]] with the
  * plain `tf · ln(N / df)` score (rounded HALF_UP to 6; rank order
  * `round(score, 9) DESC, term ASC`). Returns
  * `array<struct<rank, term, tfidf>>` of size ≤ k.
  */
case class TfIdfTopK(left: Expression, right: Expression, k: Int)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(_: StructType, _),
            StructType(Array(StructField(_, ArrayType(_: StructType, _), _, _),
              StructField(_, LongType, _, _)))) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        "graft_tfidf_topk expects (array<struct<term, tf>>, " +
          s"struct<dfarr, n_docs>), got ($a, $b)")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("rank", LongType, nullable = false),
    StructField("term", StringType, nullable = false),
    StructField("tfidf", DoubleType, nullable = false))), containsNull = false)

  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(tc: Any, model: Any): Any =
    TfIdfTopK.compute(tc.asInstanceOf[ArrayData],
      model.asInstanceOf[InternalRow], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (tc, model) =>
      s"${ev.value} = graft.plans.TfIdfTopK.compute($tc, $model, $k);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): TfIdfTopK =
    copy(left = newLeft, right = newRight)
}

object TfIdfTopK {
  def compute(tcA: ArrayData, model: InternalRow, k: Int): GenericArrayData = {
    val dfArr = model.getArray(0)
    val nDocs = model.getLong(1)
    val n = tcA.numElements()
    val terms = new Array[UTF8String](n)
    val scores = new Array[Double](n)
    var m = 0
    var from = 0
    var i = 0
    while (i < n) {
      val e = tcA.getStruct(i, 2)
      val term = e.getUTF8String(0)
      if (term.numBytes() > 0) { // composed length(term) >= 1 filter
        val idx = ModelSearch.findIndex(dfArr, term, from, 2, "term")
        from = idx + 1
        val df = dfArr.getStruct(idx, 2).getLong(1)
        val tf = e.getLong(1)
        // mirrors col("tf") * log(col("n_docs") / col("df"))
        val raw = tf * Math.log(nDocs.toDouble / df.toDouble)
        terms(m) = term
        scores(m) = java.math.BigDecimal.valueOf(raw)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        m += 1
      }
      i += 1
    }
    TopKSelect.select(terms, scores, m, k)
  }
}

/** Shared rank-window replacement: order the scored entries by
  * `(score DESC, term ASC)` (scores already rounded — the window's
  * `round(score, 9)` rank key is identity on them) and emit the first
  * k as `struct(rank, term, score)`.
  */
private[plans] object TopKSelect {
  def select(terms: Array[UTF8String], scores: Array[Double], m: Int,
      k: Int): GenericArrayData = {
    val order = new Array[Integer](m)
    var j = 0
    while (j < m) { order(j) = j; j += 1 }
    java.util.Arrays.sort(order, (x: Integer, y: Integer) => {
      val c = java.lang.Double.compare(scores(y), scores(x))
      if (c != 0) c else terms(x).compareTo(terms(y))
    })
    val sz = Math.min(k, m)
    val out = new Array[Any](sz)
    j = 0
    while (j < sz) {
      val idx = order(j).intValue()
      out(j) = new GenericInternalRow(
        Array[Any]((j + 1).toLong, terms(idx), scores(idx)))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-document DSIR bucket histogram: tokens hash into 256 buckets
  * (first two lowercase-hex chars of md5 — byte-identical to the
  * composed `substring(md5(tok), 1, 2)`), counted with multiplicity
  * into a sparse `array<struct<bucket, c>>` sorted by bucket. One md5
  * per token occurrence in ONE pass — the composed form exploded and
  * re-hashed the token stream twice (bucket-count pass + scoring
  * pass). Null tokens are skipped (split() never produces them).
  */
case class DsirBuckets(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_dsir_buckets expects array<string>, got $t")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("bucket", StringType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)

  override def nullable: Boolean = child.nullable

  override def nullSafeEval(v: Any): Any =
    DsirBuckets.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.DsirBuckets.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): DsirBuckets =
    copy(child = newChild)
}

object DsirBuckets {
  private val HexChars = "0123456789abcdef".toCharArray

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(toks: ArrayData): GenericArrayData = {
    val n = toks.numElements()
    val counts = new Array[Long](256)
    val md = digest.get()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        md.reset()
        val b = md.digest(toks.getUTF8String(i).getBytes)
        counts(b(0) & 0xff) += 1L
      }
      i += 1
    }
    var nz = 0
    i = 0
    while (i < 256) { if (counts(i) != 0L) nz += 1; i += 1 }
    val out = new Array[Any](nz)
    var j = 0
    i = 0
    while (i < 256) {
      if (counts(i) != 0L) {
        val s = new String(
          Array(HexChars(i >>> 4), HexChars(i & 0xf)))
        out(j) = new GenericInternalRow(
          Array[Any](UTF8String.fromString(s), counts(i)))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** DSIR per-document score against the broadcast 256-bucket log-ratio
  * model `array<struct<bucket, lr_micro>>` (bucket-sorted): the exact
  * BIGINT sum `Σ c_b · lr_micro(b)` the composed per-token join +
  * groupBy computed — integer micro units, so the value is identical,
  * not merely close. Fails loud on a bucket absent from the model
  * (impossible when model and scoring share a corpus).
  */
case class DsirScore(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(_: StructType, _), ArrayType(_: StructType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        "graft_dsir_score expects (array<struct<bucket, c>>, " +
          s"array<struct<bucket, lr_micro>>), got ($a, $b)")
    }

  override def dataType: DataType = LongType

  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(bc: Any, lr: Any): Any =
    DsirScore.compute(bc.asInstanceOf[ArrayData], lr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bc, lr) =>
      s"${ev.value} = graft.plans.DsirScore.compute($bc, $lr);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DsirScore =
    copy(left = newLeft, right = newRight)
}

object DsirScore {
  def compute(bcA: ArrayData, lrA: ArrayData): Long = {
    val n = bcA.numElements()
    var sum = 0L
    var from = 0
    var i = 0
    while (i < n) {
      val e = bcA.getStruct(i, 2)
      val idx = ModelSearch.findIndex(lrA, e.getUTF8String(0), from, 2,
        "bucket")
      from = idx + 1
      sum += e.getLong(1) * lrA.getStruct(idx, 2).getLong(1)
      i += 1
    }
    sum
  }
}

/** Add-one-smoothed bigram-LM negative log-likelihood for one document
  * against the broadcast corpus model `struct(c2arr: array<struct<bg,
  * c2>>, c1arr: array<struct<w1, c1>>, vs)`. Returns
  * `struct(n_bigrams, avg_nll)` — `(0, null)` for documents with no
  * bigrams, mirroring the composed form's left-join + COALESCE.
  * Per-bigram `lp = ln((c2+1) / (c1+V))` exactly as the composed
  * Column form; the per-doc sum multiplies by the count (float-assoc
  * differs from per-occurrence addition in the last ulp — absorbed by
  * the 4-decimal rounding, the same absorption the composed form
  * already relies on for its shuffle-order-dependent sum).
  */
case class PerplexityScore(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(_: StructType, _),
            StructType(Array(StructField(_, ArrayType(_: StructType, _), _, _),
              StructField(_, ArrayType(_: StructType, _), _, _),
              StructField(_, LongType, _, _)))) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        "graft_perplexity expects (array<struct<w1, bg, c>>, " +
          s"struct<c2arr, c1arr, vs>), got ($a, $b)")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("avg_nll", DoubleType, nullable = true)))

  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(bc: Any, model: Any): Any =
    PerplexityScore.compute(bc.asInstanceOf[ArrayData],
      model.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bc, model) =>
      s"${ev.value} = graft.plans.PerplexityScore.compute($bc, $model);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PerplexityScore =
    copy(left = newLeft, right = newRight)
}

object PerplexityScore {
  def compute(bcA: ArrayData, model: InternalRow): InternalRow = {
    val c2arr = model.getArray(0)
    val c1arr = model.getArray(1)
    val vs = model.getLong(2)
    val n = bcA.numElements()
    var total = 0L
    var sum = 0.0d
    // bc is bg-sorted → c2 lookups advance; w1 order is arbitrary →
    // c1 lookups search the full context table each time
    var from = 0
    var i = 0
    while (i < n) {
      val e = bcA.getStruct(i, 3)
      // a null w1 never joins in the composed form (inner join on the
      // context key) — skip the entry entirely, matching it
      if (!e.isNullAt(0)) {
        val w1 = e.getUTF8String(0)
        val bg = e.getUTF8String(1)
        val c = e.getLong(2)
        val i2 = ModelSearch.findIndex(c2arr, bg, from, 2, "bigram")
        from = i2 + 1
        val c2 = c2arr.getStruct(i2, 2).getLong(1)
        val i1 = ModelSearch.findIndex(c1arr, w1, 0, 2, "context")
        val c1 = c1arr.getStruct(i1, 2).getLong(1)
        val lp = Math.log((c2 + 1L).toDouble / (c1 + vs).toDouble)
        sum += c * lp
        total += c
      }
      i += 1
    }
    if (total == 0L) return InternalRow(0L, null)
    val avg = java.math.BigDecimal.valueOf(-sum / total)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    InternalRow(total, avg)
  }
}
