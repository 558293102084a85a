package graft

import org.apache.spark.sql.functions._

import graft.functions.{MinHash, Text}
import graft.ref.{MinHashRef, TextRef}

/** The native codegen'd minhash expression must agree with the
  * builtin-HOF md5 formulation byte-for-byte (same family definition),
  * and the poly family must match a hand-computed fold.
  */
class MinHashSignatureSpec extends SparkSpec {

  private def shingled = {
    val docs = Tables.documents(spark, sf)
    docs.select(col("doc_id"),
      array_distinct(Text.shingles(Text.tokens(col("text")), 3)).as("s"))
  }

  test("native shingles == HOF shingles on the corpus (incl. short docs)") {
    val docs = Tables.documents(spark, sf)
    val diff = docs.select(
        Text.shingles(Text.tokens(col("text")), 3).as("native"),
        TextRef.shinglesHof(Text.tokens(col("text")), 3).as("hof"))
      .filter(not(col("native") <=> col("hof")))
    assert(diff.isEmpty)
    // short-document fallback + concat_ws null-skip parity
    import spark.implicits._
    val edge = Seq(Seq("one", "two"), Seq("a", null, "b", "c")).toDF("toks")
      .select(Text.shingles(col("toks"), 3).as("native"),
        TextRef.shinglesHof(col("toks"), 3).as("hof"))
      .filter(not(col("native") <=> col("hof")))
    assert(edge.isEmpty)
  }

  test("native md5 signature == HOF md5 signature") {
    val df = shingled
      .withColumn("native", MinHash.signature(col("s"), 16))
      .withColumn("hof", MinHashRef.signatureHof(col("s"), 16))
      .filter(not(col("native") <=> col("hof")))
    assert(df.isEmpty)
  }

  test("native md5 signature: interpreted == codegen") {
    // forcing interpreted eval via filter on a non-codegen context is
    // brittle; instead evaluate the expression object directly
    val expr = graft.plans.MinHashSignature(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array("a b c", "b c d"),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
      4, "md5")
    val interpreted = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toArray[org.apache.spark.unsafe.types.UTF8String](
        org.apache.spark.sql.types.StringType).map(_.toString)
    // reference: min over md5(i|s) computed with java's MessageDigest
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = (0 until 4).map { i =>
      Seq("a b c", "b c d").map(s => md5hex(s"$i|$s")).min
    }
    assert(interpreted.toSeq == expected)
  }

  test("poly family matches the seeded codepoint fold") {
    val expr = graft.plans.MinHashSignature(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array("ab", "xyz"),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
      3, "poly")
    val got = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    def poly(seed: Long, s: String): Long =
      s.codePoints().toArray.foldLeft(seed)((h, c) => (h * 131 + c) % 1000000007L)
    val expected = (0 until 3).map(i => Seq("ab", "xyz").map(s => poly(i + 1, s)).min)
    assert(got == expected)
  }

  test("fast-family query equals md5-family query structure on planted dup") {
    // both families' verified pairs must contain the exact duplicate
    // (doc 0's duplicate is planted by the generator — see TESTDATA.md)
    val fast = graft.queries.TextQueries.dedupMinhashFast(spark, sf)
    assert(fast.filter(col("jaccard") >= 0.9).count() >= 1)
  }
}
