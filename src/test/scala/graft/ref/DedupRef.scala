package graft.ref

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Test-scope reference forms of [[graft.ext.Dedup]]: the
  * formulations its production code is spec-checked against. Nothing
  * outside the specs runs them.
  */
object DedupRef {

  /** LSH candidate pairs (id_a < id_b): explode band keys, self-join on
    * (band index, band key). The join input is |docs| x numBands short
    * rows; AQE handles degenerate-bucket skew.
    */
  def minhashCandidates(banded: DataFrame, idCol: String): DataFrame = {
    val exploded = banded
      .select(col(idCol), posexplode(col("bands")).as(Seq("band_idx", "band_key")))
    val a = exploded.select(col(idCol).as("id_a"), col("band_idx"), col("band_key"))
    val b = exploded.select(col(idCol).as("id_b"), col("band_idx"), col("band_key"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** The blocked self-join form of [[graft.ext.Dedup.fuzzyPairsBlocked]] — the
    * derivation the DuckDB oracle replays, kept as the equality twin
    * for the salted-kernel rewrite's spec and scale A/B.
    */
  def fuzzyPairsJoined(df: DataFrame, idCol: String,
      textCol: String, blockCol: String, prefixLen: Int,
      maxDist: Int): DataFrame = {
    val p = df.select(col(blockCol), col(idCol),
      substring(col(textCol), 1, prefixLen).as("_p"))
    val a = p.select(col(blockCol), col(idCol).as("id_a"), col("_p").as("_pa"))
    val b = p.select(col(blockCol), col(idCol).as("id_b"), col("_p").as("_pb"))
    a.join(b, Seq(blockCol))
      .filter(col("id_a") < col("id_b"))
      // thresholded levenshtein runs the banded O(p·maxDist) algorithm
      // and returns -1 past the cutoff — same kept pairs, ~O(p/maxDist)×
      // cheaper on the (dominant) far pairs
      .withColumn("edit_dist",
        levenshtein(col("_pa"), col("_pb"), maxDist).cast("long"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  /** The blocked self-join form of [[graft.ext.Dedup.embeddingNearDups]] — the
    * derivation the DuckDB oracle replays, kept as the equality twin
    * for the salted-kernel rewrite's spec and scale A/B.
    */
  def embeddingNearDupsJoined(df: DataFrame, idCol: String,
      vecCol: String, blockCol: String, minCosine: Double): DataFrame = {
    val e = Vectors.unitized(df, vecCol, idCol -> idCol,
        blockCol -> blockCol)
      .withColumnRenamed("_uv", "_u")
    val a = e.select(col(blockCol), col(idCol).as("id_a"), col("_u").as("_va"))
    val b = e.select(col(blockCol), col(idCol).as("id_b"), col("_u").as("_vb"))
    a.join(b, Seq(blockCol))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(Vectors.dot(col("_va"), col("_vb")), 4))
      .filter(col("cosine") >= minCosine)
      .select(col(blockCol), col("id_a"), col("id_b"), col("cosine"))
  }
}
