package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** SimHash near-duplicate detection (64-bit) with pigeonhole-chunked
  * candidate generation.
  *
  * Signature: per token, xxhash64; each of the 64 bit positions votes
  * ±1; the sign of the per-document vote sum sets the signature bit.
  * Similar token multisets → small Hamming distance.
  *
  * Pair generation never goes O(n²): split the 64-bit signature into
  * (maxHamming + 1) chunks — two signatures within maxHamming Hamming
  * distance must agree on at least one whole chunk (pigeonhole), so a
  * join on (chunkIdx, chunkValue) finds every qualifying pair; popcount
  * on the XOR verifies. Chunk-join fan-out is bounded by chunk-value
  * collision rates, not by corpus size.
  */
object SimHash {

  /** (id, simhash: Long). One custom Aggregator (SimHashAgg) accumulates
    * all 64 bit votes per document in a single buffer — the 64-column
    * sum() formulation evaluated 64 aggregate updates per token.
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val votes = org.apache.spark.sql.functions.udaf(graft.functions.SimHashAgg)
    docs
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
      .groupBy(col("id"))
      .agg(votes(col("h")).as("simhash"))
  }

  /** Pairs (id_a < id_b) with Hamming(simhash) <= maxHamming. */
  def pairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    require(64 % chunks == 0,
      s"maxHamming + 1 must divide 64 (got $chunks) so chunks tile the signature")
    val width = 64 / chunks
    val chunked = sigs.select(col("id"), col("simhash"),
      explode(array((0 until chunks).map { cIdx =>
        struct(lit(cIdx).as("c"),
          shiftright(col("simhash"), cIdx * width)
            .bitwiseAND((1L << width) - 1).as("v"))
      }: _*)).as("ch"))
      .select(col("id"), col("simhash"), col("ch.c").as("c"), col("ch.v").as("v"))
    val l = chunked.select(col("id").as("doc_id_a"), col("simhash").as("sa"),
      col("c"), col("v"))
    val r = chunked.select(col("id").as("doc_id_b"), col("simhash").as("sb"),
      col("c"), col("v"))
    l.join(r, Seq("c", "v")).filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame =
    pairs(signatures(docs, idCol, textCol), maxHamming)
}
