package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Token n-gram shingling + exact Jaccard pair similarity (SURVEY Q19).
  *
  * The exact formulation: explode distinct shingles, self-join on the
  * shingle, count common shingles per pair, Jaccard = |∩| / (|A|+|B|-|∩|).
  * The self-join shuffles on the shingle value; shingle frequency is
  * near-uniform (3-token grams are almost unique), so no skew. At 100 TB
  * the exact form is only run on LSH candidates (see MinHashLsh) — this
  * full version is the correctness oracle for it.
  */
object Shingles {

  /** ALL (id, shingle) pairs in document order, duplicates included —
    * no shuffle at all (scan → explode). The right input for consumers
    * whose downstream op is idempotent per (id, s) (Bloom insertion and
    * probing) or that dedup later anyway.
    */
  def tokenShinglesRaw(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    df.select(col(idCol).as("id"), split(col(textCol), " ").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("id"), explode(expr(
        s"transform(sequence(0, size(t) - $n), i -> " +
          (0 until n).map(j => s"t[i + $j]").mkString("concat_ws(' ', ", ", ", ")") + ")"))
        .as("s"))
  }

  /** Distinct (id, shingle) pairs; n consecutive whitespace tokens. */
  def tokenShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    tokenShinglesRaw(df, idCol, textCol, n).distinct()

  /** Distinct (id, shingle) pairs of n consecutive CHARACTERS — the
    * tokenizer-free variant (robust to languages without whitespace
    * segmentation; zh documents here motivate it). Same downstream
    * machinery (jaccardPairs / MinHash) applies unchanged.
    */
  def charShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    df.select(col(idCol).as("id"), col(textCol).as("txt"))
      .filter(length(col("txt")) >= n)
      .select(col("id"), explode(expr(
        s"transform(sequence(1, length(txt) - ${n - 1}), i -> substring(txt, i, $n))"))
        .as("s"))
      .distinct()
  }

  /** All pairs (id_a < id_b) with Jaccard(shingle sets) >= threshold.
    * Output: doc_id_a, doc_id_b, jac.
    */
  def jaccardPairs(shingles: DataFrame, threshold: Double): DataFrame = {
    val card = shingles.groupBy(col("id")).agg(count(lit(1)).as("n"))
    // distinct column names on each side: self-joins on same-named
    // columns trip Spark's ambiguous-reference resolution
    val a = shingles.select(col("id").as("ida"), col("s").as("sa"))
    val b = shingles.select(col("id").as("idb"), col("s").as("sb"))
    val common = a.join(b, col("sa") === col("sb") && col("ida") < col("idb"))
      .groupBy(col("ida"), col("idb")).agg(count(lit(1)).as("c"))
    common
      .join(card.select(col("id").as("ida"), col("n").as("na")), "ida")
      .join(card.select(col("id").as("idb"), col("n").as("nb")), "idb")
      .withColumn("jac", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= threshold)
      .select(col("ida").as("doc_id_a"), col("idb").as("doc_id_b"), col("jac"))
  }
}
