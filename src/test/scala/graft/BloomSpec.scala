package graft

import org.apache.spark.sql.functions._
import graft.functions.BloomAgg
import graft.ops.CorpusOps

class BloomSpec extends SparkSpec {
  import spark.implicits._

  test("Bloom filter: every inserted item tests true (no false negatives)") {
    val items = (1L to 2000L).map(i => s"item-$i")
    val df = items.toDF("s")
    val bloom = df.select(BloomAgg.lift(col("s")).as("h"))
      .agg(udaf(BloomAgg).apply(col("h")).as("bloom"))
    val misses = df.crossJoin(broadcast(bloom))
      .filter(!BloomAgg.mightContain(col("bloom"), col("s")))
      .count()
    assert(misses == 0)
  }

  test("Bloom filter: false-positive rate on absent items is within ~2x theory") {
    val present = (1L to 2000L).map(i => s"item-$i").toDF("s")
    val bloom = present.select(BloomAgg.lift(col("s")).as("h"))
      .agg(udaf(BloomAgg).apply(col("h")).as("bloom"))
    val absent = (1L to 20000L).map(i => s"absent-$i").toDF("s")
    val fp = absent.crossJoin(broadcast(bloom))
      .filter(BloomAgg.mightContain(col("bloom"), col("s")))
      .count()
    // n=2000, m=2^20, K=4 → fp ≈ (Kn/m)^K ≈ 3.4e-9; even 1 hit in 20k
    // would be ~300× theory — allow a couple to keep the test unflaky
    assert(fp <= 2, s"false positives: $fp / 20000")
  }

  test("Bloom filter build is partition-invariant (OR merge)") {
    val df = (1L to 500L).map(i => s"x$i").toDF("s")
    def build(d: org.apache.spark.sql.DataFrame) =
      d.select(BloomAgg.lift(col("s")).as("h"))
        .agg(udaf(BloomAgg).apply(col("h")).as("bloom"))
        .as[Seq[Long]].head()
    assert(build(df) == build(df.repartition(7)))
  }

  test("bloomContaminated flags a superset of the exact semi-join; probe side has no shuffle") {
    val docs = Tables.documents(spark, sf001)
    val cands = docs.filter(col("doc_id") % 50 =!= 0)
    val evalD = docs.filter(col("doc_id") % 50 === 0)
    val exact = CorpusOps.contaminated(cands, evalD, "doc_id", "text", 5)
      .as[Long].collect().toSet
    val flaggedDf = CorpusOps.bloomContaminated(cands, evalD, "doc_id", "text", 5)
    val flagged = flaggedDf.as[Long].collect().toSet
    assert(exact.subsetOf(flagged),
      s"missed: ${exact -- flagged}")
    // The corpus-side shingle relation is never exchanged (the point of
    // the operator); the two exchanges are the bloom build's global agg
    // (constant-size partial buffers) and the tiny flagged-id distinct.
    // AQE-safe count — the old naive count returned 0 under AQE and the
    // former `<= 1` passed vacuously.
    val n = shufflesOf(
      CorpusOps.bloomContaminated(cands, evalD, "doc_id", "text", 5))
    assert(n == 2, s"got $n shuffles")
  }
}
