package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Exact deduplication operators (mandate: training-data pipelines).
  *
  * `keepMinBy` is the scale-correct form of "dropDuplicates keeping the
  * first": a hash aggregate with map-side partial min_by, one shuffle on
  * the dedup key. `dropDuplicates` itself is nondeterministic about WHICH
  * duplicate survives under parallel execution — fine for set semantics,
  * wrong when lineage matters (keep the earliest doc_id), so pipelines
  * that care use this instead.
  */
object Dedup {

  /** One survivor per key: the row minimizing `ord` (deterministic). */
  def keepMinBy(df: DataFrame, key: Seq[String], ord: Column): DataFrame = {
    val cols = df.columns.toSeq.map(col)
    df.groupBy(key.map(col): _*)
      .agg(min_by(struct(cols: _*), ord).as("_row"))
      .select(col("_row.*"))
  }
}
