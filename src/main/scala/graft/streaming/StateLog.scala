package graft.streaming

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Append-only micro-batch STATE LOG with base-generation compaction —
  * the delta-log warehouse lifecycle applied to a streaming stage's
  * own state, so that per-batch state maintenance writes O(churn), not
  * O(state):
  *
  * {{{
  *   <base>/log/batch_id=N/…    one dir per micro-batch (overwrite →
  *                              idempotent under checkpoint replay)
  *   <base>/base/gen_k/…        folded snapshot up to some batch
  *   <base>/CURRENT             "gen_k <upToBatchId>" (atomic swap)
  * }}}
  *
  * A reader folds `base(CURRENT)` plus the log batches with
  * `upTo < batch_id < currentBatch` — the strict upper bound is the
  * replay guard: a crashed batch B re-runs against exactly the state
  * it first saw (its own half-written log dir is excluded, and
  * compaction never folds past B−1, so B's effects are never baked
  * into a base the replay then re-applies).
  *
  * The FOLD stays with the caller (additive support sums, latest-
  * per-key labels, …); this object owns only layout, pointers, replay
  * guards, and retention.
  */
object StateLog {

  final case class Pointer(gen: Option[String], upTo: Long)

  def pointer(base: String): Pointer = {
    val cur = Paths.get(s"$base/CURRENT")
    if (!Files.exists(cur)) Pointer(None, -1L)
    else {
      val parts = Files.readString(cur).trim.split("\\s+")
      Pointer(Some(parts(0)), parts(1).toLong)
    }
  }

  /** The folded base snapshot, or an empty frame before any compaction. */
  def readBase(spark: SparkSession, base: String,
      schema: StructType): DataFrame =
    pointer(base).gen match {
      case Some(g) => spark.read.schema(schema).parquet(s"$base/base/$g")
      case None =>
        spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
          schema)
    }

  /** Log rows visible to `currentBatch`: strictly after the base's
    * watermark, strictly before the batch being (re)computed. Schema
    * must include the `batch_id BIGINT` partition column.
    */
  def readLog(spark: SparkSession, base: String, schema: StructType,
      currentBatch: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dir = s"$base/log"
    if (!Files.isDirectory(Paths.get(dir)))
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        schema)
    else {
      val p = pointer(base)
      spark.read.schema(schema).parquet(dir)
        .filter(col("batch_id") > p.upTo && col("batch_id") < currentBatch)
    }
  }

  /** Latest-per-key LIVE rows of a delta log ([[StatefulLww.Delta]]
    * rows plus `batch_id`): one (key, rowJson) per key whose highest
    * batch's word is an upsert. Over a FLAT log (the ann/dedup doc-log
    * shape, `<dir>/batch_id=N`) it is O(log history) — fine for one-shot
    * verbs (replay), not a serving path; a compacted log passes its base
    * (stamped below every batch) unioned with the visible log window.
    */
  def latestLiveRows(deltas: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    deltas.groupBy(col("key"))
      .agg(max_by(struct(col("action"), col("rowJson")),
        col("batch_id")).as("w"))
      .filter(col("w.action") === "upsert")
      .select(col("key"), col("w.rowJson").as("rowJson"))
  }

  /** Append one micro-batch's churn (overwrite → replay-idempotent). */
  def appendBatch(df: DataFrame, base: String, batchId: Long): Unit = {
    df.write.mode("overwrite").parquet(s"$base/log/batch_id=$batchId")
    ()
  }

  private def logBatchDirs(base: String): Seq[java.io.File] =
    Option(new java.io.File(s"$base/log").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .toSeq

  /** Number of log batches currently on disk (compaction trigger). */
  def logBatchCount(base: String): Int = logBatchDirs(base).size

  /** Highest batch id currently in the log, or the base watermark when
    * the log is empty — the `upTo` a drained-consumer compaction passes.
    */
  def maxBatchId(base: String): Long = {
    val ids = logBatchDirs(base)
      .map(_.getName.stripPrefix("batch_id=").toLong)
    if (ids.isEmpty) pointer(base).upTo else ids.max
  }

  /** Publish `folded` (the caller's fold of base + log up to and
    * INCLUDING `upTo`) as the next base generation, atomically repoint
    * CURRENT, and prune folded-in log dirs plus superseded generations.
    * Callers must pass `upTo <= currentBatch - 1` — never the batch
    * still being processed (see the replay guard above).
    */
  def compact(folded: DataFrame, base: String, upTo: Long,
      keepGens: Int = 2): Unit = {
    val b = Paths.get(base)
    Files.createDirectories(b.resolve("base"))
    val existing = Option(b.resolve("base").toFile.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("gen_"))
      .map(_.getName.stripPrefix("gen_").toInt)
    val gen = if (existing.isEmpty) 0 else existing.max + 1
    folded.write.mode("overwrite").parquet(s"$base/base/gen_$gen")
    val tmp = b.resolve("CURRENT.tmp")
    Files.writeString(tmp, s"gen_$gen $upTo")
    Files.move(tmp, b.resolve("CURRENT"), StandardCopyOption.ATOMIC_MOVE)
    // retention: folded-in log batches and all but the newest gens
    logBatchDirs(base)
      .filter(_.getName.stripPrefix("batch_id=").toLong <= upTo)
      .foreach(deleteRecursively)
    existing.sorted.dropRight(keepGens - 1)
      .foreach(g => deleteRecursively(new java.io.File(s"$base/base/gen_$g")))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      .foreach(deleteRecursively)
    f.delete()
    ()
  }
}
