package graft.cdc

import graft.streaming.StatefulLww
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Incrementally-maintained aggregate view from a CDC DELTA stream —
  * the streaming-OLAP bridge: per-group count and sum stay current by
  * applying each delta's ±contributions, never re-reading or
  * re-materializing the snapshot. At 100 TB the difference is the whole
  * point: the snapshot aggregate touches every row ever; this touches
  * each CHANGE once.
  *
  * The arithmetic is uniform across delta kinds because every delta
  * carries the new row AND the previous one
  * ([[graft.streaming.StatefulLww.Delta]]): insert contributes (+new),
  * delete (−prev), update (+new, −prev) — so n_rows = Σ sign and
  * total = Σ sign·value per group, with an update that MOVES a row
  * between groups handled for free (the −prev lands in the old group,
  * the +new in the new one). Sums run in DECIMAL: retractions must
  * cancel exactly or a long-running view drifts (the q02 money rule,
  * sharpened by the ± arithmetic).
  */
object IncrementalAgg {

  /** (sgn, r) signed-row relation of a delta stream
    * ([[StatefulLww.signed]]), each side's row parsed after the explode.
    */
  private[cdc] def signedRows(deltas: DataFrame, rowSchema: StructType): DataFrame =
    StatefulLww.signed(deltas, _.as("js"))
      .select(col("c.sgn").as("sgn"), from_json(col("c.js"), rowSchema).as("r"))

  /** Per-group NET contributions of a delta relation: (group, n_rows,
    * total_dec) where n_rows = Σ sign and total_dec = Σ sign·value in
    * DECIMAL. No zero filtering — a micro-batch of pure updates nets
    * n_rows = 0 with a nonzero money delta, and an additive MERGE
    * (JdbcSink.mergeAdditive) must still apply it.
    */
  def contributions(deltas: DataFrame, rowSchema: StructType,
      groupCol: String, valueCol: String): DataFrame = {
    val contribs = signedRows(deltas, rowSchema)
    contribs
      .groupBy(col(s"r.$groupCol").as(groupCol))
      .agg(sum(col("sgn")).cast("long").as("n_rows"),
        // Per-row INTEGER cents — floor(v*100 + 0.5): identical IEEE
        // double in, identical integer out on ANY engine. Spark's
        // double→decimal(18,2) cast rounds the SHORTEST-STRING repr
        // (BigDecimal.valueOf + HALF_UP) while other engines scale the
        // exact binary value, so per-row cent disagreements would
        // otherwise accumulate across retractions. Cents sum exactly
        // as longs; divide back to money ONCE. Cap at (18,2) — JDBC
        // targets with a lower max precision (Derby: 31) otherwise
        // create the staging column with a TRUNCATED scale.
        (sum(col("sgn") * floor(col(s"r.$valueCol") * 100d + 0.5d))
          .cast("decimal(18,2)") / 100).cast("decimal(18,2)")
          .as("total_dec"))
  }

  /** Per-group (n_rows, total) from a delta relation (batch over the
    * delta history, or foreachBatch over a live delta stream). Groups
    * whose rows are all retracted net to zero and drop out, matching
    * the snapshot aggregate (zero live rows implies a zero money net —
    * every row's lifetime contributions telescope).
    */
  def sumCountByGroup(deltas: DataFrame, rowSchema: StructType,
      groupCol: String, valueCol: String): DataFrame =
    contributions(deltas, rowSchema, groupCol, valueCol)
      .filter(col("n_rows") =!= 0)
      .select(col(groupCol), col("n_rows"),
        col("total_dec").cast("double").as("total"))

  /** Incrementally-maintained per-group DISTINCT count — the classic
    * NON-additive view: count(DISTINCT v) cannot be updated from
    * ±value contributions alone (removing one of two rows holding the
    * same value must not decrement the count), so the view keeps a
    * SUPPORT refcount per (group, value): Σ sign over the deltas that
    * mention the pair. A value is live in a group iff its refcount is
    * positive; the distinct count is the number of live pairs.
    *
    * Incrementality: each delta touches exactly its own (group, value)
    * refcounts — insert +1, delete −1, update ±1 on the (possibly two
    * different) pairs — so the maintained state is the support table,
    * sized by LIVE DISTINCT pairs, not by history. Two keyed
    * aggregations: refcounts shuffle on (group, value) — the fine key,
    * so heavy groups spread across partitions — then the live pairs
    * (already far smaller) re-shuffle on the group. The same relation
    * under a JDBC additive MERGE on the refcount column keeps a
    * serving-store copy current (JdbcSink.mergeAdditive).
    */
  def distinctCountByGroup(deltas: DataFrame, rowSchema: StructType,
      groupCol: String, valueCol: String): DataFrame =
    liveSupport(deltas, rowSchema, groupCol, valueCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_distinct"))

  /** Incrementally-maintained per-group MIN/MAX — the other classic
    * non-invertible view: deleting the current extremum cannot be
    * answered from the aggregate alone (the runner-up is unknown), so
    * the view keeps the same live-support table as the distinct count
    * and takes min/max over the LIVE values. State is sized by live
    * distinct (group, value) pairs; a delete of the extremum simply
    * drops its support row and the next aggregate pass surfaces the
    * runner-up — no history replay, no snapshot re-scan. (A bounded
    * refinement for hot groups — keep only the top/bottom-k support
    * rows per group and re-derive on underflow — trades state for the
    * rare re-derivation; the full support table is the always-correct
    * form.) Values pass through UNTOUCHED (min/max does no arithmetic),
    * so doubles survive the JSON round-trip bit-identically on any
    * engine.
    */
  def minMaxByGroup(deltas: DataFrame, rowSchema: StructType,
      groupCol: String, valueCol: String): DataFrame =
    liveSupport(deltas, rowSchema, groupCol, valueCol)
      .groupBy(col(groupCol))
      .agg(min(col(valueCol)).as("min_val"), max(col(valueCol)).as("max_val"))

  /** Retraction-correct per-group TOP-K over the delta stream — the
    * failure case an append-only top-k (q86) cannot handle: a DELETE of
    * a reigning maximum must surface the runner-up. The view keeps the
    * live (group, id, value) support relation — each delta's ±rows
    * cancel exactly, so a deleted or updated-away row drops out — and
    * ranks the LIVE rows per group. Row identity is part of the support
    * key: two rows with equal values retract independently.
    *
    * Scale: the rank-filter form is deliberate — Catalyst rewrites
    * `row_number() <= k` into WindowGroupLimit, pruning each partition
    * to its local top-k BEFORE the group shuffle, so the sort never
    * materializes a full group (pinned in PlanSpec).
    */
  def topKByGroup(deltas: DataFrame, rowSchema: StructType,
      groupCol: String, valueCol: String, idCol: String, k: Int): DataFrame =
    rankSupport(liveSupportStream(deltas, rowSchema, groupCol, valueCol, idCol),
      groupCol, valueCol, idCol, k)

  /** The (group, id, value) support-refcount relation — [[topKByGroup]]
    * = this + [[rankSupport]]; over a STREAMING delta relation it is a
    * streaming aggregation whose complete-mode output hands the current
    * table to a foreachBatch server that ranks and rewrites the k-row
    * leaderboard. Deleting a reigning maximum drops its refcount to 0
    * and the next batch's ranking surfaces the runner-up — no replay,
    * no snapshot.
    *
    * STATE HONESTY: in streaming use the aggregation state holds every
    * (group, id, value) triple ever seen — refcnt-0 tombstones from
    * re-prices/deletes are never evicted (streaming aggs have no TTL),
    * so state is sized by DISTINCT HISTORICAL values, not live rows.
    * Bounded operation needs periodic restart-from-compacted-log (the
    * DeltaLog fold recomputes live support exactly) or a value-TTL
    * upstream; the batch fold form has no such growth.
    */
  def liveSupportStream(deltas: DataFrame, rowSchema: StructType,
      groupCol: String, valueCol: String, idCol: String): DataFrame =
    signedRows(deltas, rowSchema)
      .groupBy(col(s"r.$groupCol").as(groupCol), col(s"r.$idCol").as(idCol),
        col(s"r.$valueCol").as(valueCol))
      .agg(sum(col("sgn")).cast("long").as("refcnt"))

  /** Rank a support-table relation into the top-k leaderboard (shared
    * by the batch fold [[topKByGroup]] and the foreachBatch half of the
    * streaming serving pattern). The (value desc, id) tie-break is
    * load-bearing for the q102 oracle hash — one ordering, one place.
    */
  def rankSupport(support: DataFrame, groupCol: String, valueCol: String,
      idCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol).desc, col(idCol))
    support.filter(col("refcnt") > 0)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(groupCol), col("rnk"), col(idCol), col(valueCol))
  }

  /** A live support-table CHANGE. refcnt is the post-change count
    * (0 on delete). */
  case class SupportDelta(g: String, id: Long, v: Double, refcnt: Long,
      action: String)

  /** Bounded-state STREAMING support maintenance — the fix for
    * [[liveSupportStream]]'s tombstone growth: flatMapGroupsWithState
    * keyed by the (group, id, value) triple REMOVES state when a
    * refcount returns to zero, so state holds exactly the LIVE triples.
    * Emits upsert/delete support deltas; a foreachBatch server applies
    * them key-addressed (idempotent) to a serving store and ranks there
    * — the leaderboard becomes a query over the live support table
    * instead of a per-batch complete-mode rewrite. Typed to
    * (string, long, double) triples — the serving-store shape; the
    * schema-generic complete-mode form remains for arbitrary columns.
    */
  def supportDeltaStream(deltas: DataFrame, rowSchema: StructType,
      groupCol: String, valueCol: String, idCol: String)
      : org.apache.spark.sql.Dataset[SupportDelta] = {
    val spark = deltas.sparkSession
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val signed = signedRows(deltas, rowSchema).select(
      col(s"r.$groupCol").cast("string").as("g"),
      col(s"r.$idCol").cast("long").as("id"),
      col(s"r.$valueCol").cast("double").as("v"),
      col("sgn").cast("long").as("sgn")).as[(String, Long, Double, Long)]
    signed.groupByKey(t => (t._1, t._2, t._3)).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (k: (String, Long, Double), it: Iterator[(String, Long, Double, Long)],
          state: GroupState[Long]) =>
        val net = it.map(_._4).sum
        if (net == 0) Iterator.empty
        else {
          val cur = state.getOption.getOrElse(0L)
          val next = cur + net
          // state holds every NONZERO count: positive = live, negative =
          // a pending retraction whose matching +row has not arrived yet
          // (out-of-order replay) — dropping it would leave a ghost row
          // when the +row lands. Exactly-zero counts are removed, so
          // state stays bounded by live + pending triples.
          if (next == 0L) { if (state.exists) state.remove() }
          else state.update(next)
          if (next > 0)
            Iterator(SupportDelta(k._1, k._2, k._3, next, "upsert"))
          else if (cur > 0)
            Iterator(SupportDelta(k._1, k._2, k._3, 0L, "delete"))
          else Iterator.empty // stayed non-live (incl. pending negatives)
        }
    }
  }

  /** The support table both non-invertible views share: Σ sign per
    * (group, value) over the deltas, restricted to live (positive)
    * pairs. Fine-keyed first shuffle, so heavy groups spread across
    * partitions; the live relation is sized by distinct pairs, not
    * history.
    */
  private def liveSupport(deltas: DataFrame, rowSchema: StructType,
      groupCol: String, valueCol: String): DataFrame =
    signedRows(deltas, rowSchema)
      .groupBy(col(s"r.$groupCol").as(groupCol),
        col(s"r.$valueCol").as(valueCol))
      .agg(sum(col("sgn")).cast("long").as("refcnt"))
      .filter(col("refcnt") > 0)
}
