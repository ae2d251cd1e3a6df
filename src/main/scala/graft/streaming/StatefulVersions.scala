package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Dataset}

/** Incremental SCD type-2 maintenance — the HISTORY-PRESERVING
  * complement of [[StatefulLww]]: where LWW collapses each key to its
  * batch winner (intra-batch versions unobservable downstream), this
  * operator applies a batch's accepted events IN (ts, offset) ORDER
  * against per-key state and emits one "open" delta per version plus a
  * "close" delta per delete — so a version-history view stays current
  * from deltas alone, never re-scanning the feed.
  *
  * Semantics match `Materialize.scd2Typed` on ordered arrival:
  * duplicate deliveries (same key, same ts) collapse to the max-offset
  * copy WITHIN a batch and are skipped across batches; data events open
  * version n+1 at their ts; deletes close the open version.
  *
  * LATE events — ts below the key's high-water mark — are SPLICED when
  * they fall within the configured `latenessMs` bound: the state keeps
  * the key's events inside that window, the timeline over them is
  * recomputed, and every (ts) whose delta changed re-emits with a
  * higher per-key `seq` — renumbered opens, a close that moves to an
  * earlier version, or a "void" superseding a close that became a
  * no-op. Consumers fold the LATEST seq per (key, ts)
  * ([[scd2FromDeltas]]), so the spliced history converges to the batch
  * form for any disorder within the bound. Events later than the bound
  * are skipped — emitted history below the window stays frozen, which
  * is what bounds per-key state: (high-water, base version counters,
  * the in-window events), not the unbounded history.
  */
object StatefulVersions {

  /** One retained in-window event. Not private — Catalyst constructs it. */
  case class VEntry(tsMs: Long, offset: Long, op: String, rowJson: String)

  /** Per-key state: high-water ts, the version count and closed flag of
    * the frozen timeline BELOW the lateness window, the in-window
    * events, and the per-key emission counter.
    */
  case class VState(highWater: Long, baseVersion: Int, baseClosed: Boolean,
      entries: List[VEntry], lastSeq: Long)

  /** "open": version `version` of `key` begins at `tsMs` with payload
    * `rowJson`. "close": the version open at `tsMs` ends there
    * (delete). "void": this (key, tsMs)'s previously-emitted delta is
    * retracted (a splice made the delete a no-op). `seq` increases with
    * every emission for the key — a later delta for the same (key,
    * tsMs) SUPERSEDES earlier ones; the fold derives `valid_to` from
    * the key's next surviving delta.
    */
  case class VersionDelta(key: Long, tsMs: Long, version: Int,
      action: String, rowJson: String, seq: Long)

  /** Not private: Catalyst's generated SafeProjection must construct it. */
  case class In(key: Long, tsMs: Long, offset: Long, op: String, rowJson: String)

  /** The timeline over base counters + ordered entries: at most one
    * delta per entry ts (a no-op delete — delete while closed — maps to
    * None and emits nothing, but the ENTRY is retained: a later splice
    * before it can turn it into a real close).
    */
  private def timeline(baseVersion: Int, baseClosed: Boolean,
      entries: List[VEntry]): List[(Long, Option[(Int, String, String)])] = {
    var v = baseVersion
    var closed = baseClosed
    entries.map { e =>
      if (e.op == "d") {
        val out = if (!closed) Some((v, "close", null: String)) else None
        closed = true
        e.tsMs -> out
      } else {
        v += 1
        closed = false
        e.tsMs -> Some((v, "open", e.rowJson))
      }
    }
  }

  /** @param events streaming frame with columns
    *               (key: long, ts_ms: long, offset: long, op: string,
    *               after: string JSON or null) — the [[StatefulLww]]
    *               input shape.
    * @param latenessMs admit a late event up to this far below the
    *                   key's high-water mark by splicing (0 = skip all
    *                   late events, the append-only contract).
    */
  def versionStream(events: DataFrame, latenessMs: Long = 0L): Dataset[VersionDelta] = {
    require(latenessMs >= 0, "latenessMs must be >= 0")
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(
      col("key").cast("long").as("key"),
      col("ts_ms").cast("long").as("tsMs"),
      col("offset").cast("long").as("offset"),
      col("op"),
      col("after").cast("string").as("rowJson")).as[In]
    typed.groupByKey(_.key).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (key: Long, it: Iterator[In], state: GroupState[VState]) =>
        // batch-local dup collapse: per ts keep the max-offset copy
        // (scd2Typed's rule), then apply in (ts, offset) order
        val evs = it.toVector.groupBy(_.tsMs)
          .map { case (_, g) => g.maxBy(_.offset) }
          .toVector.sortBy(e => (e.tsMs, e.offset))
        val loaded = state.getOption
          .getOrElse(VState(Long.MinValue, 0, true, Nil, 0L))
        val horizon =
          if (loaded.highWater == Long.MinValue) Long.MinValue
          else loaded.highWater - latenessMs
        // admit: above the lateness horizon and not a same-ts redelivery
        // of a retained event (cross-batch redeliveries skip)
        val retainedTs = loaded.entries.iterator.map(_.tsMs).toSet
        val admitted = evs.filter(e =>
          e.tsMs > horizon && !retainedTs.contains(e.tsMs))
        if (admitted.isEmpty) Iterator.empty
        else {
          val oldTl = timeline(loaded.baseVersion, loaded.baseClosed,
            loaded.entries).toMap
          val merged = (loaded.entries ++
            admitted.map(e => VEntry(e.tsMs, e.offset, e.op, e.rowJson)))
            .sortBy(e => (e.tsMs, e.offset))
          val newTl = timeline(loaded.baseVersion, loaded.baseClosed, merged)
          // diff: emit every ts whose delta CHANGED, in ts order — new
          // opens/closes, renumbered re-emissions, voided closes
          var seq = loaded.lastSeq
          val out = newTl.flatMap { case (ts, d) =>
            if (oldTl.getOrElse(ts, None) == d) None
            else d match {
              case Some((v, action, js)) =>
                seq += 1; Some(VersionDelta(key, ts, v, action, js, seq))
              case None =>
                seq += 1; Some(VersionDelta(key, ts, 0, "void", null, seq))
            }
          }
          // trim to the NEW horizon: frozen-out data events roll into the
          // base version counter; the closed flag folds over them
          val newHighWater = math.max(loaded.highWater, merged.last.tsMs)
          val newHorizon =
            if (newHighWater == Long.MinValue) Long.MinValue
            else newHighWater - latenessMs
          val (dropped, kept) = merged.partition(_.tsMs <= newHorizon)
          var bv = loaded.baseVersion
          var bc = loaded.baseClosed
          dropped.foreach { e =>
            if (e.op == "d") bc = true else { bv += 1; bc = false }
          }
          state.update(VState(newHighWater, bv, bc, kept, seq))
          out.iterator
        }
    }
  }

  /** Fold a version-delta relation (live stream output or a delta log)
    * into the SCD2 history: per (key, tsMs) the HIGHEST-seq delta wins
    * (splice re-emissions supersede, "void" erases), then `valid_to` of
    * each open version is the key's NEXT surviving delta's ts (a
    * superseding open or a close), null = still current — the same
    * lead-over-events computation as the batch `Materialize.scd2Typed`,
    * applied to deltas instead of raw events.
    *
    * Cost shape (guide §2.4 — two operations keyed the same way share
    * one exchange): the relation is hash-partitioned by `key` ONCE up
    * front; the per-(key, tsMs) latest-seq pick (max_by on seq —
    * `scd2Typed`'s dedupe shape) rides that partitioning (same-key rows
    * are colocated, so same-(key, tsMs) rows are too). It plans as a
    * SORT aggregate (partial + final), not a hash aggregate: max_by
    * over a struct value has no mutable aggregation buffer. Its one
    * sort on (key, tsMs) also orders the lead window, so the plan is
    * Exchange ×1, Sort ×1, SortAggregate ×2, Window ×1 (pinned in
    * PlanSpec). The previous form (row_number window over (key, tsMs),
    * then the lead window over (key)) planned 2 Exchanges + 2 Sorts;
    * the output is identical (seq is unique per key, so max_by picks
    * exactly the rn=1 row).
    */
  def scd2FromDeltas(deltas: DataFrame, rowSchema: StructType): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("tsMs"))
    deltas
      .repartition(col("key"))
      .groupBy(col("key"), col("tsMs"))
      .agg(max_by(struct(col("version"), col("action"), col("rowJson")),
        col("seq")).as("_d"))
      .select(col("key"), col("tsMs"), col("_d.version").as("version"),
        col("_d.action").as("action"), col("_d.rowJson").as("rowJson"))
      .filter(col("action") =!= "void")
      .withColumn("valid_to_ms", lead(col("tsMs"), 1).over(w))
      .filter(col("action") === "open")
      .select(col("key").as("_key"), col("version"),
        col("tsMs").as("valid_from_ms"), col("valid_to_ms"),
        from_json(col("rowJson"), rowSchema).as("after"),
        col("valid_to_ms").isNull.as("is_current"))
  }
}
