package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{Column, DataFrame, Dataset}

/** Incremental last-writer-wins materialization over an unbounded CDC
  * stream: `flatMapGroupsWithState` keeps the winning `(ts_ms, offset)`
  * per key and emits a delta ONLY when a batch changes a key's winner —
  * the streaming complement of `Materialize.lww` (which recomputes the
  * snapshot from the full log). Downstream, deltas drive an idempotent
  * upsert/delete sink, so the materialized view stays current without
  * reprocessing history.
  *
  * Duplicate deliveries (same `(ts_ms, offset)`) and stale events
  * (older than the current winner) update nothing and emit nothing —
  * at-least-once replay is absorbed by the state, not the sink.
  *
  * State per key is one small case class; with N live keys across E
  * executors the state store holds N/E entries each — bounded by table
  * cardinality, not stream length.
  */
object StatefulLww {

  case class Winner(tsMs: Long, offset: Long, op: String, rowJson: String)

  /** `prevJson` is the row the key showed BEFORE this delta (null when
    * the key was not live) — what a downstream incremental aggregate
    * needs to retract the old contribution (see cdc.IncrementalAgg).
    */
  case class Delta(key: Long, action: String, rowJson: String, prevJson: String)

  /** The ± reading of a [[Delta]] relation: one row per non-null side,
    * `sgn` +1 with `payload(rowJson)` and −1 with `payload(prevJson)` —
    * an insert yields one +row, a delete one −row, an update both. Rows
    * are the `keep` columns plus `c`, a struct of `sgn` and the payload
    * (the payload names its field: alias it). The payload is evaluated
    * inside the generator; the caller's select reads `c` in the same
    * Project, so a second generator over `c` sits directly on this one.
    * Map-side only, so it composes over batch AND streaming relations.
    */
  def signed(deltas: DataFrame, payload: Column => Column,
      keep: Column*): DataFrame =
    deltas.select(keep :+ explode(filter(array(
        when(col("rowJson").isNotNull,
          struct(lit(1).as("sgn"), payload(col("rowJson")))),
        when(col("prevJson").isNotNull,
          struct(lit(-1).as("sgn"), payload(col("prevJson"))))),
      x => x.isNotNull)).as("c"): _*)

  /** Not private: Catalyst's generated SafeProjection must construct it. */
  case class In(key: Long, tsMs: Long, offset: Long, op: String, rowJson: String)

  /** @param events streaming frame with columns
    *               (key: long, ts_ms: long, offset: long, op: string,
    *               after: string JSON or null)
    */
  def deltaStream(events: DataFrame): Dataset[Delta] = {
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
      (key: Long, it: Iterator[In], state: GroupState[Winner]) =>
        val incoming = it.maxBy(e => (e.tsMs, e.offset))
        val current = state.getOption
        val newer = current.forall(c =>
          incoming.tsMs > c.tsMs ||
            (incoming.tsMs == c.tsMs && incoming.offset > c.offset))
        if (!newer) Iterator.empty
        else {
          state.update(Winner(incoming.tsMs, incoming.offset, incoming.op,
            incoming.rowJson))
          val prev = current.filter(_.op != "d").map(_.rowJson).orNull
          if (incoming.op == "d") {
            // emit a delete only if the key was previously live
            if (prev != null) Iterator(Delta(key, "delete", null, prev))
            else Iterator.empty
          } else Iterator(Delta(key, "upsert", incoming.rowJson, prev))
        }
    }
  }
}
