package graft.cdc

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Snapshot bootstrap (R4 full parity): Debezium's snapshot phase emits
  * every existing row as an `op="r"` event before streaming deltas
  * (reference accepts them via the op whitelist,
  * DebeziumEngineRecordHandler.java:170). This is the same recipe for an
  * engine that starts from a batch-readable table (parquet/JDBC): encode
  * the consistent snapshot as `r` events IN THE FEED's wire format and
  * lay them into the feed directory ahead of the deltas — one replay
  * path, one LWW, no special bootstrap mode.
  *
  * Convergence argument: LWW is arrival-order-free and resolves by
  * `(ts_ms, offset)`; snapshot events carry a ts below every delta, so
  * `lww(snapshot ∪ deltas) == lww(full history)` for any key the
  * snapshot covers, and keys created after the snapshot resolve from
  * deltas alone.
  */
object Bootstrap {

  /** Encode a consistent snapshot table as `op="r"` change events in the
    * feed wire format (`value: String, offset: Long`).
    *
    * @param snapshot     the table as of the snapshot point (every column
    *                     becomes part of `after`)
    * @param db, table    routing identity for the events
    * @param snapshotTsMs event time for every snapshot row — MUST be
    *                     below the first delta's ts_ms so deltas win LWW
    * @param offsetBase   offsets are offsetBase+rowIndex; snapshot keys
    *                     are unique so offsets only matter vs deltas at
    *                     the same ts (keep offsetBase below delta offsets)
    */
  def snapshotEvents(snapshot: DataFrame, db: String, table: String,
      snapshotTsMs: Long = 0L, offsetBase: Long = 0L): DataFrame = {
    val row = struct(snapshot.columns.toSeq.map(col): _*)
    val rowType = snapshot.select(row).schema.head.dataType
    val payload = struct(
      lit(null).cast(rowType).as("before"),
      row.as("after"),
      struct(lit(db).as("db"), lit(table).as("table"),
        lit(snapshotTsMs).as("ts_ms")).as("source"),
      lit("r").as("op"),
      lit(snapshotTsMs).as("ts_ms"))
    snapshot.select(
      to_json(payload, Map("ignoreNullFields" -> "false")).as("value"),
      (lit(offsetBase) + monotonically_increasing_id()).as("offset"))
  }

  /** Write the snapshot events into the feed directory as additional
    * JSON-lines files — the streaming pipeline replays them exactly like
    * captured events (Trigger.AvailableNow processes snapshot + deltas
    * in one run; a restart resumes from the checkpoint as usual).
    */
  def bootstrapFeed(snapshot: DataFrame, feedDir: String, db: String,
      table: String, snapshotTsMs: Long = 0L): Unit =
    snapshotEvents(snapshot, db, table, snapshotTsMs)
      .write.mode("append").json(feedDir)
}
