package graft.streaming

import graft.cdc.{Envelope, EventFilters, Subscription}
import graft.sinks.EsSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's end-to-end CDC flow (SURVEY §3.2) rebuilt on
  * Structured Streaming: capture stream → envelope parse → R5–R9
  * filters → per-pipeline routing → id-keyed upsert/delete sink.
  *
  * One `CdcPipeline` = one of the reference's "scripts": its own
  * subscription, transform, sink, and checkpoint (the checkpoint dir IS
  * the named tailer — per-subscriber durable position, SURVEY §1.4).
  * Fan-out = N pipelines started over the same source directory; each
  * streaming query tracks offsets independently, which is exactly the
  * reference's shared-log/multi-tailer topology without the bespoke queue.
  *
  * Delivery contract (SURVEY §2.3): at-least-once via checkpoint replay;
  * effects idempotent because upserts are id-keyed; order is per-key
  * (ts_ms, offset), not global — LWW materialization makes results
  * arrival-order-free.
  */
final case class CdcPipeline(
    name: String,
    subscription: Subscription,
    rowSchema: StructType,
    idKey: String,
    transform: DataFrame => DataFrame = identity,
    deadLetterDir: Option[String] = None,
    exprTransform: Option[ExprTransform] = None,
    metrics: Option[PipelineMetrics.Target] = None,
    expectations: Seq[graft.ops.Profile.Rule] = Nil,
    driftCheck: Boolean = false,
    driftPolicy: Option[CdcPipeline.DriftPolicy] = None,
    deadLetterRetentionMs: Long = 0L) extends ServedPipeline {

  def kind: String = "lww"
  def databases: Set[String] = subscription.databases

  require(deadLetterRetentionMs == 0L || deadLetterDir.isDefined,
    s"pipeline $name: deadLetterRetentionMs needs a deadLetterDir")

  // the shared construction-time enforcement invariants (metrics for
  // verdicts, a dead-letter dir for Drop) — Profile.requireEnforceable,
  // so API-built pipelines meet the same bar conf registration does
  graft.ops.Profile.requireEnforceable("pipeline", name, expectations,
    metrics, deadLetterDir)
  // a drift POLICY implies the check; both need the metrics store for
  // their verdict rows, and a Drop policy needs somewhere to land the
  // withheld rows — the same invariants expectations carry
  private val driftOn = driftCheck || driftPolicy.isDefined
  require(!driftOn || metrics.isDefined,
    s"pipeline $name: driftCheck needs a metrics target to record into")
  require(!driftPolicy.exists(_.action == graft.ops.Profile.Drop)
      || deadLetterDir.isDefined,
    s"pipeline $name: a drop-action drift policy needs a deadLetterDir")

  // registration-time dry-run resolution of the conf-declared transform
  // against THIS pipeline's declared schema (the reference runs
  // initCDC() at boot — a script touching a nonexistent binding dies
  // before the first event). Needs a session for analysis; when none
  // exists yet (exotic construction orders) resolution still fails fast
  // at pipeline start, the pre-r10 behavior.
  exprTransform.foreach { t =>
    // the sink extracts the document id from the outgoing row and drop
    // enforcement anti-joins on it — the serving key must survive
    require(!t.drops.contains(idKey),
      s"pipeline $name: transform must not drop the serving key '$idKey'")
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach { sp =>
        try t.validateStruct(sp, ExprTransform.cdcFrameSchema(rowSchema, idKey))
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"pipeline $name: ${e.getMessage}")
        }
      }
  }

  /** The OUTGOING document schema — the declared row schema as reshaped
    * by the conf-declared transform (set fields added/replaced, drop
    * fields gone), computed by running [[ExprTransform.applyToStruct]]
    * itself over an empty frame so the semantics can never drift from
    * the real reshape. This is the schema expectations resolve against,
    * read only by registration validation ([[PipelineRegistry]]): a
    * conf whose transform drops a declared column referenced by an
    * expectation must die at boot, not throw in every micro-batch.
    */
  def outgoingRowSchema(spark: SparkSession): StructType =
    exprTransform.fold(rowSchema) { t =>
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        ExprTransform.cdcFrameSchema(rowSchema, idKey))
      t.applyToStruct(empty).schema("row").dataType.asInstanceOf[StructType]
    }

  /** Routed, filtered, typed change rows from a raw value stream —
    * single-pass typed envelope parse (the pipeline knows its schema).
    * The conf-declared [[ExprTransform]] (R12's data-declared reshape)
    * runs against the outgoing `row` struct first, then the compiled
    * Scala `transform` hook — both see the full envelope columns.
    */
  def changeRows(raw: DataFrame): DataFrame = {
    val routed = subscription.route(
      EventFilters.all(Envelope.parseTyped(raw, rowSchema)))
    val shaped = routed
      .withColumn("row", col("after"))
      .withColumn("key", coalesce(
        col(s"after.$idKey"), col(s"before.$idKey")))
    transform(exprTransform.fold(shaped)(_.applyToStruct(shaped)))
  }

  /** Start the pipeline over a graft-cdc feed directory
    * (sources.cdc.CdcEventSource), applying upserts/deletes per
    * micro-batch through [[applyBatch]] — one effect per key per batch.
    * The subscription predicate is applied directly on the source
    * relation, where DSv2 filter pushdown turns it into SOURCE-side
    * db/table pruning (reference R3: the connector's include-lists)
    * instead of a post-scan filter.
    */
  def startDsv2(spark: SparkSession, sourceDir: String, checkpointDir: String,
      cfg: EsSink.Config, transport: EsSink.Transport,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val raw = subscription.route(
      spark.readStream.format("graft-cdc").option("path", sourceDir).load())
      .drop("src_db", "src_table")
    // trigger default: AvailableNow drains-and-terminates (batch-drain
    // runners, tests); a long-running server passes ProcessingTime so
    // the query keeps following the feed (Serve) — the Debezium
    // engine's run-until-stopped shape (DebeziumEngineManager.java:76-121)
    changeRows(raw).writeStream
      .queryName(s"cdc_v2_$name")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, cfg, transport, batchId)
      }
      .start()
  }

  /** The registry's single-query stage ([[startDsv2]]) on the runner's
    * lww trigger. The sink config is the conf's own `"es"` target or the
    * runner's default url/auth, ALWAYS re-keyed to this conf's declared
    * idKey: the sink extracts the document id via `cfg.idKey`, so a
    * process-global idKey would break (or silently mis-key) every conf
    * whose id column is named differently — the reference passes
    * url/username/password/idKey PER CALL from each script
    * (ElasticsearchUtils.java:106-118).
    */
  def startLive(spark: SparkSession, feedDir: String, workRoot: String,
      live: ServedPipeline.Live): Seq[StreamingQuery] =
    Seq(startDsv2(spark, feedDir, workRoot, live.cfg.copy(idKey = idKey),
      live.transport, live.lwwTrigger))

  /** Batch application: last writer per key within the batch, then
    * deletes and upserts through the sink. Also usable directly on a
    * batch frame (tests, backfill). Undeliverable records (after the
    * sink's retries) land in `deadLetterDir` as parquet when configured
    * — S6: failures are data, the stream continues.
    */
  def applyBatch(batch: DataFrame, cfg: EsSink.Config,
      transport: EsSink.Transport, batchId: Long = 0L): Unit = {
    val t0 = System.currentTimeMillis()
    // drift check adds two more actions on the batch frame — pin it so
    // they cannot re-run the micro-batch plan (foreachBatch hazard)
    val src = if (driftOn && metrics.isDefined)
      batch.localCheckpoint(true) else batch
    val drift = recordSchemaDrift(src, batchId)
    // drift HALT: the verdict row is already recorded (observable
    // breach), then the micro-batch fails exactly like an expectation
    // halt — the store keeps its pre-batch state and the checkpoint
    // replays the batch once the conf's schema (or the wire) is fixed.
    // This is the declarative analog of the reference's DDL-event drop
    // (R7): schema change quarantines instead of silently serving.
    for (p <- driftPolicy; d <- drift)
      Drift.haltOnBreach(p, d, name, batchId)
    // a Drop policy needs the winner's RAW wire value to re-judge the
    // fields the typed struct already smoothed over — carry it through
    // the LWW collapse only when the policy asks
    val dropDrift = driftPolicy.exists(_.action == graft.ops.Profile.Drop)
    val winners = src
      .filter(col("key").isNotNull)
      .groupBy(col("key"))
      .agg(max_by(
        if (dropDrift) struct(col("op"), col("row"), col("value"))
        else struct(col("op"), col("row")),
        struct(col("ts_ms"), col("offset"))).as("w"))
    val winnersCached = winners.cache()
    try {
      val upsertWinners = winnersCached.filter(col("w.op") =!= "d")
      val upserts = ((driftPolicy, drift) match {
        case (Some(p), Some(d)) if p.action == graft.ops.Profile.Drop =>
          Drift.dropViolators(upsertWinners, col("w.value"), rowSchema, d,
            p, name, kind, deadLetterDir, batchId)
        case _ => upsertWinners
      }).select(col("w.row.*"))
      val deletes = winnersCached.filter(col("w.op") === "d")
        .select(col("key").cast("string").as(idKey))
      // marker-free: applyBatch is also called directly, without a
      // checkpoint identity; a re-sent batch is idempotent (id-keyed)
      val deadLetters = ServedPipeline.writeKeyed(name, kind, batchId,
        idKey, upserts, deletes, upserts, expectations, metrics,
        deadLetterDir,
        es = Some(ServedPipeline.EsWrite(cfg, transport, marker = None)))
      // counts come from the CACHED winners and the localCheckpointed
      // dead-letter frames — recording never re-runs the batch plan
      metrics.foreach(m => PipelineMetrics.record(m, name, "lww", batchId,
        rowsIn = winnersCached.count(),
        deadLetters = deadLetters.getOrElse(0L),
        stateRows = 0L, wallMs = System.currentTimeMillis() - t0))
    } finally winnersCached.unpersist()
  }

  /** Per-batch SCHEMA-DRIFT verdict — the streaming operationalization
    * of the reference's DDL-event awareness (R7): the conf's declared
    * schema is the pipeline's contract, so each drained batch records
    * how the WIRE diverged from it into the metrics store's `_drift`
    * table — undeclared payload fields (the new-column half of a DDL)
    * and declared fields whose raw value fails its declared type (the
    * type-change half). Detection is per-FIELD re-parse of the raw
    * after payload (`get_json_object` + cast), deliberately NOT the
    * typed `after` struct: a malformed numeric nulls the whole struct
    * under PERMISSIVE from_json, which would smear one bad field over
    * every declared column. Every drained batch records (zeros are the
    * healthy heartbeat); q82/q85 remain the batch-query forms, this is
    * the serving-path monitor. Two aggregate jobs over the pinned
    * batch; skipped entirely unless `driftCheck` is on.
    */
  private def recordSchemaDrift(src: DataFrame,
      batchId: Long): Option[CdcPipeline.DriftVerdict] =
    if (!driftOn) None
    else metrics.map(m =>
      Drift.recordSchemaDrift(src, rowSchema, name, batchId, m))
}

object CdcPipeline {
  /** Production state-store provider of Serve's session (the stateful
    * delta-log stages): RocksDB keeps table-cardinality LWW state
    * off-heap with incremental checkpoints — the 10⁹-key story the
    * on-heap HDFS provider cannot tell. Ships in Spark 4; no extra
    * dependency.
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Conf-declared ESCALATION for schema drift — the enforcement half
    * of the driftCheck monitor, completing R7's streaming analog with
    * the same warn/drop/halt vocabulary expectations use:
    *  - Warn: record the `_drift` verdict row only (the monitor).
    *  - Drop: winners whose raw payload fails a declared type are
    *    withheld and dead-lettered always; winners carrying undeclared
    *    fields are withheld once the batch's distinct new-column count
    *    breaches `newColsBudget` (see [[Drift.dropViolators]]).
    *  - Halt: a breach of either budget fails the micro-batch AFTER the
    *    verdict records — pipeline quarantine, store pre-batch,
    *    conf-fix → restart → replay (the expectation Halt lifecycle).
    * Budgets are exact integer counts: `newColsBudget` bounds DISTINCT
    * undeclared field names per batch; `badTypeRowsBudget` bounds rows
    * whose declared field failed its type.
    */
  final case class DriftVerdict(newCols: Long, typeChanges: Long,
      rowsNew: Long, rowsBadtype: Long)
  final case class DriftPolicy(
      newColsBudget: Long = Long.MaxValue,
      badTypeRowsBudget: Long = Long.MaxValue,
      action: graft.ops.Profile.Action = graft.ops.Profile.Warn)
}
