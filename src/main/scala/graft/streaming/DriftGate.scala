package graft.streaming

import graft.cdc.{DeltaLog, Subscription}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The JUDGED-FEED stage — drift monitoring/enforcement for the
  * delta-log pipeline kinds (view/ann/search/dedup), completing R7's
  * streaming analog across the whole conf surface (the lww kind judges
  * inline in [[CdcPipeline.applyBatch]]; these kinds consume the feed
  * through a stateful LWW stage, so the raw wire must be judged BEFORE
  * it enters the table log): one routed table's raw events stream in,
  * each micro-batch records a drift VERDICT against the declared
  * schema ([[Drift.recordSchemaDrift]]) and applies the conf's
  * [[CdcPipeline.DriftPolicy]] —
  *
  *  - Warn: verdict rows only (the monitor; zeros are the heartbeat).
  *  - Drop: events whose raw payload fails a declared type are
  *    withheld ALWAYS (they would reach the store as silently-nulled
  *    fields — PERMISSIVE parsing; budgets govern verdicts, never
  *    license serving bad rows); events carrying undeclared fields are
  *    withheld once the batch's distinct new-column count breaches
  *    `newColsBudget`. Withheld events dead-letter under
  *    `<dlDir>/_drift/pipeline=<tag>/batch_id=N` carrying the RAW wire
  *    payload — the same frame shape as the lww kind's, so the SAME
  *    `Serve replay drift` verb re-injects them once the conf's schema
  *    evolves (drift dead letters are wire-shaped in every kind,
  *    unlike `_expect`'s derived rows).
  *  - Halt: a budget breach fails the micro-batch after the verdict
  *    records — pipeline quarantine, log pre-batch, conf-fix →
  *    restart → replay.
  *
  * The surviving events append to a [[StateLog]]-layout judged log
  * (`<judgedBase>/log/batch_id=N`, O(churn) per batch, overwrite →
  * replay-idempotent), which the table-log stage consumes as a file
  * stream ([[graft.cdc.DeltaLog.deltaStreamFromJudged]]) instead of the
  * raw feed.
  *
  * The gate also OWNS that table-log stage ([[ingestOnce]] /
  * [[startIngest]]) — the one feed → gate → LWW table-log ingest every
  * delta-log kind runs: the reference's per-subscriber named tailer
  * over one durable queue (SURVEY R10/R11), as one checkpointed
  * incremental query per pipeline over the durable feed.
  *
  * Enforcement granularity note: the gate judges EVENTS (pre-LWW),
  * where the lww kind judges winners (post-LWW) — a
  * key whose newest event drifted keeps serving its latest CLEAN state
  * (the drifted event never enters the log), which is the same
  * pre-batch-survives outcome the expectation Drop contract gives.
  *
  * Scale: one map-shaped pass over the batch plus Drift's two
  * aggregate jobs; nothing data-sized on the driver. The gate only
  * exists when the conf declares driftCheck/driftPolicy — zero cost
  * otherwise. Enabling drift on an EXISTING conf changes the log
  * stage's source (raw feed → judged log), which is a checkpoint
  * identity change: rebuild the work dir, like any enforcement-policy
  * change on a derived store.
  */
final case class DriftGate(
    tag: String, // verdict/dead-letter pipeline tag (view sides suffix)
    kind: String, // dead-letter kind marker
    databases: Set[String],
    table: String,
    rowSchema: StructType,
    idField: String, // the table's key column (the LWW key)
    driftCheck: Boolean,
    policy: Option[CdcPipeline.DriftPolicy],
    metrics: Option[PipelineMetrics.Target],
    deadLetterDir: Option[String]) {

  val enabled: Boolean = driftCheck || policy.isDefined
  /** Whether the pipeline's log stage must consume the JUDGED log
    * instead of the raw feed: only when the policy can actually
    * withhold or quarantine (Drop/Halt). A monitor-only gate
    * (driftCheck, or a Warn policy) records verdicts as a pass-through
    * OBSERVER — no judged log, no duplicate feed on disk, and
    * crucially no checkpoint-identity change: turning observability on
    * must never force a store rebuild (the lww kind's driftCheck is
    * likewise inline). Halt must reroute too: in a live deployment the
    * log stage runs concurrently, and only a judged-log source freezes
    * the store at the pre-breach batch when the gate quarantines.
    */
  val reroutes: Boolean =
    policy.exists(_.action != graft.ops.Profile.Warn)
  require(!enabled || metrics.isDefined,
    s"pipeline $tag: driftCheck needs a metrics target to record into")
  require(!policy.exists(_.action == graft.ops.Profile.Drop)
      || deadLetterDir.isDefined,
    s"pipeline $tag: a drop-action drift policy needs a deadLetterDir")

  /** Tag the batch's violating events per the Drop policy: `__viol`
    * holds the violated rule names (empty = clean). Mirrors
    * [[CdcPipeline.applyDriftDrop]]'s tagging, at event granularity.
    */
  private def tagViolations(src: DataFrame,
      verdict: CdcPipeline.DriftVerdict,
      p: CdcPipeline.DriftPolicy): DataFrame = {
    val newColsBreached = verdict.newCols > p.newColsBudget
    val aj = Drift.rawAfter(col("value"))
    val notDelete = coalesce(Drift.rawOp(col("value")) =!= "d", lit(true))
    src.withColumn("__viol", array_compact(array(
      when(notDelete && aj.isNotNull &&
        Drift.anyBadTypeOf(aj, rowSchema), lit("drift_badtype")),
      if (newColsBreached)
        when(notDelete && aj.isNotNull &&
          size(Drift.newFieldsOf(aj, rowSchema)) > 0, lit("drift_newcols"))
      else lit(null).cast("string"))))
  }

  /** Start the gate query: routed raw events of `table` from `feedDir`
    * → per-batch verdict + policy → surviving (value, offset) rows
    * appended to `<judgedBase>/log/batch_id=N`.
    */
  def query(spark: SparkSession, feedDir: String, judgedBase: String,
      checkpointDir: String, trigger: Trigger): StreamingQuery = {
    val raw = spark.readStream.format("graft-cdc")
      .option("path", feedDir).load()
    val routed = Subscription(databases, Set(table)).route(raw)
      .drop("src_db", "src_table")
    val (t, sch, pol, m, dl) =
      (tag, rowSchema, policy, metrics, deadLetterDir)
    routed.writeStream
      .queryName(s"driftgate_$t")
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // pin: the verdict aggregate, the dead-letter write and the
        // log append are three actions over one micro-batch plan
        val src = batch.localCheckpoint(true)
        val verdict = m.map(mm =>
          Drift.recordSchemaDrift(src, sch, t, batchId, mm))
        val clean = (pol, verdict) match {
          case (Some(p), Some(d)) if p.action == graft.ops.Profile.Halt =>
            Drift.haltOnBreach(p, d, t, batchId); src
          case (Some(p), Some(d)) if p.action == graft.ops.Profile.Drop =>
            val newColsBreached = d.newCols > p.newColsBudget
            if (d.rowsBadtype == 0L && !(newColsBreached && d.rowsNew > 0L))
              src
            else {
              val tagged = tagViolations(src, d, p).localCheckpoint(true)
              val viol = tagged.filter(size(col("__viol")) > 0)
              dl.foreach { dir =>
                val safe = PipelineMetrics.sanitizedPipeline(t)
                // the RAW wire payload (CdcPipeline.applyDriftDrop's
                // rationale): the typed parse nulls exactly these rows
                viol.select(array_join(col("__viol"), ",").as("violated"),
                  Drift.rawAfter(col("value")).as("row_json"))
                  .write.mode("overwrite")
                  .parquet(s"$dir/_drift/pipeline=$safe/batch_id=$batchId")
                PipelineMetrics.writeKindMarker(viol.sparkSession, dir,
                  "_drift", safe, kind)
              }
              tagged.filter(size(col("__viol")) === 0).drop("__viol")
            }
          case _ => src
        }
        if (reroutes)
          StateLog.appendBatch(clean.select(col("value"), col("offset")),
            judgedBase, batchId)
        ()
      }
      .start()
  }

  /** OWNERSHIP BACKFILL at boot: quarantine partitions written before
    * kind markers existed carry none, and the retention sweep reads
    * the marker as the ownership proof for the view side tags — a
    * pre-marker `pipeline=<name>.fact` dir would otherwise never age
    * out again once its gate goes quiet (the marker is only written
    * beside NEW dead letters). The gate is the subtree's declared
    * owner, so at boot it claims its own unmarked dir — idempotent,
    * two existence checks when the dir is absent or already marked.
    */
  private def backfillKindMarker(spark: SparkSession): Unit =
    deadLetterDir.foreach { dir =>
      val safe = PipelineMetrics.sanitizedPipeline(tag)
      val p = new org.apache.hadoop.fs.Path(
        s"$dir/_drift/pipeline=$safe")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && !fs.listStatus(p)
          .exists(_.getPath.getName.startsWith("_KIND_")))
        PipelineMetrics.writeKindMarker(spark, dir, "_drift", safe, kind)
    }

  /** Start the gate as a query on `trigger` (none when no drift is
    * declared). Seeds the judged log dir first (only when rerouting — a
    * file stream needs it to exist).
    */
  private def startIfEnabled(spark: SparkSession, feedDir: String,
      judgedBase: String, checkpointDir: String,
      trigger: Trigger): Seq[StreamingQuery] =
    if (!enabled) Nil
    else {
      backfillKindMarker(spark)
      if (reroutes)
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$judgedBase/log"))
      Seq(query(spark, feedDir, judgedBase, checkpointDir, trigger))
    }

  /** Drain the gate over the feed's current contents (no-op when the
    * conf declares no drift): blocks until the feed is judged, so the
    * log stage that runs next reads a complete judged log.
    */
  def drainOnce(spark: SparkSession, feedDir: String, judgedBase: String,
      checkpointDir: String): Unit =
    startIfEnabled(spark, feedDir, judgedBase, checkpointDir,
      Trigger.AvailableNow()).foreach(_.awaitTermination())

  /** The TABLE-LOG query: this gate's source — the judged log when it
    * [[reroutes]], else the raw feed routed to `table` — → routed/
    * filtered keyed events → per-key LWW deltas
    * ([[graft.cdc.DeltaLog.deltaStream]]) → `<logDir>/batch_id=N`. Each
    * micro-batch writes ONLY its churn, overwriting its own batch dir,
    * so checkpoint replay is idempotent; history never rewrites.
    */
  private def logQuery(spark: SparkSession, feedDir: String,
      l: DriftGate.TableLog, trigger: Trigger): StreamingQuery = {
    val keyExpr =
      coalesce(col(s"after.$idField"), col(s"before.$idField")).cast("long")
    val deltas =
      if (reroutes) DeltaLog.deltaStreamFromJudged(spark, l.judgedBase,
        rowSchema, keyExpr)
      else DeltaLog.deltaStream(spark, feedDir, table, rowSchema, keyExpr,
        databases)
    val dir = l.logDir
    deltas.writeStream
      .queryName(l.queryName)
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", l.logCheckpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")
        ()
      }
      .start()
  }

  /** Ingest the feed's current contents into the table log: the gate
    * drains first (when declared), then the log stage runs to
    * completion over its source. Incremental across calls (durable
    * checkpoints at both stages). Seeds the log dir, so a downstream
    * file stream over it can start even when the table has no events.
    */
  def ingestOnce(spark: SparkSession, feedDir: String,
      l: DriftGate.TableLog): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(l.logDir))
    drainOnce(spark, feedDir, l.judgedBase, l.gateCheckpoint)
    logQuery(spark, feedDir, l, Trigger.AvailableNow()).awaitTermination()
  }

  /** Live deployment of [[ingestOnce]]: the gate (when declared) and the
    * log stage as long-running queries on `trigger`.
    */
  def startIngest(spark: SparkSession, feedDir: String,
      l: DriftGate.TableLog, trigger: Trigger): Seq[StreamingQuery] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(l.logDir))
    startIfEnabled(spark, feedDir, l.judgedBase, l.gateCheckpoint,
      trigger) :+ logQuery(spark, feedDir, l, trigger)
  }
}

object DriftGate {
  /** Where one table-log stage keeps its state under a pipeline's work
    * root: the streaming query's name, the batch-partitioned log dir,
    * the log query's checkpoint, the judged-log base, and the gate
    * query's checkpoint. Each kind names these itself — the names are
    * on-disk and operator-visible (`view_<n>_log_fact`, `ckpt_gate`, …),
    * so warm work dirs keep resuming.
    */
  final case class TableLog(queryName: String, logDir: String,
      logCheckpoint: String, judgedBase: String, gateCheckpoint: String)
}
