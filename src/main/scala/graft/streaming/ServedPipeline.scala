package graft.streaming

import graft.sinks.{EsSink, JdbcSink}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One conf-declared serving pipeline, whatever its kind — the single
  * lifecycle surface the registry, the watcher and Serve's verbs work
  * through (the reference registers every script through one container
  * and reloads them all through one watcher, ScriptContainer.java:35-81,
  * WatchFile.java:84-161). The kind decision lives in the implementing
  * class: [[CdcPipeline]] (lww), [[ViewPipeline]], [[AnnServingPipeline]],
  * [[DedupClusterPipeline]] and [[SearchServingPipeline]].
  *
  * Reload is stop-and-restart from the same work dir (Structured
  * Streaming's restart-from-checkpoint), so the surface is small: start
  * live, a maintenance tick, and the keyed expectation replay. The
  * delta-log kinds also drain once ([[TableLogPipeline.runOnce]]).
  */
trait ServedPipeline {
  def name: String
  def kind: String
  /** Subscribed source databases; empty subscribes to every database. */
  def databases: Set[String]
  def deadLetterDir: Option[String]
  def deadLetterRetentionMs: Long

  /** Start every stage as a long-running query over `workRoot`. */
  def startLive(spark: SparkSession, feedDir: String, workRoot: String,
      live: ServedPipeline.Live): Seq[StreamingQuery]

  /** The watcher's maintenance tick; a no-op unless the kind keeps
    * store maintenance of its own.
    */
  def tick(spark: SparkSession, workRoot: String): Unit = ()

  /** What a keyed expectation replay re-drives through: the key field,
    * the source table and the fold of the table's current rows. None
    * where dead letters are not keyed-replayable.
    */
  protected def keyedReplay: Option[ServedPipeline.KeyedReplay] = None

  /** RE-DRIVE this pipeline's expectation-dropped keys through the
    * fixed conf ([[PipelineMetrics.replayKeyedExpectDeadLetters]]): a
    * derived dead letter cannot re-enter the feed as wire, so each one
    * resolves to its originating key, the key's CURRENT raw row is read
    * from the table log (the LWW fold of the bronze feed, the durable
    * source of record) and re-injected as an ordinary wire event at the
    * epoch. The running pipeline re-LWWs it (epoch wins), re-derives,
    * re-judges under the fixed rules and key-addresses the store, so it
    * converges to the never-dropped state. A key deleted upstream since
    * the drop resolves to nothing and its dead letters retire. Returns
    * the number of wire rows re-injected.
    */
  def replayExpectDeadLetters(spark: SparkSession, workRoot: String,
      feedDir: String, db: String, tsMs: Long,
      batchIds: Seq[Long] = Nil): Long = {
    val r = keyedReplay.getOrElse(throw new IllegalArgumentException(
      s"$kind $name: dead letters are not keyed-replayable"))
    require(deadLetterDir.isDefined,
      s"$kind $name: replay needs the conf-declared deadLetterDir")
    PipelineMetrics.replayKeyedExpectDeadLetters(spark, deadLetterDir.get,
      name, kind, r.idField, r.currentRows(spark, workRoot), db, r.table,
      feedDir, tsMs, batchIds)
  }
}

object ServedPipeline {
  /** What a runner hands every pipeline it starts: the serving
    * transport, the default ES target (the lww kind's, when its conf
    * declares none), the delta-log kinds' processing-time interval and
    * the lww kind's trigger (AvailableNow drains and terminates; a
    * server passes ProcessingTime to follow the feed).
    */
  final case class Live(cfg: EsSink.Config, transport: EsSink.Transport,
      interval: String = "500 milliseconds",
      lwwTrigger: Trigger = Trigger.AvailableNow())

  final case class KeyedReplay(idField: String, table: String,
      currentRows: (SparkSession, String) => DataFrame)

  /** Run stages to completion in order, each awaited before the next
    * starts — the downstream stage then reads a complete upstream log.
    * The stages start under graft's checkpoint file manager
    * ([[LocalCheckpointFileManager.install]]).
    */
  def drain(spark: SparkSession, stages: => Seq[Trigger => StreamingQuery]): Unit = {
    val undoFiles = LocalCheckpointFileManager.install(spark)
    try stages.foreach(_(Trigger.AvailableNow()).awaitTermination())
    finally undoFiles()
  }

  /** An ES serving target of [[writeKeyed]]: the sink config, the
    * transport and the batch-progress marker id ([[markerId]]; None
    * sends marker-free — the lww kind, whose batches are also applied
    * directly without a checkpoint identity).
    */
  final case class EsWrite(cfg: EsSink.Config, transport: EsSink.Transport,
      marker: Option[String])

  /** The progress-marker id of a checkpointed pipeline. It shares the
    * CHECKPOINT's identity, not the pipeline name's: batch ids restart
    * at 0 under a fresh work dir (conf-file rename, checkpoint rebuild),
    * and a name-keyed marker from the old run would silently suppress
    * every new batch. Keyed by (name, work dir) the marker dies with
    * its checkpoint.
    */
  def markerId(name: String, workRoot: String): String =
    s"${name}_${Integer.toHexString(workRoot.hashCode)}"

  /** A conf's [[ViewTarget]] as [[writeKeyed]]'s two optional targets;
    * an ES target writes under the pipeline's checkpoint marker.
    */
  def targets(target: ViewTarget, idField: String,
      transport: EsSink.Transport, name: String,
      workRoot: String): (Option[JdbcTarget], Option[EsWrite]) =
    target match {
      case j: JdbcTarget => (Some(j), None)
      case e: EsTarget => (None, Some(EsWrite(e.config(idField), transport,
        Some(markerId(name, workRoot)))))
    }

  /** THE keyed serving write of the lww, view, ann and dedup kinds —
    * the reference sends every upsert and delete through one
    * `ElasticsearchUtils` (R13/R14), and a failed send becomes data
    * while the stream continues (S6). One micro-batch:
    *  1. the conf's expectations judge `judged`, the batch's upsert
    *     rows in the shape the kind serves them
    *     ([[PipelineMetrics.enforceBatchExpectations]]: verdicts record,
    *     a breached Halt rule fails the batch with the store pre-batch,
    *     Drop violators dead-letter under `_expect`);
    *  2. EVERY action of a violating key is withheld — a view's join-key
    *     move emits a (delete, upsert) pair for one id, and a violating
    *     replacement must leave the pre-batch row served instead of
    *     vanishing the key (the other kinds emit one action per key per
    *     batch, so for them this withholds the upsert);
    *  3. the surviving actions are written — `upserts` are the documents
    *     as served, `deletes` hold only `idField` (ES keys a delete by
    *     its string form, so the lww kind's deletes keep their pre-
    *     transform wire key): the JDBC target first
    *     ([[JdbcSink.applyKeyedDeltas]], deletes then MERGE in one
    *     transaction), then the ES target
    *     ([[EsSink.applyKeyedBatch]]: deletes, then upserts, then the
    *     sink dead letters appended under `deadLetterDir` with
    *     `pipeline = name`, then the marker).
    * The two frames carry no action tag, so a document may hold any
    * column name. Callers pin the frame `upserts` and `deletes` share.
    * Returns the sink dead-letter count (counted only with metrics on),
    * or None when the ES marker already covered the batch and nothing
    * was sent.
    */
  def writeKeyed(name: String, kind: String, batchId: Long,
      idField: String, upserts: DataFrame, deletes: DataFrame,
      judged: => DataFrame, expectations: Seq[graft.ops.Profile.Rule],
      metrics: Option[PipelineMetrics.Target],
      deadLetterDir: Option[String], jdbc: Option[JdbcTarget] = None,
      es: Option[EsWrite] = None): Option[Long] = {
    val violating = PipelineMetrics.enforceBatchExpectations(metrics, name,
      batchId, expectations, judged, Seq(idField), deadLetterDir, kind)
    def served(df: DataFrame): DataFrame = violating.fold(df)(v =>
      df.join(v.select(col(idField).cast(df.schema(idField).dataType)
        .as(idField)), Seq(idField), "left_anti"))
    val (ups, dels) = (served(upserts), served(deletes))
    jdbc.foreach(t => JdbcSink.applyKeyedDeltas(ups, dels, t.url, t.table,
      Seq(idField), stagingColumnTypes = t.stagingColumnTypes.orNull))
    es.fold(Option(0L)) { e =>
      EsSink.applyKeyedBatch(e.marker, batchId, dels, ups, e.cfg,
        e.transport,
        onDeadLetters = (dlDeletes, dlUpserts) =>
          deadLetterDir.foreach { dir =>
            val dead = dlDeletes.unionByName(dlUpserts)
              .withColumn("pipeline", lit(name))
            if (!dead.isEmpty) dead.write.mode("append").parquet(dir)
          })
        .map { case (d, u) =>
          if (metrics.isEmpty) 0L else d.count() + u.count()
        }
    }
  }
}

/** The four kinds that ingest through a [[DriftGate]] table log (view,
  * ann, dedup, search). Each declares ONE ordered stage list — gate,
  * table log, then its downstream queries — and the two modes run it:
  * [[runOnce]] drains each stage on AvailableNow in order, [[start]]
  * starts all of them on a processing-time trigger. The modes share
  * checkpoints, so a pipeline can drain in batch, then be brought up
  * live, and vice versa.
  */
trait TableLogPipeline extends ServedPipeline {
  /** The kind's pre-steps (run here, before any stage starts), then
    * its stages in drain order.
    */
  protected def stages(spark: SparkSession, feedDir: String,
      workRoot: String,
      esTransport: EsSink.Transport): Seq[Trigger => StreamingQuery]

  /** Work that needs every stage drained (view's side-log compaction). */
  protected def afterDrain(spark: SparkSession, workRoot: String): Unit = ()

  /** Run every stage to completion over the feed's CURRENT contents.
    * Safe to call repeatedly; each call processes only data that arrived
    * since the last one (durable checkpoints at every stage).
    */
  def runOnce(spark: SparkSession, feedDir: String, workRoot: String,
      esTransport: EsSink.Transport = new EsSink.HttpTransport): Unit = {
    ServedPipeline.drain(spark, stages(spark, feedDir, workRoot, esTransport))
    afterDrain(spark, workRoot)
  }

  /** LIVE deployment: the same stages as long-running queries on a
    * processing-time trigger. Stop the returned queries to shut down;
    * checkpoints make a later [[start]] or [[runOnce]] resume exactly
    * where serving stopped.
    */
  def start(spark: SparkSession, feedDir: String, workRoot: String,
      interval: String = "500 milliseconds",
      esTransport: EsSink.Transport = new EsSink.HttpTransport)
      : Seq[StreamingQuery] = {
    val t = Trigger.ProcessingTime(interval)
    stages(spark, feedDir, workRoot, esTransport).map(_(t))
  }

  final def startLive(spark: SparkSession, feedDir: String, workRoot: String,
      live: ServedPipeline.Live): Seq[StreamingQuery] =
    start(spark, feedDir, workRoot, live.interval, live.transport)
}
