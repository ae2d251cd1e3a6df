package graft.streaming

import graft.Tables
import graft.cdc.DeltaLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

/** Replay harness: stage the events table as a file-stream source and run
  * a Structured Streaming transform to completion with
  * `Trigger.AvailableNow` (SURVEY §7.4: compare final state only).
  *
  * Staging (a warehouse artifact, [[graft.cdc.DeltaLog.stage]]) writes a
  * MULTI-FILE directory that the source still drains in ONE micro-batch
  * (`Trigger.AvailableNow` with no maxFilesPerTrigger snapshots every
  * available file into the first batch) — watermarks
  * then drop nothing and the final state equals the batch semantics,
  * which is what makes the DuckDB oracle exact. The even 32-file layout
  * (ChangeFeed.stagedJsonl's v2 rationale, guide §2.2/§6) keeps the
  * batch's SCAN stage at full parallelism: the original single-file
  * staging made every micro-batch's map side one task, which serialized
  * the decode of the whole feed ahead of the stateful shuffle.
  * Multi-batch behavior (late-data drops, cross-batch dedup state) is
  * exercised separately in tests with controlled per-batch input.
  *
  * SCALE BOUND (deliberate): this harness must NOT be pointed at
  * production-sized feeds: the engine paths it feeds (CdcPipeline,
  * ViewPipeline, DeltaLog) consume real partitioned sources directly
  * and never stage through here; multi-batch production replays keep
  * their native file/partition parallelism end to end.
  */
object Replay {

  private val nameCounter = new AtomicLong(0)

  /** Stage events (optionally with duplicate deliveries of every 100th
    * event) once per (dir, content) as a warehouse artifact
    * ([[graft.cdc.DeltaLog.stage]]). v2 = the 32-even-file layout.
    */
  def stageEvents(spark: SparkSession, dir: String, withDuplicates: Boolean): String =
    DeltaLog.stage(spark, s"replay_v2_${if (withDuplicates) "dup" else "plain"}",
        dir, "events") { out =>
      val ev = Tables.events(spark, dir)
      (if (withDuplicates) ev.unionByName(ev.filter(col("event_id") % 100 === 0))
       else ev).repartition(32).write.mode("overwrite").parquet(out)
    }

  /** File-stream over a parquet dir, with the dir's own schema. */
  def parquetStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)

  /** File-stream over the staged events. */
  def eventsStream(spark: SparkSession, dir: String,
      withDuplicates: Boolean = false): DataFrame =
    parquetStream(spark, stageEvents(spark, dir, withDuplicates))

  /** Events + one far-future FLUSH sentinel per given event type
    * (user_id/event_id = −1, −2, …; +30 days past max ts). An OUTER
    * stream-stream join only emits its null rows when the watermark
    * passes a row's state-eviction time; real traffic never pushes the
    * watermark past its own tail, so the tail's unmatched rows would
    * stay in state forever. The sentinel is the standard heartbeat
    * fix: it drags BOTH sides' watermarks (the join takes the min) past
    * every real row, and the trailing no-data batch then evicts and
    * emits the lot. Callers filter `user_id < 0` back out.
    */
  def stageEventsWithFlush(spark: SparkSession, dir: String,
      flushTypes: Seq[String]): String = {
    val tag = flushTypes.mkString("_").replaceAll("[^a-zA-Z0-9_]", "")
    DeltaLog.stage(spark, s"replay_v2_flush_$tag", dir, "events") { out =>
      val ev = Tables.events(spark, dir)
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val flushTs = new java.sql.Timestamp(maxTs.getTime + 30L * 86400 * 1000)
      val flush = flushTypes.zipWithIndex.map { case (t, i) =>
        (-(i + 1).toLong, flushTs, -(i + 1).toLong, t, 0.0, "{}")
      }
      val flushDf = spark.createDataFrame(flush)
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .select(ev.columns.toSeq.map(col): _*)
      ev.unionByName(flushDf).repartition(32).write.mode("overwrite").parquet(out)
    }
  }

  /** File-stream over events + flush sentinels (see stageEventsWithFlush). */
  def eventsStreamWithFlush(spark: SparkSession, dir: String,
      flushTypes: Seq[String]): DataFrame =
    parquetStream(spark, stageEventsWithFlush(spark, dir, flushTypes))

  /** File-stream over the staged documents table — the corpus-as-stream
    * entry (continuous ingest curation: the same map-only text gates run
    * unchanged over readStream).
    */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    parquetStream(spark, DeltaLog.stage(spark, "replay_docs_v2", dir, "documents") {
      Tables.documents(spark, dir).repartition(32).write.mode("overwrite").parquet(_)
    })

  /** Checkpoint root on the RAM disk when available: a replay-to-result
    * checkpoint is throwaway (offset/commit logs + state store files,
    * dozens of small writes per query) and fsync-ing them to real disk
    * is pure harness overhead. Production pipelines (CdcPipeline) take
    * an explicit durable checkpoint path instead.
    */
  private lazy val ckptRoot: java.nio.file.Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
    else Paths.get(sys.props("java.io.tmpdir"))
  }

  /** Shuffle partitions of every replay, so the state store's size:
    * each stateful operator keeps one store instance (files, commit log)
    * PER shuffle partition, so the count should track STATE SIZE, not
    * core count — 100k-key local state wants a handful of stores, a
    * 10^9-key production state wants hundreds. Local measurement: 32 →
    * 4 state partitions cuts per-query overhead ~45%.
    *
    * Measured floor at sf0.1 (600k events, local[32]): sweeping state
    * partitions {2,4,8,16,32} × {HDFS-backed, RocksDB} puts the best
    * configuration at 8 partitions + HDFS-backed ≈ 1.0 s/query — the
    * residual is addBatch itself (shuffle + state write + complete-mode
    * output), i.e. inherent micro-batch cost, not harness overhead.
    * (At production state sizes the RocksDB provider is the right
    * choice — off-heap, incremental-checkpointed; provider-swap parity
    * is pinned in StatefulLwwSpec.)
    */
  private val StatePartitions = 8

  /** Run `body` with [[StatePartitions]], the given session confs and
    * graft's checkpoint manager installed; every conf is restored after.
    */
  private def scoped[T](spark: SparkSession, confs: (String, String)*)(
      body: => T): T = {
    val all = ("spark.sql.shuffle.partitions" -> StatePartitions.toString) +: confs
    val prev = all.map { case (k, _) => k -> spark.conf.getOption(k) }
    all.foreach { case (k, v) => spark.conf.set(k, v) }
    val undoFiles = LocalCheckpointFileManager.install(spark)
    try body
    finally {
      prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      undoFiles()
    }
  }

  /** Append-mode variant for operators that do not support complete
    * output (stream-stream joins): the memory sink accumulates emitted
    * rows; with AvailableNow over one staged file every inner-join match
    * emits in the single batch.
    */
  def runToResultAppend(spark: SparkSession, streaming: DataFrame): DataFrame =
    run(spark, streaming, "append")

  /** Append-mode run that KEEPS the trailing no-data micro-batch: outer
    * joins and other eviction-driven emitters produce their final rows
    * only in a batch where the watermark has moved past their state —
    * which for AvailableNow over staged files is exactly the no-data
    * batch after the last file (pair with eventsStreamWithFlush so the
    * watermark actually passes every real row first).
    */
  def runToResultAppendEvicting(spark: SparkSession, streaming: DataFrame): DataFrame =
    run(spark, streaming, "append", noDataBatches = true)

  /** Run an append-mode streaming frame to completion into a
    * BATCH-PARTITIONED parquet log: each micro-batch lands in its own
    * `batch_id=<n>` partition directory via foreachBatch + overwrite,
    * so a replayed batch overwrites itself (exactly-once without the
    * file-sink manifest) AND the log carries the batch ordering that
    * multi-batch consumers need — a keyed view fold takes the LATEST
    * batch per key; ±-algebra folds ignore the column (order-free).
    * Nothing data-sized lands on the driver. A crashed writer resumes
    * from `checkpoint`.
    */
  def runToParquet(spark: SparkSession, streaming: DataFrame, path: String,
      checkpoint: String): Unit =
    scoped(spark) {
      streaming.writeStream
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
          ()
        }
        .start()
        .awaitTermination()
    }

  /** Run a streaming DataFrame to completion, return the final result.
    * `complete` output mode so every window/group is in the final table
    * regardless of watermark progress at termination. State runs on
    * [[StatePartitions]] partitions.
    */
  def runToResult(spark: SparkSession, streaming: DataFrame): DataFrame =
    run(spark, streaming, "complete")

  private def run(spark: SparkSession, streaming: DataFrame, mode: String,
      noDataBatches: Boolean = false): DataFrame = {
    val name = s"graft_replay_result_${nameCounter.incrementAndGet()}"
    val ckpt = Files.createTempDirectory(ckptRoot, "graft_ckpt_")
    // the trailing no-data batch only advances the watermark for
    // append-mode eviction; complete mode re-outputs the full table
    // every batch, so skipping it changes nothing but saves a batch —
    // EXCEPT for eviction-driven output (outer joins), which needs it
    try scoped(spark, "spark.sql.streaming.noDataMicroBatches.enabled" ->
        noDataBatches.toString) {
      streaming.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .start()
        .awaitTermination()
    } finally {
      // the checkpoint is throwaway BY CONTRACT (see ckptRoot) and it
      // lives on a RAM disk: leaving it behind eats memory for the rest
      // of the session — and, because /dev/shm outlives the JVM, for
      // every LATER session on the box. Round-7 postmortem: ~1 GB of
      // leaked state-store files from prior runs measurably slowed the
      // micro-batch-bound queries that ran late in the bench order.
      deleteRecursively(ckpt)
    }
    // Materialize the (model-sized: final windows/groups, not input
    // rows) result off the memory sink, then DROP the sink's table —
    // otherwise every replay pins its sink rows in the driver heap for
    // the session's lifetime (a full bench runs each streaming query
    // 4×). The localCheckpoint copy is block-manager-held and is freed
    // by the ContextCleaner when the returned frame goes unreachable.
    val out = spark.table(name).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    out
  }

  /** Best-effort recursive delete (throwaway checkpoint dirs only). */
  private def deleteRecursively(p: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverseIterator
        .foreach(f => Files.deleteIfExists(f))
    } catch { case _: Exception => () }

  /** Sweep STALE throwaway checkpoints (ours: `graft_ckpt_*` under the
    * RAM-disk root) left by crashed or pre-fix sessions. Age-gated so a
    * concurrently running session's live checkpoints are never touched.
    */
  def sweepStaleCheckpoints(maxAgeMs: Long = 2L * 3600 * 1000): Unit =
    try {
      val now = System.currentTimeMillis()
      Option(ckptRoot.toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("graft_ckpt_")
          && now - f.lastModified() > maxAgeMs)
        .foreach(f => deleteRecursively(f.toPath))
    } catch { case _: Exception => () }
}
