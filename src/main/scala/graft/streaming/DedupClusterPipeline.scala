package graft.streaming

import graft.ops.{CorpusOps, MinHashLsh}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** STREAMING DEDUP-CLUSTER SERVING — the composition that closes the
  * near-dup index story: a documents CDC feed drives the streaming LSH
  * index ([[MinHashLsh.indexDeltaStream]], ±candidate-pair support
  * deltas), and the pair churn folds into a LIVE cluster labeling that
  * MERGES components on newly-live pairs ([[CorpusOps.mergeComponents]])
  * and SPLITS them on retractions ([[CorpusOps.splitComponents]] — a
  * revised doc whose bridge pair is revoked breaks its cluster apart),
  * served as (doc_id, cluster_id, is_canonical) rows in a keyed JDBC
  * table. Lineage:
  *
  *   feed ─ LWW replay ─▶ doc log ─ LSH state ─▶ pair-delta log ─┐
  *                                                               ▼
  *       labels ◀── merge(inserts) + split(retractions) ◀── support fold
  *         │
  *         └▶ JDBC MERGE (changed rows only)
  *
  * Cluster state (pair support + labels) lives as APPEND-ONLY state
  * logs with base-generation compaction ([[StateLog]]): each
  * micro-batch appends only its churn (support deltas; changed labels
  * + tombstones), readers fold base + recent log, and compaction
  * publishes a fresh base every `compactEvery` batches — per-batch
  * write cost is O(churn), never O(corpus). Replay is guarded
  * structurally: a batch folds state strictly BEFORE its own batch id,
  * so a crashed batch recomputes against exactly what it first saw.
  * The serving MERGE ships only rows whose label CHANGED plus
  * deletions, not the corpus.
  *
  * The maintained labeling is BIT-IDENTICAL to re-clustering the live
  * pair set from scratch at every batch (the merge/split operators'
  * pinned guarantee): per-batch work is the pair churn plus the
  * affected components, never the corpus graph. A pair whose support
  * rises and falls within one batch never becomes an edge (the fold is
  * atomic per batch) — consistent with folding the whole batch as one
  * transaction.
  *
  * EXACT VERIFICATION (`verifyThreshold = Some(t)`): LSH candidates are
  * bucket collisions, and on a real corpus some sit below the intended
  * Jaccard threshold — clustering raw candidates over-merges. With a
  * threshold set, the cluster stage maintains a VERIFIED edge set: any
  * live pair one of whose endpoints was TOUCHED this batch is
  * re-verified by exact Jaccard against the doc log's CURRENT texts.
  * Touch visibility is guaranteed by per-doc-delta MARKER rows the
  * pair stage writes beside the real deltas ((id, id, 0) — inert to
  * every support fold), so a revision re-verifies its pairs even when
  * it moved no bucket it shares with anyone. Verification reads only
  * COMMITTED doc-log batches and is restricted to the rechecked
  * endpoints (per-batch verify cost is churn-pair-sized; the doc-log
  * text lookup is a semi-joined scan here, a keyed text store at
  * warehouse scale). The verified set rides its own [[StateLog]], and
  * merge/split run on verified edges — so the serving table equals
  * from-scratch THRESHOLDED clustering, which is what an external
  * oracle can state (q133's gate). Enabling the threshold over a
  * PRE-EXISTING unverified work dir triggers a one-batch migration:
  * every live pair re-verifies and the labeling rebuilds from scratch,
  * retracting legacy below-threshold merges by omission.
  */
final case class DedupClusterPipeline(
    name: String,
    databases: Set[String],
    table: String,
    idField: String,
    textField: String,
    target: ViewTarget,
    shingleN: Int = 3,
    bands: Int = 16,
    rows: Int = 4,
    maxBucket: Int = Int.MaxValue,
    compactEvery: Int = 32,
    deadLetterDir: Option[String] = None,
    verifyThreshold: Option[Double] = None,
    metrics: Option[PipelineMetrics.Target] = None,
    expectations: Seq[graft.ops.Profile.Rule] = Nil,
    driftCheck: Boolean = false,
    driftPolicy: Option[CdcPipeline.DriftPolicy] = None,
    deadLetterRetentionMs: Long = 0L) extends TableLogPipeline {

  def kind: String = "dedup"

  graft.ops.Profile.requireEnforceable("dedup", name, expectations,
    metrics, deadLetterDir)
  require(deadLetterRetentionMs == 0L || deadLetterDir.isDefined,
    s"dedup $name: deadLetterRetentionMs needs a deadLetterDir")

  private val rowSchema: StructType =
    StructType.fromDDL(s"$idField BIGINT, $textField STRING")

  /** Drift gate over the raw wire BEFORE the doc log ([[DriftGate]]). */
  private val driftGate = DriftGate(name, "dedup", databases, table,
    rowSchema, idField, driftCheck, driftPolicy, metrics, deadLetterDir)

  private def docLogDir(workRoot: String) = s"$workRoot/log_docs"
  private def pairLogDir(workRoot: String) = s"$workRoot/log_pairs"
  private def ckptDir(workRoot: String, stage: String) = s"$workRoot/ckpt_$stage"
  private def docLog(workRoot: String) = DriftGate.TableLog(
    s"dedup_${name}_doclog", docLogDir(workRoot), ckptDir(workRoot, "doclog"),
    s"$workRoot/judged", ckptDir(workRoot, "gate"))

  // ---- state as append-only logs with base compaction ([[StateLog]]):
  // per-batch writes are O(churn), reads are base + recent log, and
  // compaction keeps the log bounded — never an O(state) write per batch

  private val SupportBaseSchema =
    StructType.fromDDL("id_a BIGINT, id_b BIGINT, support BIGINT")
  private val SupportLogSchema =
    StructType.fromDDL("id_a BIGINT, id_b BIGINT, d BIGINT, batch_id BIGINT")
  private val LabelBaseSchema =
    StructType.fromDDL("doc_id BIGINT, cluster_id BIGINT, is_canonical BOOLEAN")
  private val LabelLogSchema = StructType.fromDDL(
    "doc_id BIGINT, cluster_id BIGINT, is_canonical BOOLEAN, " +
      "tombstone BOOLEAN, batch_id BIGINT")

  /** Fold pair support visible to `currentBatch`: base snapshot plus
    * signed log deltas strictly between the base watermark and the
    * current batch (order-free ± algebra).
    */
  private def foldSupport(spark: SparkSession, base: String,
      currentBatch: Long): DataFrame = {
    val b = StateLog.readBase(spark, base, SupportBaseSchema)
      .select(col("id_a"), col("id_b"), col("support").as("d"))
    val l = StateLog.readLog(spark, base, SupportLogSchema, currentBatch)
      .select(col("id_a"), col("id_b"), col("d"))
    b.unionByName(l).groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("d")).as("support"))
      .filter(col("support") > 0)
  }

  /** Fold labels visible to `currentBatch`: latest row per doc across
    * base (stamped below every log batch) and the visible log, with
    * tombstones dropping the doc.
    */
  private def foldLabels(spark: SparkSession, base: String,
      currentBatch: Long): DataFrame = {
    val b = StateLog.readBase(spark, base, LabelBaseSchema)
      .select(col("doc_id"), col("cluster_id"), col("is_canonical"),
        lit(false).as("tombstone"), lit(-1L).as("batch_id"))
    val l = StateLog.readLog(spark, base, LabelLogSchema, currentBatch)
    b.unionByName(l).groupBy(col("doc_id"))
      .agg(max_by(struct(col("cluster_id"), col("is_canonical"),
        col("tombstone")), col("batch_id")).as("w"))
      .filter(!col("w.tombstone"))
      .select(col("doc_id"), col("w.cluster_id").as("cluster_id"),
        col("w.is_canonical").as("is_canonical"))
  }

  // ---- stages --------------------------------------------------------

  /** The stateful LSH stage: doc deltas → ±pair support deltas. Bucket
    * membership state lives in the stream's state store (RocksDB-ready);
    * the emitted deltas land in their own batch-partitioned log.
    */
  private def pairLogQuery(spark: SparkSession, workRoot: String,
      trigger: Trigger): StreamingQuery = {
    val docStream = spark.readStream.schema(ViewPipeline.LogSchema)
      .parquet(docLogDir(workRoot))
      .withColumnRenamed("batch_id", "seq")
    // TOUCH MARKERS ride the pair log beside the real deltas: one
    // (id, id, 0) row per document delta, so the cluster stage can
    // re-verify every live pair a churned doc participates in EVEN
    // WHEN the churn moved no bucket the doc shares with anyone (a
    // revision whose moved bands all land in singleton buckets emits
    // no pair deltas, yet its exact Jaccard against existing partners
    // may have crossed the threshold). Zero-delta rows are inert to
    // every support fold (net sums drop them) — they are visibility,
    // not support.
    val markers = docStream.select(
      col("key").cast("long").as("id_a"),
      col("key").cast("long").as("id_b"), lit(0).as("delta"))
    val pairs = MinHashLsh.indexDeltaStream(docStream, textField,
      shingleN, bands, rows, maxBucket = maxBucket).toDF()
      .unionByName(markers)
    val dir = pairLogDir(workRoot)
    pairs.writeStream
      .queryName(s"dedup_${name}_pairlog")
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", ckptDir(workRoot, "pairlog"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")
        ()
      }
      .start()
  }

  /** The cluster stage: pair-delta batches → support fold → edge
    * inserts/retractions → merge+split label maintenance → serving.
    */
  private def clusterQuery(spark: SparkSession, workRoot: String,
      trigger: Trigger,
      esTransport: graft.sinks.EsSink.Transport): StreamingQuery = {
    val stream = spark.readStream
      .schema(StructType.fromDDL(
        "id_a BIGINT, id_b BIGINT, delta INT, batch_id BIGINT"))
      .parquet(pairLogDir(workRoot))
    val idF = idField
    val expectRules = expectations
    val dlDir = deadLetterDir
    val pipelineName = name
    val mtx = metrics
    val (jdbc, es) = ServedPipeline.targets(target, idF, esTransport,
      name, workRoot)
    val supportBase = s"$workRoot/state_support"
    val labelBase = s"$workRoot/state_labels"
    val verifiedBase = s"$workRoot/state_verified"
    stream.writeStream
      .queryName(s"dedup_$name")
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", ckptDir(workRoot, "clusters"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.currentTimeMillis()
        var esDeadLetters = 0L
        var changedRows = 0L
        var droppedRows = 0L
        val raw = batch.localCheckpoint(true)
        val net = raw.groupBy(col("id_a"), col("id_b"))
          .agg(sum(col("delta")).cast("long").as("d"))
          .filter(col("d") =!= 0)
          .localCheckpoint(true)
        // churned docs this batch — the pair stage's (id, id, 0) touch
        // markers (real LSH pairs never self-pair). They drive exact
        // re-verification (below) AND label RE-EMISSION: a doc whose
        // replay re-applied an identical text produces a marker-only
        // batch, and its current label must re-serve so a store that
        // diverged under enforcement Drop reconverges (the
        // viewDeltaStreamOrdered emission-asymmetry argument)
        val touchedDocs = raw.filter(col("id_a") === col("id_b"))
          .select(col("id_a").as("doc_id")).distinct().localCheckpoint(true)
        // any non-empty batch acts: pure-marker batches re-verify (with
        // a threshold) and re-emit touched labels (every mode) — only a
        // truly empty batch skips
        val act = !raw.isEmpty
        if (act) {
          // pre-batch state: base + log strictly before THIS batch —
          // a replayed batch recomputes against exactly what it first
          // saw (its own half-written log dir is invisible)
          val support0 = foldSupport(spark, supportBase, batchId)
            .localCheckpoint(true)
          val support1 = support0
            .join(net, Seq("id_a", "id_b"), "full_outer")
            .select(col("id_a"), col("id_b"),
              (coalesce(col("support"), lit(0L)) +
                coalesce(col("d"), lit(0L))).as("support"))
            .filter(col("support") > 0)
            .localCheckpoint(true)
          // edge liveness transitions, directly from the two snapshots
          val live0 = support0.select(col("id_a"), col("id_b"))
          val live1 = support1.select(col("id_a"), col("id_b"))
            .localCheckpoint(true)
          // the clustering EDGE set: raw candidate liveness, or — with
          // a verify threshold — the maintained exact-verified subset.
          // rebuildAll marks the ONE migration batch where verification
          // was just enabled over pre-existing unverified state: every
          // live pair re-verifies and the labeling rebuilds from
          // scratch, because legacy below-threshold merges were never
          // in the verified set and no retraction could ever undo them
          val (edges0, edges1, rebuildAll) = verifyThreshold match {
            case None => (live0, live1, false)
            case Some(t) =>
              // replay-stable: the batch's OWN (possibly half-written)
              // log dir must not flip the verdict — only verified
              // batches STRICTLY BEFORE this one count as prior state
              val hasPriorVerified =
                Option(new java.io.File(s"$verifiedBase/log").listFiles())
                  .getOrElse(Array.empty[java.io.File])
                  .exists(f => f.isDirectory
                    && f.getName.startsWith("batch_id=")
                    && f.getName.stripPrefix("batch_id=").toLong < batchId)
              val migrating = StateLog.pointer(verifiedBase).upTo < 0 &&
                !hasPriorVerified && !support0.isEmpty
              // pairs needing a fresh verdict: any live pair one of
              // whose endpoints was TOUCHED this batch — the raw rows
              // include the pair stage's per-doc-delta markers, so a
              // revision is visible here even when it moved no shared
              // bucket (its exact Jaccard may still have crossed the
              // threshold). On the migration batch: everything.
              val touched = raw.select(col("id_a").as("doc_id"))
                .unionByName(raw.select(col("id_b").as("doc_id")))
                .distinct().localCheckpoint(true)
              val recheck =
                (if (migrating) live1
                 else live1
                   .join(touched.select(col("doc_id").as("id_a")),
                     Seq("id_a"), "left_semi")
                   .unionByName(live1
                     .join(touched.select(col("doc_id").as("id_b")),
                       Seq("id_b"), "left_semi"))
                   .distinct()).localCheckpoint(true)
              // CURRENT texts of the rechecked endpoints, from the doc
              // log (semi-join prunes to churn-touched keys). Only
              // COMMITTED batch dirs (_SUCCESS present) are read: in
              // live mode the doc-log writer runs concurrently, and a
              // half-visible batch would feed verification a torn text
              // snapshot (touch markers re-verify once the lagging
              // deltas arrive, so boundary-consistent reads converge)
              val docDirs =
                Option(new java.io.File(docLogDir(workRoot)).listFiles())
                  .getOrElse(Array.empty[java.io.File])
                  .filter(f => f.isDirectory
                    && f.getName.startsWith("batch_id=")
                    && new java.io.File(f, "_SUCCESS").exists())
              val needIds = recheck.select(col("id_a").as("key"))
                .unionByName(recheck.select(col("id_b").as("key"))).distinct()
              val docLog = (if (docDirs.isEmpty)
                  spark.createDataFrame(
                    java.util.List.of[org.apache.spark.sql.Row](),
                    ViewPipeline.LogSchema)
                else
                  spark.read.schema(ViewPipeline.LogSchema)
                    .option("basePath", docLogDir(workRoot))
                    .parquet(docDirs.map(_.getPath).toSeq: _*))
                .join(needIds, Seq("key"), "left_semi")
              val texts = graft.cdc.DeltaLog.currentRows(docLog)
                .select(col("key").as("doc_id"),
                  get_json_object(col("rowJson"), s"$$.$textField").as("text"))
              val sh = MinHashLsh.shingleSets(texts, "doc_id", "text", shingleN)
              val passed = recheck
                .join(sh.select(col("id").as("id_a"), col("ss").as("ssa")),
                  Seq("id_a"))
                .join(sh.select(col("id").as("id_b"), col("ss").as("ssb")),
                  Seq("id_b"))
                .filter(MinHashLsh.exactJaccard(col("ssa"), col("ssb")) >= t)
                .select(col("id_a"), col("id_b"))
              val verified0 = foldSupport(spark, verifiedBase, batchId)
                .select(col("id_a"), col("id_b")).localCheckpoint(true)
              val verified1 = verified0
                .join(live1, Seq("id_a", "id_b"), "left_semi")
                .join(recheck, Seq("id_a", "id_b"), "left_anti")
                .unionByName(passed)
                .localCheckpoint(true)
              // ± churn of the verified set rides its own state log
              StateLog.appendBatch(
                verified1.exceptAll(verified0).withColumn("d", lit(1L))
                  .unionByName(verified0.exceptAll(verified1)
                    .withColumn("d", lit(-1L))),
                verifiedBase, batchId)
              if (StateLog.logBatchCount(verifiedBase) > compactEvery)
                StateLog.compact(
                  verified0.withColumn("support", lit(1L)),
                  verifiedBase, batchId - 1)
              (verified0, verified1, migrating)
          }
          val inserted = edges1.except(edges0)
            .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"))
            .localCheckpoint(true)
          val retracted = edges0.except(edges1)
            .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"))
            .localCheckpoint(true)
          val labels0 = foldLabels(spark, labelBase, batchId)
            .localCheckpoint(true)
          val labels1 =
            (if (rebuildAll)
              // migration: from-scratch clustering of the verified
              // edges — legacy unverified merges retract by omission
              CorpusOps.dupClusters(
                edges1.select(col("id_a").as("doc_id_a"),
                  col("id_b").as("doc_id_b")))
            else {
              val merged =
                if (inserted.isEmpty) labels0
                else CorpusOps.mergeComponents(labels0, inserted)
              if (retracted.isEmpty) merged
              else CorpusOps.splitComponents(merged,
                edges1.select(col("id_a").as("doc_id_a"),
                  col("id_b").as("doc_id_b")), retracted)
            }).localCheckpoint(true)
          // CHANGED rows only — the state-log append, the serving MERGE
          // and the per-batch write cost are all churn-sized — PLUS the
          // touched docs' current labels even when unchanged: one
          // store-addressed idempotent row each, and the re-emission is
          // what lets a serving store that legitimately diverged
          // (enforcement Drop withheld the row; the keyed replay
          // re-injected the doc's unchanged truth) reconverge — without
          // it the replay would be silently absorbed here
          val diffChanged = labels1.join(
            labels0.select(col("doc_id"), col("cluster_id").as("prev_cl")),
            Seq("doc_id"), "left")
            .filter(col("prev_cl").isNull || col("prev_cl") =!= col("cluster_id"))
            .select(col("doc_id"), col("cluster_id"), col("is_canonical"))
          val changed = diffChanged.unionByName(
            labels1.join(touchedDocs, Seq("doc_id"), "left_semi")
              .join(diffChanged.select(col("doc_id")), Seq("doc_id"),
                "left_anti")
              .select(col("doc_id"), col("cluster_id"), col("is_canonical")))
            .localCheckpoint(true)
          val dropped = labels0.join(labels1.select(col("doc_id")),
            Seq("doc_id"), "left_anti")
            .select(col("doc_id")).localCheckpoint(true)
          StateLog.appendBatch(net, supportBase, batchId)
          StateLog.appendBatch(
            changed.withColumn("tombstone", lit(false))
              .unionByName(dropped
                .withColumn("cluster_id", lit(null).cast("long"))
                .withColumn("is_canonical", lit(null).cast("boolean"))
                .withColumn("tombstone", lit(true))),
            labelBase, batchId)
          changedRows = changed.count()
          droppedRows = dropped.count()
          // expectations judge the batch's changed CLUSTER rows under
          // the conf's id name BEFORE the serving write (both frames
          // are localCheckpointed above): Halt fails the batch here,
          // Drop violators dead-letter and are withheld from the store
          // — the label STATE already recorded them (the clustering
          // algebra stays exact); only the consumer surface is guarded
          esDeadLetters = ServedPipeline.writeKeyed(pipelineName, kind,
            batchId, idF,
            changed.select(col("doc_id").as(idF), col("cluster_id"),
              col("is_canonical").cast("int").as("is_canonical")),
            dropped.select(col("doc_id").as(idF)),
            changed.select(col("doc_id").as(idF), col("cluster_id"),
              col("is_canonical")),
            expectRules, mtx, dlDir, jdbc, es).getOrElse(0L)
          // bounded log: fold-to-batchId−1 (exactly support0/labels0)
          // becomes the next base generation; folded-in dirs pruned
          if (StateLog.logBatchCount(supportBase) > compactEvery)
            StateLog.compact(support0, supportBase, batchId - 1)
          if (StateLog.logBatchCount(labelBase) > compactEvery)
            StateLog.compact(labels0, labelBase, batchId - 1)
        }
        // every drained batch records — counts ride the
        // localCheckpointed frames, never a plan re-run (S6 visibility)
        mtx.foreach(m => PipelineMetrics.record(m, pipelineName, "dedup",
          batchId, rowsIn = raw.count(),
          deadLetters = esDeadLetters, stateRows = net.count(),
          wallMs = System.currentTimeMillis() - t0,
          info = s"""{"changed":$changedRows,"dropped":$droppedRows}"""))
        ()
      }
      .start()
  }

  /** A dedup dead letter is a DERIVED cluster row (doc, cluster,
    * canonical flag): it replays by doc id against the doc log, and the
    * normal path re-shingles, re-stitches and re-judges — the
    * clustering algebra was never wrong (state recorded the withheld
    * members), only the serving surface re-emits.
    */
  override protected def keyedReplay: Option[ServedPipeline.KeyedReplay] =
    Some(ServedPipeline.KeyedReplay(idField, table,
      (spark, workRoot) => StateLog.latestLiveRows(spark, docLogDir(workRoot))))

  /** Gate + doc log, the LSH pair stage, then the cluster/serving
    * stage; the pair-log dir is seeded first (the cluster stage's file
    * stream needs it).
    */
  protected def stages(spark: SparkSession, feedDir: String,
      workRoot: String, esTransport: graft.sinks.EsSink.Transport)
      : Seq[Trigger => StreamingQuery] = {
    Files.createDirectories(Paths.get(pairLogDir(workRoot)))
    driftGate.stages(spark, feedDir, docLog(workRoot)) ++ Seq(
      (t: Trigger) => pairLogQuery(spark, workRoot, t),
      (t: Trigger) => clusterQuery(spark, workRoot, t, esTransport))
  }

  /** The served clusters read back (JDBC targets — tests / operational
    * visibility; an ES target's documents live in the index).
    */
  def servedClusters(spark: SparkSession): DataFrame = target match {
    case JdbcTarget(url, tbl, _) =>
      spark.read.jdbc(url, tbl, new java.util.Properties())
        .select(col(idField).cast("long").as("doc_id"),
          col("cluster_id").cast("long").as("cluster_id"),
          (col("is_canonical") === 1).as("is_canonical"))
    case _ => throw new IllegalStateException(
      s"dedup pipeline $name serves to Elasticsearch — read the index")
  }
}
