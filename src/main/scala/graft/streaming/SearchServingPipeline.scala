package graft.streaming

import graft.ops.CorpusOps
import graft.sinks.JdbcSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** STREAMING SEARCH-INDEX SERVING — the q134 maintained inverted index
  * as a LIVE pipeline, completing the serving trio beside
  * [[AnnServingPipeline]] (vectors) and [[DedupClusterPipeline]]
  * (near-dup clusters): a documents CDC feed flows through LWW replay
  * into a delta log, each micro-batch's deltas become signed
  * TERM-POSTING and DOC-LENGTH contributions
  * ([[CorpusOps.termPostingDeltas]] / [[CorpusOps.docLenDeltas]] —
  * stateless: the delta's prev row carries the old text, no lookup),
  * and the net ±tf / ±len land in keyed JDBC tables via ADDITIVE MERGE
  * — a BM25 server reads the store alone. Lineage:
  *
  *   bronze feed ─ LWW replay ─▶ delta log ─▶ ±postings ─▶ JDBC += tf
  *                                       └──▶ ±doc lens ─▶ JDBC += len
  *
  * Both stages checkpoint under `workRoot` ([[ViewPipeline]]'s
  * contract): [[runOnce]] is incremental across invocations and
  * [[start]] runs the same stages live. Effects are EXACTLY-ONCE:
  * [[JdbcSink.mergeAdditive]] commits a batch-progress marker in the
  * same transaction as the merge, so a checkpoint-replayed batch is
  * skipped whole — additive effects cannot rely on idempotence the way
  * keyed upserts do. Postings whose net tf reaches 0 (revision dropped
  * the term, or the doc was deleted) are deleted by the merge's
  * zero-guard, so the store holds exactly the LIVE index.
  *
  * The ± fold is order-free algebra, so a catch-up micro-batch
  * carrying several source batches for one document is simply netted —
  * the same argument as q134's batch fold, which is ALSO this
  * pipeline's oracle story: [[servedBm25]] reads only the store, and
  * the spec pins it equal to the batch scorer over the current corpus
  * after every churn wave.
  *
  * Serving schema: `postingsTable(token VARCHAR, doc_id BIGINT, tf
  * BIGINT)` keyed (token, doc_id); `lensTable(doc_id BIGINT PK, len
  * BIGINT)`.
  */
final case class SearchServingPipeline(
    name: String,
    databases: Set[String],
    table: String,
    idField: String,
    textField: String,
    jdbcUrl: String,
    postingsTable: String,
    lensTable: String,
    k1: Double = 1.2,
    b: Double = 0.75,
    metrics: Option[PipelineMetrics.Target] = None,
    expectations: Seq[graft.ops.Profile.Rule] = Nil,
    deadLetterDir: Option[String] = None,
    driftCheck: Boolean = false,
    driftPolicy: Option[CdcPipeline.DriftPolicy] = None,
    deadLetterRetentionMs: Long = 0L,
    retireAfterMs: Long = 0L) {

  require(deadLetterRetentionMs == 0L || deadLetterDir.isDefined,
    s"search $name: deadLetterRetentionMs needs a deadLetterDir")
  require(retireAfterMs >= 0L,
    s"search $name: retireAfterMs must be non-negative, got $retireAfterMs")

  graft.ops.Profile.requireEnforceable("search", name, expectations,
    metrics, deadLetterDir)
  // additive-store stability: the judged frame is the ± posting
  // contributions (token, doc_id, tf), so drop verdicts must be
  // deterministic functions of the stable doc identity — the literal
  // `doc_id` column of that frame — or an insert and its retraction
  // get different verdicts and the running sums corrupt
  graft.ops.Profile.requireStableAdditiveDropRules("search", name,
    expectations, "doc_id")

  private val rowSchema: StructType =
    StructType.fromDDL(s"$idField BIGINT, $textField STRING")

  /** Drift gate over the raw wire BEFORE the table log ([[DriftGate]]):
    * a drifted doc event withheld here never contributes ± postings, so
    * the additive sums stay coherent — unlike `_expect` enforcement,
    * drift dead letters are RAW WIRE and feed-replay cleanly once the
    * conf's schema evolves.
    */
  private val driftGate = DriftGate(name, "search", databases, table,
    rowSchema, idField, driftCheck, driftPolicy, metrics, deadLetterDir)

  private def logDir(workRoot: String) = s"$workRoot/log"
  private def ckptDir(workRoot: String, stage: String) = s"$workRoot/ckpt_$stage"
  private def tableLog(workRoot: String) = DriftGate.TableLog(
    s"search_${name}_log", logDir(workRoot), ckptDir(workRoot, "log"),
    s"$workRoot/judged", ckptDir(workRoot, "gate"))

  // ---------- STORE VERSIONING (the online rebuild's swap seam) ----------

  /** The CURRENT-version pointer table: one row, one INT. Lives in the
    * serving store itself — the store is the only thing a BM25 server
    * reads, so its pointer belongs beside it (the conf stays the
    * registration unit; the pointer is runtime state, like the ann
    * kind's quantizer generation).
    */
  private def pointerTable: String = s"${postingsTable}_current"

  /** Physical table names at a store version. Version 0 is the conf's
    * DECLARED names — a store never online-rebuilt has no pointer
    * table and no suffix, so every pre-versioning deployment reads
    * unchanged. Versions ≥ 1 suffix `_v<N>`.
    */
  private def tablesAt(v: Int): (String, String) =
    if (v == 0) (postingsTable, lensTable)
    else (s"${postingsTable}_v$v", s"${lensTable}_v$v")

  /** Work root at a version — SIBLING dirs (`<workRoot>_v<N>`), never
    * nested, so retiring a version deletes one whole directory without
    * touching its successor's checkpoints.
    */
  private def workRootAt(workRoot: String, v: Int): String =
    if (v == 0) workRoot else s"${workRoot}_v$v"

  /** The store's CURRENT version: the pointer row, or 0 when the
    * pointer table does not exist / is empty (never online-rebuilt).
    */
  def currentVersion(): Int = {
    val c = java.sql.DriverManager.getConnection(jdbcUrl)
    try {
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(s"""SELECT "v" FROM $pointerTable""")
        try { if (rs.next()) rs.getInt(1) else 0 } finally rs.close()
      } catch {
        case e: java.sql.SQLException
            if JdbcSink.TableAbsentStates(e.getSQLState) => 0
      } finally st.close()
    } finally c.close()
  }

  /** Resolve this conf to its CURRENT physical store: itself at v0, or
    * a twin bound to the versioned table names, plus the versioned
    * work root. The twin's own pointer lookup (`<pt>_v<N>_current`)
    * never exists, so its methods bind its suffixed names directly —
    * resolution is one level, by construction.
    */
  private def atCurrent(workRoot: String): (SearchServingPipeline, String) = {
    val v = currentVersion()
    if (v == 0) (this, workRoot)
    else {
      val (pt, lt) = tablesAt(v)
      (copy(postingsTable = pt, lensTable = lt), workRootAt(workRoot, v))
    }
  }

  /** Create the conf's DECLARED (v0) store tables if absent — the one
    * public copy of the serving DDL, for harnesses and deployments
    * that bootstrap the store programmatically instead of by hand.
    */
  def ensureStoreTables(): Unit = ensureStoreTables(postingsTable, lensTable)

  /** Canonical store DDL — the pipeline owns its serving schema (the
    * scaladoc's contract), so the online rebuild can create the next
    * version's tables itself. ANSI types; the embedded profile's
    * default target is Derby.
    */
  private def ensureStoreTables(pt: String, lt: String): Unit = {
    JdbcSink.createTableIfAbsent(jdbcUrl,
      s"""CREATE TABLE $pt ("token" VARCHAR(256) NOT NULL,
         | "doc_id" BIGINT NOT NULL, "tf" BIGINT,
         | PRIMARY KEY ("token", "doc_id"))""".stripMargin.replace("\n", ""))
    JdbcSink.createTableIfAbsent(jdbcUrl,
      s"""CREATE TABLE $lt ("doc_id" BIGINT NOT NULL PRIMARY KEY,
         | "len" BIGINT)""".stripMargin.replace("\n", ""))
  }

  /** ATOMIC pointer flip: one single-row UPDATE (or first INSERT) in
    * one transaction. A reader resolves the pointer once per call and
    * then reads both tables of THAT version, so it sees the old store
    * or the new one, never a mix.
    */
  private def flipPointer(next: Int): Unit = {
    JdbcSink.createTableIfAbsent(jdbcUrl,
      s"""CREATE TABLE $pointerTable ("v" INT NOT NULL)""")
    val c = java.sql.DriverManager.getConnection(jdbcUrl)
    try {
      c.setAutoCommit(false)
      val st = c.createStatement()
      try {
        val n = st.executeUpdate(s"""UPDATE $pointerTable SET "v" = $next""")
        if (n == 0) st.execute(s"INSERT INTO $pointerTable VALUES ($next)")
        c.commit()
      } catch { case e: Throwable => c.rollback(); throw e }
      finally st.close()
    } finally c.close()
  }

  // -------- RETIREMENT GRACE (the multi-driver extension, r16) --------

  /** One-row due-clock for grace-deferred retirement: when the conf
    * declares `retireAfterMs > 0`, the flip leaves every superseded
    * version's tables READABLE and records the wall-clock after which
    * [[sweepSupersededVersions]] (the watcher's maintenance tick) may
    * retire them — a reader in ANOTHER driver that resolved the
    * pointer just before the flip keeps answering from the old store
    * through the window instead of failing loud mid-read.
    */
  private def retireTable: String = s"${postingsTable}_retire"

  private def scheduleRetirement(dueAtMs: Long): Unit = {
    JdbcSink.createTableIfAbsent(jdbcUrl,
      s"""CREATE TABLE $retireTable ("due_at" BIGINT NOT NULL)""")
    val c = java.sql.DriverManager.getConnection(jdbcUrl)
    try {
      c.setAutoCommit(false)
      val st = c.createStatement()
      try {
        st.executeUpdate(s"DELETE FROM $retireTable")
        st.execute(s"INSERT INTO $retireTable VALUES ($dueAtMs)")
        c.commit()
      } catch { case e: Throwable => c.rollback(); throw e }
      finally st.close()
    } finally c.close()
  }

  private def retirementDue(): Option[Long] = {
    val c = java.sql.DriverManager.getConnection(jdbcUrl)
    try {
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(s"""SELECT "due_at" FROM $retireTable""")
        try { if (rs.next()) Some(rs.getLong(1)) else None }
        finally rs.close()
      } catch {
        case e: java.sql.SQLException
            if JdbcSink.TableAbsentStates(e.getSQLState) => None
      } finally st.close()
    } finally c.close()
  }

  private def clearRetirementRow(): Unit = {
    val c = java.sql.DriverManager.getConnection(jdbcUrl)
    try {
      val st = c.createStatement()
      try { st.executeUpdate(s"DELETE FROM $retireTable"); () }
      catch {
        case e: java.sql.SQLException
            if JdbcSink.TableAbsentStates(e.getSQLState) => ()
      } finally st.close()
    } finally c.close()
  }

  private def tableExists(table: String): Boolean = {
    val c = java.sql.DriverManager.getConnection(jdbcUrl)
    try {
      val st = c.createStatement()
      try { st.executeQuery(s"SELECT 1 FROM $table WHERE 1=0").close(); true }
      catch {
        case e: java.sql.SQLException
            if JdbcSink.TableAbsentStates(e.getSQLState) => false
      } finally st.close()
    } finally c.close()
  }

  /** Any surface of store version `u` still present? (tables, work
    * root, or a crashed build attempt's staged quarantine) — the
    * sweep's "anything pending" probe.
    */
  private def versionSurfacesExist(spark: SparkSession, workRoot: String,
      u: Int): Boolean = {
    val (pt, lt) = tablesAt(u)
    if (tableExists(pt) || tableExists(lt)) true
    else {
      val wp = new org.apache.hadoop.fs.Path(workRootAt(workRoot, u))
      wp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(wp)
    }
  }

  /** Retire every store version below `v`: tables, progress markers,
    * work roots, and any crashed build attempt's staged quarantine.
    * Dropping an already-retired version is a no-op — crash-idempotent
    * by construction (the flip-then-sweep contract).
    */
  private def retireVersionsBelow(spark: SparkSession, workRoot: String,
      v: Int): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    (0 until v).foreach { u =>
      val (pt, lt) = tablesAt(u)
      Seq(pt, lt, s"${pt}_progress", s"${lt}_progress")
        .foreach(JdbcSink.dropTableIfExists(jdbcUrl, _))
      val owp = new org.apache.hadoop.fs.Path(workRootAt(workRoot, u))
      owp.getFileSystem(hconf).delete(owp, true)
      // a build attempt AT version u that crashed pre-adoption leaves
      // its staged quarantine behind; it is superseded garbage now
      deadLetterDir.foreach { d =>
        val sp = new org.apache.hadoop.fs.Path(stagedDeadLetterDir(d, u))
        sp.getFileSystem(hconf).delete(sp, true)
        ()
      }
      ()
    }
  }

  /** MAINTENANCE SWEEP for grace-deferred retirement — called by
    * [[PipelineWatcher]]'s maintenance tick (and safe to call from any
    * operator harness): retires every superseded store version once
    * the conf's `retireAfterMs` window has elapsed since the flip.
    * Self-healing at every crash point: with no due-clock row but
    * superseded surfaces present (a crash between the flip and the
    * schedule, or a pre-grace orphan), an immediate-retirement conf
    * (`retireAfterMs == 0`) retires them NOW, and a grace conf
    * conservatively RESTARTS the clock — a window that errs longer
    * never strands a reader mid-grace. Returns the number of versions
    * retired by THIS call.
    */
  def sweepSupersededVersions(spark: SparkSession, workRoot: String,
      nowMs: Long = System.currentTimeMillis()): Int = {
    val v = currentVersion()
    if (v == 0) 0
    else {
      val stale = (0 until v).filter(versionSurfacesExist(spark, workRoot, _))
      if (stale.isEmpty) { clearRetirementRow(); 0 }
      else if (retireAfterMs <= 0L) {
        retireVersionsBelow(spark, workRoot, v); clearRetirementRow()
        stale.size
      } else retirementDue() match {
        case Some(due) if nowMs >= due =>
          retireVersionsBelow(spark, workRoot, v); clearRetirementRow()
          stale.size
        case Some(_) => 0
        case None => scheduleRetirement(nowMs + retireAfterMs); 0
      }
    }
  }

  /** REBUILD CONTRACT: the additive-merge progress markers are keyed by
    * the index stage's foreachBatch batch id, which restarts at 0 when
    * the work dir (checkpoints) is rebuilt — markers left by a previous
    * run would then silently skip every replayed batch, leaving a
    * truncated store empty forever. A missing index checkpoint is the
    * definitive "this run starts from batch 0" signal, so stale markers
    * are cleared HERE, before the first batch; an existing checkpoint
    * (normal resume) never clears. The store tables themselves are the
    * operator's to truncate — replaying the full feed into a non-empty
    * additive store double-counts regardless of markers.
    */
  private def clearStaleProgressIfFresh(workRoot: String): Unit =
    if (!Files.exists(Paths.get(ckptDir(workRoot, "index")))) {
      JdbcSink.clearProgress(jdbcUrl, postingsTable)
      JdbcSink.clearProgress(jdbcUrl, lensTable)
    }

  /** DROP-RULE DIMENSION PINNING for the additive store: a
    * path-declared referential Drop rule re-read per batch sees
    * whatever the dimension file holds THAT batch, so a doc allowed at
    * insert but banned (dim row removed) by its later retraction would
    * leave its +postings stuck in the running sums forever. The fix is
    * the same lifetime coupling the progress markers use: at the
    * store's birth (fresh index checkpoint — [[clearStaleProgressIfFresh]]'s
    * signal) the dimension's distinct keys are SNAPSHOTTED under the
    * work root, and every batch of the store's life judges against the
    * snapshot — one verdict per doc_id for as long as its
    * contributions live. A conf that must pick up a new dimension
    * rebuilds the work dir (and truncates the store), exactly like any
    * other enforcement-policy change on an additive fold. Warn-action
    * referential rules stay LIVE deliberately: monitoring should see
    * the current dimension; only enforcement needs the frozen verdict.
    */
  private def pinnedExpectations(spark: SparkSession,
      workRoot: String): Seq[graft.ops.Profile.Rule] =
    expectations.map {
      case r: graft.ops.Profile.RefIntegrityPath
          if r.action == graft.ops.Profile.Drop =>
        val safe = r.name.replaceAll("[^A-Za-z0-9._-]", "_")
        val snap = s"$workRoot/expect_dim/$safe"
        // buildOnce (own done marker + in-JVM monitor + cross-process
        // file lock), NOT the committer's _SUCCESS: deployments with
        // marksuccessfuljobs=false would re-snapshot the LIVE dim on
        // every boot, silently reverting the frozen-verdict contract —
        // and a crash mid-snapshot must retry, never serve a partial
        // key set that dead-letters docs forever
        graft.cdc.DeltaLog.buildOnce(snap) { () =>
          spark.read.parquet(r.dimPath).select(col(r.dimColumn)).distinct()
            .write.mode("overwrite").parquet(s"$snap/keys")
        }
        r.copy(dimPath = s"$snap/keys")
      case r => r
    }

  private def indexQuery(spark: SparkSession, workRoot: String,
      trigger: Trigger): StreamingQuery = {
    val stream = spark.readStream.schema(ViewPipeline.LogSchema)
      .parquet(logDir(workRoot))
    val tf = textField
    val url = jdbcUrl
    val (pt, lt) = (postingsTable, lensTable)
    val mtx = metrics
    val pipelineName = name
    val expectRules = pinnedExpectations(spark, workRoot)
    val dlDir = deadLetterDir
    stream.writeStream
      .queryName(s"search_$name")
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", ckptDir(workRoot, "index"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.currentTimeMillis()
        // persist across the two staging actions: an uncached batch
        // frame re-runs the whole micro-batch plan per action
        val cached = batch.persist()
        try {
          // net ± contributions of THIS batch (order-free algebra nets
          // a catch-up batch's whole per-key history correctly)
          val posting0 = CorpusOps.termPostingDeltas(cached, tf)
            .select(col("token"), col("doc_id"), col("d").as("tf"))
          // expectations judge the ± posting contributions BEFORE the
          // additive MERGE: Halt fails the batch here (store keeps its
          // pre-batch state), Drop violators dead-letter and are
          // withheld from the fold
          val violating = PipelineMetrics.enforceBatchExpectations(mtx,
            pipelineName, batchId, expectRules, posting0,
            Seq("token", "doc_id"), dlDir, kind = "search")
          // pinned when enforcing: the clean postings feed the MERGE,
          // the len-coherence anti-join AND the metrics count — an
          // unpinned plan would re-tokenize the batch per consumer
          val posting = violating.fold(posting0)(v =>
            posting0.join(v.select(col("token"), col("doc_id")),
              Seq("token", "doc_id"), "left_anti").localCheckpoint(true))
          JdbcSink.mergeAdditive(posting, url, pt,
            Seq("token", "doc_id"), Seq("tf"), zeroGuard = "tf",
            stagingColumnTypes = "token VARCHAR(256)", batchId = batchId)
          val lens0 = CorpusOps.docLenDeltas(cached, tf)
            .select(col("doc_id"), col("d").as("len"))
          // store coherence under drop enforcement: a doc whose EVERY
          // posting contribution was withheld never entered (or left)
          // the index this batch, so its length contribution must not
          // either — a stale len row would silently skew BM25's
          // n_docs/avgdl stats for the allowed corpus
          val lens = violating.fold(lens0) { v =>
            val fullyWithheld = v.select(col("doc_id")).distinct()
              .join(posting.select(col("doc_id")).distinct(),
                Seq("doc_id"), "left_anti")
            lens0.join(fullyWithheld, Seq("doc_id"), "left_anti")
          }
          JdbcSink.mergeAdditive(lens, url, lt,
            Seq("doc_id"), Seq("len"), zeroGuard = "len", batchId = batchId)
          // counts re-derive from the persisted batch frame only
          mtx.foreach(m => PipelineMetrics.record(m, pipelineName, "search",
            batchId, rowsIn = cached.count(), deadLetters = 0L,
            stateRows = posting.count() + lens.count(),
            wallMs = System.currentTimeMillis() - t0))
        } finally { cached.unpersist(); () }
        ()
      }
      .start()
  }

  /** REBUILD the additive store under THIS (evolved) conf — the search
    * kind's quarantine-closure verb, completing the five-kind
    * lifecycle: the other kinds feed-replay their dead letters
    * (wire-shaped) or keyed-replay them (derived rows), but an
    * additive store's drop verdicts are FROZEN for the store's
    * lifetime ([[pinnedExpectations]] — re-judging history against a
    * changed rule would corrupt the running ± sums), so an
    * enforcement-policy change repairs by REBUILD: clear the work dir
    * (checkpoints, judged log, table log, pinned dimension snapshots —
    * the store's frozen verdicts live there), truncate both store
    * tables and their batch-progress markers (replaying the full feed
    * into a non-empty additive fold double-counts), retire this
    * pipeline's dead-letter subtrees (their docs are about to be
    * re-judged from scratch; rows still bad under the evolved conf
    * re-quarantine under the NEW store's batch ids — rebuild never
    * skips judgment), then re-drive the ENTIRE bronze feed through the
    * fixed conf's normal path. Every step is idempotent, so a crashed
    * rebuild simply re-runs.
    *
    * The rebuild is OFFLINE for this conf's serving surface (the
    * store is truncated mid-verb) — [[rebuildStoreOnline]] is the
    * zero-downtime variant (build beside, atomic pointer flip).
    * Scale shape: the re-drive is the normal executor-parallel
    * pipeline over the feed; the only driver-side work is DDL,
    * directory deletes and the checkpoint clears.
    *
    * Returns the number of retired dead-letter partitions.
    */
  def rebuildStore(spark: SparkSession, feedDir: String,
      workRoot: String): Long = {
    // in-place repair happens at whatever version currently serves
    val (p, wr) = atCurrent(workRoot)
    p.rebuildInPlace(spark, feedDir, wr)
  }

  private def rebuildInPlace(spark: SparkSession, feedDir: String,
      workRoot: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    // 1. the work dir: frozen verdicts, checkpoints, judged + table log
    val wr = new org.apache.hadoop.fs.Path(workRoot)
    wr.getFileSystem(conf).delete(wr, true)
    // 2. the store: truncate both tables; progress markers clear with
    //    them (a fresh store must not skip replayed batch ids)
    val c = java.sql.DriverManager.getConnection(jdbcUrl)
    try {
      val st = c.createStatement()
      st.execute(s"DELETE FROM $postingsTable")
      st.execute(s"DELETE FROM $lensTable")
    } finally c.close()
    JdbcSink.clearProgress(jdbcUrl, postingsTable)
    JdbcSink.clearProgress(jdbcUrl, lensTable)
    // 3. the quarantine: the old store's letters describe verdicts the
    //    rebuild re-derives in full — still-bad rows re-dead-letter
    //    under the new batch ids during the re-drive below. The layout
    //    knowledge lives with the writer (PipelineMetrics), never
    //    re-derived here.
    val retired = deadLetterDir.fold(0L)(dir =>
      PipelineMetrics.retireDeadLetterSubtrees(spark, dir, name))
    // 4. re-drive the full feed through the fixed conf's normal path
    driveOnce(spark, feedDir, workRoot)
    retired
  }

  /** The staging root a build attempt at version `v` quarantines
    * into — a sibling of the live `_expect`/`_drift` subtrees under
    * the same dead-letter dir (underscore-prefixed: invisible to the
    * partitioned parquet reads, same filesystem so adoption is a
    * RENAME). Keyed by target version, so a crashed attempt's leftover
    * is found both by its retry (same version) and by the superseded
    * sweep (version ≤ current).
    */
  private def stagedDeadLetterDir(deadLetterRoot: String, v: Int): String =
    s"$deadLetterRoot/_rebuild_v$v"

  /** ONLINE rebuild — the zero-downtime variant of [[rebuildStore]],
    * mechanizing the swap the offline verb's scaladoc used to leave to
    * the operator. The quantizer-generation retrain-and-swap pattern
    * ([[AnnServingPipeline]]), with the STORE carrying the CURRENT
    * pointer:
    *
    *  1. the NEXT version's tables (`<declared>_v<N>`) are created
    *     fresh (a crashed previous attempt at the same version is
    *     dropped wholesale first — its pointer never flipped, so
    *     nothing ever served from it — along with its staged
    *     quarantine);
    *  2. the ENTIRE bronze feed re-drives through the evolved conf's
    *     normal judged path into the new tables under a SIBLING work
    *     root (`<workRoot>_v<N>`), quarantining into a STAGED
    *     dead-letter root ([[stagedDeadLetterDir]]) — neither the
    *     serving tables nor the live quarantine are touched, so
    *     [[servedBm25]] answers from the old store throughout the
    *     build and a build that fails (even persistently) leaves the
    *     serving store's dead letters fully listed and replayable;
    *  3. only after the build SUCCEEDED, the live quarantine retires
    *     and the staged one renames into its place
    *     ([[PipelineMetrics.adoptStagedDeadLetters]]) — still-bad rows
    *     under the evolved policy arrive already re-judged, under the
    *     new store's batch ids;
    *  4. the pointer flips in ONE single-row transaction — readers
    *     resolve the pointer once per call and read both tables of
    *     that version, so a query sees the old store or the new one,
    *     never a mix;
    *  5. superseded versions retire: immediately when `retireAfterMs`
    *     is 0 (single-process contract — an in-flight reader of the
    *     old tables fails loud, never reads stale), or after the
    *     conf's grace window when `retireAfterMs > 0` (multi-driver
    *     contract — [[sweepSupersededVersions]] on the watcher's
    *     maintenance tick retires them once the recorded due-clock
    *     elapses, so a reader that resolved the pointer pre-flip keeps
    *     answering through the window). Sweeping ALL versions below
    *     the flipped one keeps the verb crash-idempotent (a crash
    *     between the flip and the sweep leaves an orphan the NEXT
    *     sweep still catches).
    *
    * After the flip the conf's own [[runOnce]]/[[start]] resolve to
    * the new version and continue from the build's checkpoints — feed
    * events that arrived DURING the build drain on the next normal
    * trigger, exactly once (fresh checkpoints + progress markers).
    * Crash windows, all bounded: between adoption and flip, the OLD
    * store briefly serves with the NEW letters listed (the retry
    * re-judges and re-adopts); between flip and schedule/sweep, the
    * sweep self-heals ([[sweepSupersededVersions]]). A LIVE writer of
    * the old version must be stopped before the verb (the normal
    * restart-from-checkpoint upgrade); its post-flip writes would
    * target dropped tables and fail loud, not corrupt.
    *
    * Returns the number of retired dead-letter partitions.
    */
  def rebuildStoreOnline(spark: SparkSession, feedDir: String,
      workRoot: String): Long = {
    val cur = currentVersion()
    val next = cur + 1
    val (newPt, newLt) = tablesAt(next)
    val newWr = workRootAt(workRoot, next)
    val hconf = spark.sparkContext.hadoopConfiguration
    // 1. fresh next-version surfaces (idempotent crash-retry: drop the
    //    unfinished attempt's tables/checkpoints/staged letters and
    //    rebuild)
    val nwp = new org.apache.hadoop.fs.Path(newWr)
    nwp.getFileSystem(hconf).delete(nwp, true)
    Seq(newPt, newLt, s"${newPt}_progress", s"${newLt}_progress")
      .foreach(JdbcSink.dropTableIfExists(jdbcUrl, _))
    ensureStoreTables(newPt, newLt)
    val stagingDl = deadLetterDir.map(stagedDeadLetterDir(_, next))
    stagingDl.foreach { s =>
      val sp = new org.apache.hadoop.fs.Path(s)
      sp.getFileSystem(hconf).delete(sp, true)
      ()
    }
    // 2. build BESIDE with a STAGED quarantine: the old store keeps
    //    serving and its dead letters stay listed through the whole
    //    build (and through any FAILED build — the letters only move
    //    after success, step 3); the twin's own pointer lookup never
    //    exists, so it binds the _v<N> names directly
    val twin = copy(postingsTable = newPt, lensTable = newLt,
      deadLetterDir = stagingDl)
    twin.driveOnce(spark, feedDir, newWr)
    // 3. the build succeeded: retire the old quarantine and adopt the
    //    staged one (kind markers travel with the rename)
    val retired = stagingDl.fold(0L) { staged =>
      val r = PipelineMetrics.adoptStagedDeadLetters(spark,
        deadLetterDir.get, staged, name)
      val sp = new org.apache.hadoop.fs.Path(staged)
      sp.getFileSystem(hconf).delete(sp, true) // empty shell
      r
    }
    // 4. the atomic flip
    flipPointer(next)
    // 5. retire superseded versions — now, or on the grace clock
    if (retireAfterMs <= 0L) retireVersionsBelow(spark, workRoot, next)
    else scheduleRetirement(System.currentTimeMillis() + retireAfterMs)
    retired
  }

  private def readPostings(spark: SparkSession, pt: String): DataFrame =
    spark.read.jdbc(jdbcUrl, pt, new java.util.Properties())
      .select(col("token"), col("doc_id").cast("long").as("doc_id"),
        col("tf").cast("long").as("tf"))

  private def readLens(spark: SparkSession, lt: String): DataFrame =
    spark.read.jdbc(jdbcUrl, lt, new java.util.Properties())
      .select(col("doc_id").cast("long").as("doc_id"),
        col("len").cast("long").as("len"))

  /** The live index read back from the CURRENT serving store. */
  def servedPostings(spark: SparkSession): DataFrame =
    readPostings(spark, tablesAt(currentVersion())._1)

  def servedLens(spark: SparkSession): DataFrame =
    readLens(spark, tablesAt(currentVersion())._2)

  /** BM25 top-k from the SERVED store alone — what an index server
    * runs per query; no corpus access. The version resolves ONCE per
    * call, then both tables read at that version — a concurrent
    * pointer flip yields the old answer or the new one, never
    * postings from one store scored with the other's lengths.
    */
  def servedBm25(spark: SparkSession, queryTokens: Seq[String]): DataFrame = {
    val (pt, lt) = tablesAt(currentVersion())
    CorpusOps.bm25FromIndex(readPostings(spark, pt), readLens(spark, lt),
      queryTokens, k1, b)
  }

  /** Drain the feed's current contents through both stages; incremental
    * across calls (durable checkpoints). Resolves the CURRENT store
    * version first, so after an online rebuild the same conf continues
    * into the new version's tables from the build's checkpoints.
    */
  def runOnce(spark: SparkSession, feedDir: String, workRoot: String): Unit = {
    val (p, wr) = atCurrent(workRoot)
    p.driveOnce(spark, feedDir, wr)
  }

  private def driveOnce(spark: SparkSession, feedDir: String,
      workRoot: String): Unit = {
    clearStaleProgressIfFresh(workRoot)
    driftGate.ingestOnce(spark, feedDir, tableLog(workRoot))
    indexQuery(spark, workRoot, Trigger.AvailableNow()).awaitTermination()
  }

  /** Live deployment: both stages on a processing-time trigger, at the
    * CURRENT store version (resolved at start — the normal restart-
    * from-checkpoint upgrade picks up a flipped pointer).
    */
  def start(spark: SparkSession, feedDir: String, workRoot: String,
      interval: String = "500 milliseconds"): Seq[StreamingQuery] = {
    val (p, wr) = atCurrent(workRoot)
    p.startQueries(spark, feedDir, wr, interval)
  }

  private def startQueries(spark: SparkSession, feedDir: String,
      workRoot: String, interval: String): Seq[StreamingQuery] = {
    val t = Trigger.ProcessingTime(interval)
    clearStaleProgressIfFresh(workRoot)
    driftGate.startIngest(spark, feedDir, tableLog(workRoot), t) :+
      indexQuery(spark, workRoot, t)
  }
}
