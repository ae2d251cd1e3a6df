package graft.streaming

/** Per-pipeline OPERATIONAL METRICS — the serving-side analog of the
  * reference's per-event logging (S6: every applied/failed effect is
  * observable data, `ScriptExecutor.java`'s per-event log lines): each
  * pipeline kind's SERVING stage writes one row per drained micro-batch
  * to a conf-declared JDBC table —
  *
  * {{{
  * pipeline VARCHAR(64), kind VARCHAR(16), batch_id BIGINT,
  * rows_in BIGINT,       -- rows the stage applied (keyed effects /
  *                       --   pair deltas / posting actions)
  * dead_letters BIGINT,  -- undeliverable rows this batch (matches the
  *                       --   dead-letter frames, S6)
  * state_rows BIGINT,    -- state-log rows the batch appended (churn)
  * wall_ms BIGINT,       -- stage wall-clock for the batch
  * info VARCHAR(1024),   -- kind-specific context (quantizer
  *                       --   generation, merge/split counts, ...)
  * PRIMARY KEY (pipeline, batch_id)
  * }}}
  *
  * Effects are keyed (pipeline, batch_id) and written DELETE+INSERT in
  * one transaction, so a checkpoint-replayed batch overwrites its own
  * row — idempotent, exactly-once per batch. A metrics write failure
  * never kills serving ([[record]] logs and continues — monitoring must
  * not take down the monitored); a BAD metrics conf still fails fast at
  * registration because the registry calls [[ensureTable]] at load
  * (register-at-boot, S3).
  *
  * Counts are taken from frames the stage ALREADY materialized
  * (cached / localCheckpointed) — recording never re-executes a
  * micro-batch plan (the foreachBatch re-execution hazard).
  */
object PipelineMetrics {

  /** Conf-declared metrics target (`"metrics": {"url":..,"table":..}`
    * on any pipeline kind's conf).
    */
  final case class Target(url: String, table: String)

  /** Create the metrics table if missing (idempotent on every engine
    * [[graft.sinks.JdbcSink.createTableIfAbsent]] qualifies). Called by
    * the registry at conf load, so a malformed URL fails registration,
    * not the first batch.
    */
  def ensureTable(t: Target): Unit =
    graft.sinks.JdbcSink.createTableIfAbsent(t.url,
      s"""CREATE TABLE ${t.table} ("pipeline" VARCHAR(64) NOT NULL,
         | "kind" VARCHAR(16), "batch_id" BIGINT NOT NULL,
         | "rows_in" BIGINT, "dead_letters" BIGINT, "state_rows" BIGINT,
         | "wall_ms" BIGINT, "info" VARCHAR(1024),
         | PRIMARY KEY ("pipeline", "batch_id"))"""
        .stripMargin.replace("\n", ""))

  /** Upsert the (pipeline, batch_id) metrics row. Failures are logged
    * and swallowed — the serving stage must survive a down metrics
    * store (its own delivery contract already covers the data path).
    */
  def record(t: Target, pipeline: String, kind: String, batchId: Long,
      rowsIn: Long, deadLetters: Long, stateRows: Long, wallMs: Long,
      info: String = ""): Unit =
    try {
      val conn = java.sql.DriverManager.getConnection(t.url)
      try {
        conn.setAutoCommit(false)
        val del = conn.prepareStatement(
          s"""DELETE FROM ${t.table} WHERE "pipeline" = ? AND "batch_id" = ?""")
        del.setString(1, pipeline); del.setLong(2, batchId)
        del.executeUpdate()
        val ins = conn.prepareStatement(
          s"""INSERT INTO ${t.table} ("pipeline", "kind", "batch_id",
             | "rows_in", "dead_letters", "state_rows", "wall_ms", "info")
             | VALUES (?, ?, ?, ?, ?, ?, ?, ?)"""
            .stripMargin.replace("\n", ""))
        ins.setString(1, pipeline); ins.setString(2, kind)
        ins.setLong(3, batchId); ins.setLong(4, rowsIn)
        ins.setLong(5, deadLetters); ins.setLong(6, stateRows)
        ins.setLong(7, wallMs); ins.setString(8, info.take(1024))
        ins.executeUpdate()
        conn.commit()
      } finally conn.close()
    } catch {
      case e: Exception =>
        System.err.println(
          s"[PipelineMetrics] $pipeline batch $batchId not recorded: $e")
    }

  /** One per-batch expectation verdict (rule name, exact violation
    * count, declared budget, pass) — what [[recordExpectations]]
    * persists beside the batch's metrics row.
    */
  final case class Verdict(rule: String, violations: Long, budget: Long,
      pass: Boolean)

  /** Create the sibling `<table>_expect` verdict table if missing —
    * one row per (pipeline, batch_id, rule), the queryable form of
    * conf-declared data-quality expectations (q149's engine riding the
    * serving path). Called at conf load like [[ensureTable]], so a bad
    * metrics store fails registration, not the first batch.
    */
  def ensureExpectTable(t: Target): Unit =
    graft.sinks.JdbcSink.createTableIfAbsent(t.url,
      s"""CREATE TABLE ${t.table}_expect ("pipeline" VARCHAR(64) NOT NULL,
         | "batch_id" BIGINT NOT NULL, "rule" VARCHAR(64) NOT NULL,
         | "violations" BIGINT, "budget" BIGINT, "pass" BOOLEAN,
         | PRIMARY KEY ("pipeline", "batch_id", "rule"))"""
        .stripMargin.replace("\n", ""))

  /** Upsert a batch's expectation verdicts (DELETE+INSERT keyed
    * (pipeline, batch_id) in one transaction — a replayed batch
    * overwrites its own verdicts, [[record]]'s contract). Failures log
    * and continue: monitoring must not take down the monitored.
    */
  def recordExpectations(t: Target, pipeline: String, batchId: Long,
      verdicts: Seq[Verdict]): Unit =
    if (verdicts.nonEmpty) try {
      val conn = java.sql.DriverManager.getConnection(t.url)
      try {
        conn.setAutoCommit(false)
        val del = conn.prepareStatement(
          s"""DELETE FROM ${t.table}_expect
             | WHERE "pipeline" = ? AND "batch_id" = ?"""
            .stripMargin.replace("\n", ""))
        del.setString(1, pipeline); del.setLong(2, batchId)
        del.executeUpdate()
        val ins = conn.prepareStatement(
          s"""INSERT INTO ${t.table}_expect ("pipeline", "batch_id",
             | "rule", "violations", "budget", "pass")
             | VALUES (?, ?, ?, ?, ?, ?)""".stripMargin.replace("\n", ""))
        verdicts.foreach { v =>
          ins.setString(1, pipeline); ins.setLong(2, batchId)
          ins.setString(3, v.rule.take(64)); ins.setLong(4, v.violations)
          ins.setLong(5, v.budget); ins.setBoolean(6, v.pass)
          ins.addBatch()
        }
        ins.executeBatch()
        conn.commit()
      } finally conn.close()
    } catch {
      case e: Exception =>
        System.err.println(
          s"[PipelineMetrics] $pipeline batch $batchId verdicts not recorded: $e")
    }

  /** Create the sibling `<table>_drift` verdict table if missing — one
    * row per (pipeline, batch_id), the SCHEMA-DRIFT analog of the
    * expectation verdicts: counts of undeclared payload fields and
    * declared fields whose raw value failed its declared type, per
    * drained batch (the streaming operationalization of the
    * reference's DDL-event awareness, R7 — the conf's declared schema
    * is the pipeline's contract, and the wire drifting from it must be
    * observable data, not silent nulls).
    */
  def ensureDriftTable(t: Target): Unit = {
    val conn = java.sql.DriverManager.getConnection(t.url)
    try {
      val st = conn.createStatement()
      try st.execute(
        s"""CREATE TABLE ${t.table}_drift ("pipeline" VARCHAR(64) NOT NULL,
           | "batch_id" BIGINT NOT NULL, "new_cols" BIGINT,
           | "type_changes" BIGINT, "rows_new" BIGINT, "rows_badtype" BIGINT,
           | "new_col_names" VARCHAR(1024), "changed_names" VARCHAR(1024),
           | "names_truncated" INTEGER,
           | PRIMARY KEY ("pipeline", "batch_id"))"""
          .stripMargin.replace("\n", ""))
      catch {
        case e: java.sql.SQLException
            if graft.sinks.JdbcSink.TableExistsStates(e.getSQLState) =>
          // pre-existing table from before the truncation flag: widen
          // in place (additive, nullable — old verdict rows read NULL
          // = not truncated). Existence-checked via metadata, so the
          // steady state is one metadata read, not an exception-driven
          // ALTER on every call (and no reliance on Derby's duplicate-
          // column SQLState).
          // the DDL quotes identifiers, so the column name is stored
          // case-exact lowercase while the UNQUOTED table name folded
          // to upper — the metadata probe must match both. getColumns'
          // arguments are JDBC SEARCH PATTERNS where '_' is a one-char
          // wildcard: unescaped, a sibling table differing only at an
          // underscore position that already has the column would read
          // as present, the ALTER would skip, and every subsequent
          // recordDrift INSERT on the real table would fail — escape
          // with the driver's own escape string.
          val md = conn.getMetaData
          val cols = md.getColumns(null, null,
            escapeJdbcPattern(s"${t.table}_drift".toUpperCase, md),
            escapeJdbcPattern("names_truncated", md))
          val missing = try !cols.next() finally cols.close()
          if (missing) {
            try
              st.execute(s"""ALTER TABLE ${t.table}_drift ADD COLUMN
                | "names_truncated" INTEGER""".stripMargin.replace("\n", ""))
            catch {
              // two ensureDriftTable callers can both probe 'missing';
              // the loser's ALTER hitting column-already-exists is the
              // benign half of that race, not a failure — matched via
              // the multi-vendor duplicate-column set, not Derby's
              // state alone, so Postgres/MySQL deployments get the
              // same benign-race semantics as the embedded default
              case e2: java.sql.SQLException
                  if graft.sinks.JdbcSink.DuplicateColumnStates(
                    e2.getSQLState) =>
            }
            ()
          }
      }
    } finally conn.close()
  }

  /** Escape JDBC metadata search-pattern wildcards (`_`, `%`) in a
    * literal identifier, using the driver's declared escape string —
    * getColumns/getTables treat their name arguments as patterns, so a
    * literal lookup must escape or it matches sibling names too.
    */
  private def escapeJdbcPattern(literal: String,
      md: java.sql.DatabaseMetaData): String = {
    val esc = Option(md.getSearchStringEscape).filter(_.nonEmpty)
      .getOrElse("\\")
    literal.flatMap { c =>
      if (c == '_' || c == '%' || esc.contains(c)) esc + c else c.toString
    }
  }

  /** Upsert a batch's schema-drift verdict (DELETE+INSERT keyed
    * (pipeline, batch_id) — replays overwrite). Failures log and
    * continue: monitoring must not take down the monitored.
    */
  def recordDrift(t: Target, pipeline: String, batchId: Long,
      newCols: Long, typeChanges: Long, rowsNew: Long, rowsBadtype: Long,
      newColNames: String, changedNames: String,
      namesTruncated: Boolean = false): Unit =
    try {
      val conn = java.sql.DriverManager.getConnection(t.url)
      try {
        conn.setAutoCommit(false)
        val del = conn.prepareStatement(
          s"""DELETE FROM ${t.table}_drift
             | WHERE "pipeline" = ? AND "batch_id" = ?"""
            .stripMargin.replace("\n", ""))
        del.setString(1, pipeline); del.setLong(2, batchId)
        del.executeUpdate()
        val ins = conn.prepareStatement(
          s"""INSERT INTO ${t.table}_drift ("pipeline", "batch_id",
             | "new_cols", "type_changes", "rows_new", "rows_badtype",
             | "new_col_names", "changed_names", "names_truncated")
             | VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)"""
            .stripMargin.replace("\n", ""))
        ins.setString(1, pipeline); ins.setLong(2, batchId)
        ins.setLong(3, newCols); ins.setLong(4, typeChanges)
        ins.setLong(5, rowsNew); ins.setLong(6, rowsBadtype)
        ins.setString(7, newColNames.take(1024))
        ins.setString(8, changedNames.take(1024))
        ins.setInt(9, if (namesTruncated) 1 else 0)
        ins.executeUpdate()
        conn.commit()
      } finally conn.close()
    } catch {
      case e: Exception =>
        System.err.println(
          s"[PipelineMetrics] $pipeline batch $batchId drift not recorded: $e")
    }

  /** The recorded drift verdicts, typed. */
  def driftRows(spark: org.apache.spark.sql.SparkSession,
      t: Target): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.jdbc(t.url, s"${t.table}_drift", new java.util.Properties())
      .select(col("pipeline"),
        col("batch_id").cast("long").as("batch_id"),
        col("new_cols").cast("long").as("new_cols"),
        col("type_changes").cast("long").as("type_changes"),
        col("rows_new").cast("long").as("rows_new"),
        col("rows_badtype").cast("long").as("rows_badtype"),
        col("new_col_names"), col("changed_names"),
        org.apache.spark.sql.functions.coalesce(
          col("names_truncated").cast("int"),
          org.apache.spark.sql.functions.lit(0)).as("names_truncated"))
  }

  /** Evaluate conf-declared expectations over a batch's SERVING rows,
    * record one verdict row per rule, and ENFORCE the rules' declared
    * actions ([[graft.ops.Profile.Action]]) — the shared per-kind hook
    * (each pipeline kind hands in its own serving frame: lww documents,
    * view enriched rows, ann posting actions, dedup cluster rows,
    * search postings). `servingRows` is BY-NAME so pipelines without
    * expectations never build or analyze the frame; budgets are
    * PER-BATCH (the monitor watches each drained batch, it does not
    * accumulate). The verdict frame is rules-count rows — model-sized —
    * and callers pass an already cached/pinned input, so the collect
    * never re-runs the batch plan.
    *
    * Enforcement, in contract order:
    *  1. verdicts are recorded FIRST — a breach must be observable in
    *     the store even when it kills the batch;
    *  2. a `Halt` rule whose violations exceed its budget throws
    *     [[graft.ops.Profile.HaltException]] — the micro-batch fails,
    *     the serving store keeps its pre-batch state, and the pipeline
    *     quarantines exactly as a malformed conf edit does;
    *  3. rows violating any `Drop` rule are dead-lettered (parquet
    *     under `<deadLetterDir>/_expect`, uniform shape: pipeline,
    *     batch_id, violated, row_json — the underscore keeps the frame
    *     invisible to reads of the sink dead letters beside it) and
    *     returned, tagged, for the caller to anti-join out of its
    *     served frame by its primary key (`tieBreak`). Every violating
    *     row is withheld regardless of budget — the budget tolerates
    *     verdict failures, it never licenses serving a known-bad row.
    *
    * Returns the violating rows (original columns + `violated` CSV),
    * localCheckpointed, or None when nothing must be withheld.
    */
  def enforceBatchExpectations(target: Option[Target], pipeline: String,
      batchId: Long, rules: Seq[graft.ops.Profile.Rule],
      servingRows: => org.apache.spark.sql.DataFrame,
      tieBreak: Seq[String] = Nil,
      deadLetterDir: Option[String] = None,
      kind: String = "lww"):
      Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions._
    if (rules.isEmpty) None
    else {
      val rows = servingRows
      // resolve path-declared dimensions ONCE per call and PIN the key
      // set: the verdict count and the drop tagging below must judge
      // the SAME dimension snapshot (a re-read could see a concurrent
      // overwrite and break their spec-pinned counting parity), and a
      // second full dimension read per rule per batch is pure waste
      val resolved: Seq[graft.ops.Profile.Rule] = rules.map {
        case r: graft.ops.Profile.RefIntegrityPath =>
          val keys = rows.sparkSession.read.parquet(r.dimPath)
            .select(col(r.dimColumn)).distinct().localCheckpoint(true)
          graft.ops.Profile.RefIntegrity(r.name, r.column, keys,
            r.dimColumn, r.budget, r.action)
        case r => r
      }
      val verdicts = graft.ops.Profile.expectations(rows, resolved)
        .collect().toSeq.map(r => Verdict(
          r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      target.foreach(recordExpectations(_, pipeline, batchId, verdicts))
      val byName = rules.map(r => r.name -> r).toMap
      verdicts.foreach { v =>
        if (byName(v.rule).action == graft.ops.Profile.Halt && !v.pass)
          throw new graft.ops.Profile.HaltException(pipeline, batchId,
            v.rule, v.violations, v.budget)
      }
      val dropRules = resolved.filter(_.action == graft.ops.Profile.Drop)
      val anyDropViolations = dropRules.exists(r =>
        verdicts.exists(v => v.rule == r.name && v.violations > 0))
      if (!anyDropViolations) None
      else {
        val viol = graft.ops.Profile.tagViolations(rows, dropRules, tieBreak)
          .filter(size(col("violated")) > 0)
          .localCheckpoint(true)
        deadLetterDir.foreach { dir =>
          val docCols = viol.columns
            .filter(c => c != "violated" && !c.startsWith("__"))
          // overwrite THIS batch's partition dir (StateLog.appendBatch's
          // idempotence rule): a checkpoint-replayed batch re-writes its
          // own rows instead of appending duplicates. The pipeline name
          // is conf-controlled — sanitize it before it becomes a path
          // segment (a '/' would silently nest, '=' would corrupt the
          // partition encoding)
          val safe = sanitizedPipeline(pipeline)
          viol.select(array_join(col("violated"), ",").as("violated"),
            to_json(struct(docCols.map(col).toSeq: _*)).as("row_json"))
            .write.mode("overwrite")
            .parquet(s"$dir/_expect/pipeline=$safe/batch_id=$batchId")
          // self-describing quarantine: the replay verbs dispatch on the
          // writing pipeline's KIND (a view dead letter is a DERIVED
          // enriched row, not a wire document), so the subtree records
          // which kind wrote it — underscore-prefixed, invisible to the
          // parquet reads, and OUTSIDE the batch partitions so
          // retirement never deletes it
          writeKindMarker(viol.sparkSession, dir, "_expect", safe, kind)
        }
        Some(viol)
      }
    }
  }

  /** The dead-lettered expectation-dropped rows under a pipeline's
    * dead-letter dir — the uniform frame
    * (violated, row_json, pipeline, batch_id) that
    * [[enforceBatchExpectations]] writes per offending batch (pipeline
    * and batch_id are partition directories, so a replayed batch
    * overwrites its own rows; the pipeline value is the PATH-SANITIZED
    * name — [^A-Za-z0-9._-] mapped to '_').
    */
  def expectDeadLetters(spark: org.apache.spark.sql.SparkSession,
      deadLetterDir: String): org.apache.spark.sql.DataFrame =
    deadLetterFrame(spark, deadLetterDir, "_expect")

  /** The uniform dead-letter frame of one enforcement subtree. A
    * pipeline that never dropped a row never created the dir — that
    * reads as ZERO dead letters, not as a reader error. Existence goes
    * through the Hadoop filesystem of the PATH (not java.nio): the dir
    * is whatever the Spark write targeted — file:/, hdfs://, s3a://.
    */
  private def deadLetterFrame(spark: org.apache.spark.sql.SparkSession,
      deadLetterDir: String, subtree: String): org.apache.spark.sql.DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "violated STRING, row_json STRING, pipeline STRING, batch_id BIGINT")
    val p = new org.apache.hadoop.fs.Path(s"$deadLetterDir/$subtree")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else
      spark.read.schema(schema)
        .option("basePath", s"$deadLetterDir/$subtree")
        .parquet(s"$deadLetterDir/$subtree")
  }

  /** Record which pipeline KIND wrote a dead-letter subtree — one
    * underscore-prefixed empty marker file directly under the
    * `pipeline=<safe>` dir (so batch-partition retirement never touches
    * it, and partitioned parquet reads never list it). Idempotent for
    * the OWN kind; fails LOUD when a different `_KIND_*` marker already
    * exists — two confs whose sanitized names collide on one subtree
    * (or a boot-time ownership backfill that claimed a then-quiet
    * neighbor's dir) would otherwise leave TWO markers, and retention /
    * replay would resolve ownership by listing order: silently retiring
    * one conf's quarantine on the other's clock. A loud conflict here
    * surfaces the misconfiguration at the first write instead.
    */
  private[streaming] def writeKindMarker(
      spark: org.apache.spark.sql.SparkSession, deadLetterDir: String,
      subtree: String, safe: String, kind: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(
      s"$deadLetterDir/$subtree/pipeline=$safe")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing =
      if (!fs.exists(dir)) Array.empty[String]
      else fs.listStatus(dir).map(_.getPath.getName)
        .filter(_.startsWith("_KIND_")).map(_.stripPrefix("_KIND_"))
    existing.find(_ != kind) match {
      case Some(other) => throw new IllegalStateException(
        s"dead-letter subtree $subtree/pipeline=$safe under $deadLetterDir " +
          s"is already owned by kind '$other' — a '$kind' pipeline cannot " +
          "write into it. Two confs sanitize to the same pipeline dir; " +
          "rename one or give them separate dead-letter dirs.")
      case None =>
        if (!existing.contains(kind)) {
          fs.create(new org.apache.hadoop.fs.Path(dir, s"_KIND_$kind"), true)
            .close()
        }
    }
    ()
  }

  /** The kind recorded for a pipeline's dead-letter subtree, if any
    * (pre-marker quarantines have none — the verbs treat that as
    * unknown and proceed, the pre-r13 behavior).
    */
  private def deadLetterKind(spark: org.apache.spark.sql.SparkSession,
      deadLetterDir: String, subtree: String, safe: String): Option[String] = {
    val dir = new org.apache.hadoop.fs.Path(
      s"$deadLetterDir/$subtree/pipeline=$safe")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    else {
      val kinds = fs.listStatus(dir).map(_.getPath.getName)
        .filter(_.startsWith("_KIND_")).map(_.stripPrefix("_KIND_"))
        .distinct.sorted
      // two markers = ownership is ambiguous (pre-fix writers could
      // leave both) — refusing beats picking one by listing order and
      // letting retention/replay act on the wrong conf's quarantine
      require(kinds.length <= 1,
        s"dead-letter subtree $subtree/pipeline=$safe carries conflicting " +
          s"kind markers [${kinds.mkString(", ")}] — ownership is ambiguous; " +
          "remove the marker that does not match the writing conf's kind.")
      kinds.headOption
    }
  }

  /** Fail LOUD when a replay verb is pointed at a subtree another kind
    * wrote: an lww replay of a view pipeline's dead letters would
    * re-inject DERIVED enriched rows as wire documents (silently wrong
    * shapes), and an additive search store cannot feed-replay at all
    * (its verdicts are frozen by design — a policy change rebuilds the
    * store). Unknown (pre-marker) subtrees pass — the caller owns the
    * kind claim then.
    */
  private def requireDeadLetterKind(spark: org.apache.spark.sql.SparkSession,
      deadLetterDir: String, subtree: String, safe: String,
      expected: String): Unit =
    if (expected.isEmpty) () // kind-agnostic subtree (_drift: raw wire)
    else deadLetterKind(spark, deadLetterDir, subtree, safe).foreach { k =>
      require(k == expected,
        s"replay: pipeline '$safe' $subtree dead letters were written by " +
          s"a '$k' pipeline, not '$expected' — " + (k match {
            case "view" => "use the keyed replay (Serve replay-keys view / " +
              "ViewPipeline.replayExpectDeadLetters), which resolves dead " +
              "letters to their originating fact keys"
            case "search" => "an additive search store cannot feed-replay: " +
              "its drop verdicts are frozen for the store's lifetime " +
              "(SearchServingPipeline's pinned-dimension contract), so an " +
              "enforcement-policy change rebuilds the store under the " +
              "evolved conf — Serve rebuild search / " +
              "SearchServingPipeline.rebuildStore"
            case other => s"use the keyed replay (Serve replay-keys $other " +
              s"/ the $other pipeline's replayExpectDeadLetters)"
          }))
    }

  /** RE-INJECT expectation-dropped rows into the source feed — the
    * operational half of the drop-quarantine lifecycle (the verdict's
    * conf-fix story): after the operator fixes the rule (or the
    * dimension) that dropped the rows, this verb replays a pipeline's
    * `_expect` dead letters THROUGH THE NORMAL PATH — each dead-lettered
    * document becomes one ordinary wire event (op `c`, before null,
    * caller-stamped `ts_ms`) appended to the source feed dir as a new
    * JSON-lines file, which the running pipeline's checkpointed stream
    * picks up like any other capture output. No side door into the
    * store: LWW collapse, the (fixed) expectations, the sink's batch
    * markers all apply — a row that still violates simply dead-letters
    * again under the new batch id, and a double replay converges
    * because the events are keyed and carry the same `ts_ms`.
    *
    * `tsMs` is the REPLAY EPOCH and the caller's LWW lever: stamp it
    * above the feed's current tail so the re-injected rows win over
    * the stale state their drop left behind, but below any upstream
    * truth that must not be clobbered. When one key was dropped in
    * several batches, its replayed events share the epoch ts and
    * tie-break by ORIGINATING batch id, so the newest dead letter wins
    * deterministically. Idempotence: a `..._DONE` marker beside the
    * injected files records a COMPLETED publication — re-calling with
    * the same epoch is then a no-op, while a crash mid-publication
    * (no marker) retries cleanly (partially-renamed targets are
    * replaced). Consumed `_expect` partitions are RETIRED (deleted)
    * after publication: their rows now live in the feed, so a later
    * replay at a fresh epoch must not re-inject stale versions over
    * newer upstream truth; rows that still violate simply dead-letter
    * again under their new batch id.
    *
    * Scale shape: the dead-letter frame re-shapes to wire rows with
    * one executor-parallel Spark write into a staging dir, then
    * per-file Hadoop-FS renames into the feed — nothing data-sized
    * ever lands on the driver. Returns the number of rows re-injected
    * (0 when nothing matched or the epoch already replayed).
    *
    * Scope: LWW (document-shaped) pipelines — the dead letter IS the
    * document the wire would carry. For a pipeline with a conf
    * transform the replayed doc is the POST-transform shape and the
    * normal path re-applies the transform; set-expressions over their
    * own outputs must be idempotent for the round trip to converge
    * (drop-expressions are — the field is already gone). Dead letters
    * written by another kind FAIL LOUD via the subtree's kind marker:
    * view/ann/dedup quarantines are derived rows and replay by
    * originating key instead ([[replayKeyedExpectDeadLetters]]); the
    * additive search kind rebuilds its store on policy changes.
    */
  def replayExpectDeadLetters(spark: org.apache.spark.sql.SparkSession,
      deadLetterDir: String, pipeline: String, db: String, table: String,
      sourceDir: String, tsMs: Long, batchIds: Seq[Long] = Nil): Long =
    replayFrom(spark, deadLetterDir, "_expect", pipeline, db, table,
      sourceDir, tsMs, batchIds)

  /** [[replayExpectDeadLetters]] for the `_drift` subtree — the
    * schema-evolution half of the quarantine lifecycle: drift dead
    * letters carry the RAW wire payload, so after the conf's declared
    * schema evolves (the undeclared columns added, a changed type
    * admitted) the very same bytes re-enter the feed and now parse
    * clean. A row whose payload is still bad under the evolved schema
    * simply dead-letters again under its new batch id — replay never
    * skips judgment.
    */
  def replayDriftDeadLetters(spark: org.apache.spark.sql.SparkSession,
      deadLetterDir: String, pipeline: String, db: String, table: String,
      sourceDir: String, tsMs: Long, batchIds: Seq[Long] = Nil): Long =
    replayFrom(spark, deadLetterDir, "_drift", pipeline, db, table,
      sourceDir, tsMs, batchIds)

  /** Whether a replay of `pipeline`'s `subtree` at epoch `tsMs` has
    * already STARTED against `sourceDir` — its manifest, published feed
    * file or DONE marker exists. Multi-step drives gate their
    * PRE-replay strict stage on this: a retry after a crash
    * mid-lifecycle must not re-drain the published replay file under
    * the strict conf (the used epoch would refuse to re-publish the
    * re-quarantined rows and the store would diverge permanently) —
    * resume at the replay step instead; every later step is
    * idempotent. Checks the SAME name-builder outputs [[replayWire]]
    * publishes ([[idsManifestName]]/[[doneMarkerName]]/[[feedFileName]])
    * — a rename moves writer and gate together, never one without the
    * other.
    */
  def replayStarted(spark: org.apache.spark.sql.SparkSession,
      sourceDir: String, subtree: String, pipeline: String,
      tsMs: Long): Boolean = {
    val prefix = s"replay${subtree}"
    val safe = sanitizedPipeline(pipeline)
    val src = new org.apache.hadoop.fs.Path(sourceDir)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(idsManifestName(prefix, safe, tsMs), doneMarkerName(prefix, safe, tsMs),
      feedFileName(prefix, safe, tsMs))
      .exists(n => fs.exists(new org.apache.hadoop.fs.Path(src, n)))
  }

  /** The replay publication's artifact names — ONE definition shared by
    * [[replayWire]] (the writer) and [[replayStarted]] (the retry
    * gate): a rename here moves both sides together, so the gate can
    * never silently disarm against files the writer actually produces.
    */
  private[streaming] def sanitizedPipeline(pipeline: String): String =
    pipeline.replaceAll("[^A-Za-z0-9._-]", "_")
  private def idsManifestName(prefix: String, safe: String, tsMs: Long) =
    s"_${prefix}_${safe}_${tsMs}_IDS"
  private def doneMarkerName(prefix: String, safe: String, tsMs: Long) =
    s"_${prefix}_${safe}_${tsMs}_DONE"
  private def feedFileName(prefix: String, safe: String, tsMs: Long) =
    s"${prefix}_${safe}_$tsMs.json"

  /** Replay-by-ORIGINATING-KEY — the non-LWW kinds' `_expect` replay
    * (view/ann/dedup): their dead letters are DERIVED rows (an enriched
    * serving row, a posting action, a cluster assignment) that cannot
    * re-enter the feed as wire, but each one names the fact/doc key it
    * derived from. This verb resolves the dead letters to those keys,
    * looks each key up in `state` — the pipeline's CURRENT source-table
    * truth, the LWW fold of its bronze-fed table log (R10's durable log
    * already replayed; O(live+churn), equivalent to re-scanning the
    * bronze feed for those keys) — and re-injects the live rows as
    * ordinary wire events at the epoch. The running pipeline re-drives
    * them through its FIXED conf: re-join/re-index/re-cluster,
    * re-judgment by the fixed rules (never a side door), keyed serving
    * writes. A key whose source row was deleted upstream resolves to
    * nothing — its dead letters retire without re-injection (the store
    * already dropped the key; resurrection would invent data).
    *
    * Same crash-safe publication protocol and epoch gate as the LWW
    * verb ([[replayFrom]]); `n` counts re-injected WIRE rows, which can
    * be fewer than the dead letters (deleted keys, several dead letters
    * of one key). NOT for the additive search kind — its verdicts are
    * frozen for the store's lifetime and a policy change rebuilds the
    * store; the kind marker fails that loud.
    *
    * @param keyField  field of the dead letter's `row_json` naming the
    *                  originating key (the view's fact id, ann/dedup's
    *                  conf id — enforcement guarantees it survives)
    * @param state     (key BIGINT, rowJson STRING) — current live rows
    *                  of the originating table; `rowJson` is the RAW
    *                  table row the wire would carry
    */
  def replayKeyedExpectDeadLetters(spark: org.apache.spark.sql.SparkSession,
      deadLetterDir: String, pipeline: String, kind: String, keyField: String,
      state: org.apache.spark.sql.DataFrame, db: String, table: String,
      sourceDir: String, tsMs: Long, batchIds: Seq[Long] = Nil): Long = {
    import org.apache.spark.sql.functions._
    replayWire(spark, deadLetterDir, "_expect", pipeline, db, table,
      sourceDir, tsMs, batchIds, kind, dead => {
        // one wire row per ORIGINATING key, tie-broken by the NEWEST
        // dead letter's batch id (the lww verb's convergence rule)
        val keys = dead.select(
          get_json_object(col("row_json"), s"$$.$keyField")
            .cast("long").as("key"),
          col("batch_id"))
          .filter(col("key").isNotNull)
          .groupBy(col("key")).agg(max(col("batch_id")).as("batch_id"))
        val out = keys.join(state, Seq("key"))
          .select(col("rowJson").as("row_json"), col("batch_id"))
        // zero resolved keys has two very different causes: every key
        // was deleted upstream (legitimate — retire), or the state fold
        // points at a FRESH/REBUILT/WRONG work dir (catastrophic — the
        // quarantine would retire into nothing). An empty fold while
        // dead letters exist is the second case: fail BEFORE the
        // manifest commits, so nothing is consumed.
        if (out.isEmpty)
          require(!state.isEmpty,
            s"replay-keys: pipeline '$pipeline' has dead letters but its " +
              "source-table state fold is EMPTY — the work dir is fresh, " +
              "rebuilt or mispointed; refusing to retire the quarantine " +
              "(all-keys-deleted retirement requires live table state)")
        out
      })
  }

  /** The crash-safe publication protocol, in commit order:
    *   1. `_..._IDS` manifest (underscore-hidden from feed readers):
    *      the published row count + the consumed batch ids, written
    *      BEFORE anything visible — every later step re-derives its
    *      scope from the manifest, never from a re-scan (new dead
    *      letters arriving mid-crash must be neither published under
    *      this epoch nor retired by it);
    *   2. the feed file — ONE part, so the rename is atomic and
    *      "target exists" means "publication complete" (a live stream
    *      may have read it; it is never replaced);
    *   3. retirement of exactly the manifest's partitions (their rows
    *      are feed data now; each delete resolves its own filesystem —
    *      dead letters and feed may live on different schemes);
    *   4. the `_..._DONE` marker (the O(1) used-epoch gate), then the
    *      manifest is dropped.
    * A crash between any two steps resumes idempotently at the same
    * epoch: before 1 nothing happened; after 1 the retry publishes the
    * manifest's rows (re-filtered by its batch ids); after 2 it skips
    * straight to retirement; after 3/4 it converges to the no-op.
    */
  private def replayFrom(spark: org.apache.spark.sql.SparkSession,
      deadLetterDir: String, subtree: String, pipeline: String, db: String,
      table: String, sourceDir: String, tsMs: Long,
      batchIds: Seq[Long]): Long =
    // `_expect` dead letters are kind-shaped (derived rows for the
    // non-lww kinds — the marker fences them to the keyed verb); the
    // `_drift` subtree carries the RAW wire payload in EVERY kind
    // (Drift.dropViolators writes it for both), so the
    // drift replay is kind-agnostic — no fence
    replayWire(spark, deadLetterDir, subtree, pipeline, db, table, sourceDir,
      tsMs, batchIds, if (subtree == "_drift") "" else "lww", identity)

  /** The kind-generic crash-safe publication core: [[replayFrom]] with a
    * `toWire` hook that reshapes the PINNED dead-letter frame
    * (violated, row_json, pipeline, batch_id) into the frame whose
    * `row_json` becomes the injected after payloads (`batch_id` must
    * survive — it is the LWW tie-break offset). The lww kinds pass
    * identity (the dead letter IS the document); the view kind resolves
    * dead letters to their originating fact keys and re-reads the fact
    * table's current truth ([[replayViewExpectDeadLetters]]).
    */
  private def replayWire(spark: org.apache.spark.sql.SparkSession,
      deadLetterDir: String, subtree: String, pipeline: String, db: String,
      table: String, sourceDir: String, tsMs: Long,
      batchIds: Seq[Long], expectedKind: String,
      toWire: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Long = {
    import org.apache.spark.sql.functions._
    require(db.matches("[A-Za-z0-9_.-]+") && table.matches("[A-Za-z0-9_.-]+"),
      "replay: db/table must be plain identifiers (they are spliced " +
        "into the wire JSON)")
    requireDeadLetterKind(spark, deadLetterDir, subtree,
      sanitizedPipeline(pipeline), expectedKind)
    // distinct per-subtree file prefix: an operator replaying BOTH
    // subtrees at one epoch into one feed must not collide on markers
    val prefix = s"replay${subtree}"
    val safe = sanitizedPipeline(pipeline)
    val conf = spark.sparkContext.hadoopConfiguration
    val srcPath = new org.apache.hadoop.fs.Path(sourceDir)
    val fs = srcPath.getFileSystem(conf)
    // the used-epoch gate is O(1) — BEFORE any dead-letter scan, so the
    // documented idempotent re-call never pays a subtree read
    val done = new org.apache.hadoop.fs.Path(srcPath,
      doneMarkerName(prefix, safe, tsMs))
    if (fs.exists(done)) return 0L
    val idsFile = new org.apache.hadoop.fs.Path(srcPath,
      idsManifestName(prefix, safe, tsMs))
    val (n, consumed, pinnedWire) =
      if (fs.exists(idsFile)) {
        // resuming a crashed attempt: the manifest — not a re-scan —
        // defines this epoch's scope. The manifest was published by an
        // atomic rename, but validate its shape anyway: a manifest that
        // parses wrong must fail LOUD, never silently publish and
        // retire the wrong dead-letter scope.
        val txt = new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(
          fs.open(idsFile)), java.nio.charset.StandardCharsets.UTF_8).trim
        require(txt.matches("""\d+;(\d+(,\d+)*)?"""),
          s"replay: corrupt manifest $idsFile ('$txt') — delete it to " +
            "restart this epoch from a fresh dead-letter scan")
        val Array(cnt, ids) = txt.split(";", 2)
        (cnt.toLong,
          if (ids.isEmpty) Array.empty[Long]
          else ids.split(",").map(_.toLong),
          None)
      } else {
        // FRESH attempt: the replay epoch is the LWW lever, so it must
        // beat the feed's current tail — a stale epoch would re-inject
        // rows that silently LOSE the LWW race (the quarantine would
        // look replayed but never serve). One feed scan at the verb;
        // this is an operator-invoked one-shot, not a serving path.
        // Resumed attempts skip the check by construction: the epoch's
        // own published file IS the tail then.
        val tailDf = spark.read
          .schema(org.apache.spark.sql.types.StructType.fromDDL(
            "value STRING, offset BIGINT"))
          .json(sourceDir)
        val tail = Option(tailDf.agg(max(coalesce(
          get_json_object(col("value"), "$.payload.ts_ms").cast("long"),
          get_json_object(col("value"), "$.ts_ms").cast("long"))))
          .head().get(0)).map(_.asInstanceOf[Long])
        require(tail.forall(tsMs > _),
          s"replay: epoch tsMs=$tsMs does not exceed the feed's current " +
            s"tail ts_ms=${tail.get} — the re-injected rows would lose " +
            "every LWW race and never serve; pick an epoch above the tail")
        val dead0 = deadLetterFrame(spark, deadLetterDir, subtree)
          .filter(col("pipeline") === safe)
        val dead1 = if (batchIds.isEmpty) dead0
          else dead0.filter(col("batch_id").isin(batchIds: _*))
        // PIN the snapshot: the count, the consumed partition set AND
        // the published rows (below) must come from ONE read — the verb
        // runs beside a LIVE pipeline that may overwrite a consumed
        // partition (checkpoint replay) between these steps
        val dead = dead1.localCheckpoint(true)
        if (dead.isEmpty) return 0L
        // the wire derivation may read live state too (the view kind
        // folds the CURRENT fact table) — pin it with the same snapshot
        val wire0 = toWire(dead).localCheckpoint(true)
        val cnt = wire0.count()
        val ids = dead.select(col("batch_id")).distinct()
          .collect().map(_.getLong(0)).sorted
        // manifest commit is itself staged-and-renamed: a crash mid-
        // write must leave NO manifest (retry rescans), never a
        // truncated one that still parses as a smaller scope
        val idsTmp = new org.apache.hadoop.fs.Path(srcPath,
          idsManifestName(prefix, safe, tsMs) + ".tmp")
        val out = fs.create(idsTmp, true)
        out.write(s"$cnt;${ids.mkString(",")}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.close()
        require(fs.rename(idsTmp, idsFile),
          s"replay: could not commit manifest $idsTmp -> $idsFile")
        (cnt, ids, Some(wire0))
      }
    val target = new org.apache.hadoop.fs.Path(srcPath,
      feedFileName(prefix, safe, tsMs))
    if (n > 0L && !fs.exists(target)) {
      // one wire event per resolved row; the row_json IS the after
      // payload, so the envelope is assembled textually around it. The
      // offset tie-break is the ORIGINATING batch id: all replayed
      // events share the epoch ts, so a key dropped in several batches
      // converges on its NEWEST dead letter. The fresh path publishes
      // the PINNED frame the manifest counted; only a crash-resumed
      // attempt re-derives — scope re-filtered by the MANIFEST's ids
      // (the subtree may already hold newer partitions belonging to a
      // future epoch), so a resumed publication reflects the dead
      // letters as they stand at resume time.
      val rows = pinnedWire.getOrElse(toWire(
        deadLetterFrame(spark, deadLetterDir, subtree)
          .filter(col("pipeline") === safe)
          .filter(col("batch_id").isin(consumed.map(Long.box).toSeq: _*))
          .localCheckpoint(true)))
      val event = concat(
        lit("""{"payload":{"before":null,"after":"""), col("row_json"),
        lit(s""","source":{"db":"$db","table":"$table","ts_ms":$tsMs},""" +
          s""""op":"c","ts_ms":$tsMs}}"""))
      val wire = rows.select(to_json(struct(
        event.as("value"),
        col("batch_id").as("offset"))).as("line"))
      // stage hidden, publish with ONE atomic rename: a single part
      // file makes "target exists" equal "publication complete", and a
      // live stream that listed the file never sees it replaced. (The
      // coalesce bounds this write to one task — dead letters are
      // drop-wave-sized, and atomic publication is worth more here
      // than write parallelism; the consuming pipeline still reads the
      // file split-parallel.)
      val stage = new org.apache.hadoop.fs.Path(srcPath,
        s"_${prefix}_stage_${safe}_$tsMs")
      wire.coalesce(1).write.mode("overwrite").text(stage.toString)
      val part = fs.listStatus(stage)
        .filter(_.getPath.getName.startsWith("part-"))
      require(part.length == 1,
        s"replay: expected one staged part, got ${part.length}")
      require(fs.rename(part.head.getPath, target),
        s"replay: could not publish ${part.head.getPath} -> $target")
      fs.delete(stage, true)
      ()
    }
    // RETIRE exactly the manifest's partitions: their rows are feed
    // data now (or can never re-serve — a view key deleted upstream),
    // and a later replay at a fresh epoch re-injecting them would stamp
    // stale versions over newer upstream truth. Do not run the verb
    // concurrently with a live pipeline REPLAYING one of the consumed
    // batches: an overwrite landing between the manifest snapshot and
    // this delete is removed unpublished (same rows in the idempotent
    // case, but rule edits mid-flight could diverge).
    consumed.foreach { b =>
      val p = new org.apache.hadoop.fs.Path(
        s"$deadLetterDir/$subtree/pipeline=$safe/batch_id=$b")
      p.getFileSystem(conf).delete(p, true)
      ()
    }
    fs.create(done, true).close()
    fs.delete(idsFile, false)
    n
  }

  /** The dead-lettered DRIFT-dropped winners under a pipeline's
    * dead-letter dir — the same uniform frame as [[expectDeadLetters]]
    * but under the sibling `_drift` subtree
    * ([[graft.streaming.CdcPipeline]]'s drop-action drift policy writes
    * there so neither enforcement's per-batch partition overwrite can
    * clobber the other's).
    */
  def driftDeadLetters(spark: org.apache.spark.sql.SparkSession,
      deadLetterDir: String): org.apache.spark.sql.DataFrame =
    deadLetterFrame(spark, deadLetterDir, "_drift")

  /** RETIRE a pipeline's whole `_expect` + `_drift` quarantine — the
    * store-rebuild half of the lifecycle
    * ([[graft.streaming.SearchServingPipeline.rebuildStore]]): the old
    * store's letters describe verdicts the rebuild re-derives in full,
    * so they delete wholesale. Lives HERE so the subtree layout and
    * the pipeline-name sanitization have exactly one definition — a
    * re-derived copy in a caller would silently retire the wrong (or
    * no) paths if the layout ever moved, the replay-artifact-naming
    * lesson. Returns the number of retired batch partitions.
    */
  def retireDeadLetterSubtrees(spark: org.apache.spark.sql.SparkSession,
      deadLetterDir: String, pipeline: String): Long = {
    val safe = sanitizedPipeline(pipeline)
    var retired = 0L
    Seq("_expect", "_drift").foreach { sub =>
      val p = new org.apache.hadoop.fs.Path(
        s"$deadLetterDir/$sub/pipeline=$safe")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        retired += fs.listStatus(p).count(s =>
          s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        fs.delete(p, true)
        ()
      }
    }
    retired
  }

  /** SWAP a pipeline's quarantine for the one a SUCCESSFUL store
    * rebuild staged under a sibling dead-letter root — the online
    * rebuild's quarantine seam
    * ([[graft.streaming.SearchServingPipeline.rebuildStoreOnline]]):
    * the build writes its letters into `stagingDir` (never the live
    * tree), so the SERVING store's quarantine stays intact through the
    * whole build — and through any number of FAILED builds, the r15
    * review's operator-visible window. Only after the build succeeded
    * does this verb retire the live `_expect`/`_drift` subtrees and
    * RENAME the staged ones into place (kind markers travel with
    * them). Lives HERE with [[retireDeadLetterSubtrees]] so the
    * subtree layout and name sanitization keep exactly one definition.
    *
    * Returns the number of retired (previously live) batch partitions.
    */
  def adoptStagedDeadLetters(spark: org.apache.spark.sql.SparkSession,
      deadLetterDir: String, stagingDir: String, pipeline: String): Long = {
    val retired = retireDeadLetterSubtrees(spark, deadLetterDir, pipeline)
    val safe = sanitizedPipeline(pipeline)
    Seq("_expect", "_drift").foreach { sub =>
      val src = new org.apache.hadoop.fs.Path(
        s"$stagingDir/$sub/pipeline=$safe")
      val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(src)) {
        val dst = new org.apache.hadoop.fs.Path(
          s"$deadLetterDir/$sub/pipeline=$safe")
        fs.mkdirs(dst.getParent)
        // rename, not copy: one metadata op per subtree, and a failure
        // (cross-filesystem staging, permission) must fail LOUD before
        // the pointer flips — a silently empty quarantine for a store
        // that did drop rows would read as "nothing quarantined"
        require(fs.rename(src, dst),
          s"adoptStagedDeadLetters: rename $src -> $dst failed; the " +
            "staged quarantine and dead-letter dir must share a filesystem")
      }
    }
    retired
  }

  /** AGE-RETIRE dead letters past a conf-declared retention — the
    * quarantine's disk-lifecycle half (the r12 verdict's task 6):
    * replayed `_expect`/`_drift` partitions retire on replay, but
    * never-replayed quarantines (and warn-only drift letters, and sink
    * dead-letter parquet) otherwise accumulate forever. Runs on the
    * watcher's maintenance tick for every registered conf that declares
    * `deadLetterRetentionMs` (default 0 = keep forever — failures are
    * DATA, aging them out is an explicit operator choice):
    *
    *  - `batch_id=N` partition dirs under the INVOKING pipeline's
    *    `_expect`/`_drift` subtrees age by the NEWEST FILE inside the
    *    partition, not the directory entry (object stores synthesize
    *    directory statuses with meaningless mtimes; a checkpoint replay
    *    overwrites its partition's files, so a re-judged quarantine is
    *    young again) — scoped to `pipeline=<safe>` because several
    *    confs may share one dead-letter dir and each declares its OWN
    *    retention (a keep-forever neighbor must never be swept by this
    *    conf's clock);
    *  - with `includeRootFiles` (the watcher sets it only when EVERY
    *    conf sharing the dir declared a retention), plain data files
    *    directly under the dir (the sinks' appended undeliverable-row
    *    parquet, which interleaves pipelines row-wise) age out per
    *    file;
    *  - underscore-prefixed names (kind markers, committer files) are
    *    never touched.
    *
    * Everything resolves through the dir's own Hadoop filesystem.
    * Returns the number of retired partitions + files.
    */
  def retireAgedDeadLetters(spark: org.apache.spark.sql.SparkSession,
      deadLetterDir: String, retentionMs: Long, pipeline: String,
      includeRootFiles: Boolean = false,
      nowMs: Long = System.currentTimeMillis()): Long = {
    require(retentionMs > 0L, "retireAgedDeadLetters: retentionMs must be > 0")
    val cutoff = nowMs - retentionMs
    val safe = sanitizedPipeline(pipeline)
    val root = new org.apache.hadoop.fs.Path(deadLetterDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0L
    // a partition's age = its newest file's mtime (fallback: the dir
    // status for a fileless dir) — meaningful on every filesystem
    def newestMtime(dir: org.apache.hadoop.fs.FileStatus): Long = {
      val files = fs.listStatus(dir.getPath).filter(_.isFile)
      if (files.isEmpty) dir.getModificationTime
      else files.map(_.getModificationTime).max
    }
    var n = 0L
    if (includeRootFiles)
      fs.listStatus(root).foreach { st =>
        if (st.isFile && !st.getPath.getName.startsWith("_")
            && !st.getPath.getName.startsWith(".")
            && st.getModificationTime < cutoff) {
          fs.delete(st.getPath, false)
          n += 1L
        }
      }
    Seq("_expect", "_drift").foreach { sub =>
      // view drift gates tag per side (`<name>.fact`/`<name>.dim` —
      // written only under `_drift`): sweep the pipeline's own dir
      // plus exactly those two side tags, nothing else. A PREFIX match
      // would let conf `p` sweep a keep-forever neighbor named
      // `p.archive` sharing the dir (names allow dots) — the invariant
      // is exact ownership, never startsWith. And a side tag counts as
      // OWNED only when its kind marker says a VIEW gate wrote it:
      // dots are legal in conf names, so a neighbor pipeline literally
      // named `p.fact` sharing the dir writes `pipeline=p.fact` with
      // its OWN kind marker (ann/dedup/…) — p's retention clock must
      // not retire that quarantine. Only p's own fact/dim gates write
      // kind `view` at those exact names; an unmarked (pre-marker) dir
      // stays untouched, the conservative reading.
      val sideOwned: String => Boolean =
        if (sub == "_drift") {
          val tags = Set(s"pipeline=$safe.fact", s"pipeline=$safe.dim")
          name => tags(name) && deadLetterKind(spark, deadLetterDir, sub,
            name.stripPrefix("pipeline=")).contains("view")
        } else _ => false
      val owned: String => Boolean =
        name => name == s"pipeline=$safe" || sideOwned(name)
      val s = new org.apache.hadoop.fs.Path(root, sub)
      if (fs.exists(s))
        fs.listStatus(s).filter(p => p.isDirectory
            && owned(p.getPath.getName)).foreach { p =>
          fs.listStatus(p.getPath).foreach { b =>
            if (b.isDirectory && b.getPath.getName.startsWith("batch_id=")
                && newestMtime(b) < cutoff) {
              fs.delete(b.getPath, true)
              n += 1L
            }
          }
        }
    }
    n
  }

  /** The recorded verdict rows, typed. */
  def expectRows(spark: org.apache.spark.sql.SparkSession,
      t: Target): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.jdbc(t.url, s"${t.table}_expect", new java.util.Properties())
      .select(col("pipeline"),
        col("batch_id").cast("long").as("batch_id"), col("rule"),
        col("violations").cast("long").as("violations"),
        col("budget").cast("long").as("budget"),
        col("pass").cast("boolean").as("pass"))
  }

  /** The recorded rows, typed — operational dashboards and specs. */
  def rows(spark: org.apache.spark.sql.SparkSession,
      t: Target): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.jdbc(t.url, t.table, new java.util.Properties())
      .select(col("pipeline"), col("kind"),
        col("batch_id").cast("long").as("batch_id"),
        col("rows_in").cast("long").as("rows_in"),
        col("dead_letters").cast("long").as("dead_letters"),
        col("state_rows").cast("long").as("state_rows"),
        col("wall_ms").cast("long").as("wall_ms"), col("info"))
  }
}
