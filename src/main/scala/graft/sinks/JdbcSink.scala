package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** JDBC sink — the capability the reference README claims ("built-in
  * Elasticsearch and JDBC write support") but whose code does not exist
  * anywhere in its tree (SURVEY §2.3 scans/sinks bullet). In Spark it is
  * a thin delegation to the built-in JDBC writer; the value added here
  * is the idempotent-upsert recipe for streaming use.
  */
object JdbcSink {

  /** Spark's built-in Derby dialect maps StringType to CLOB, which (a)
    * cannot be a merge/compare key and (b) makes the writer call
    * setNull(CLOB) — a hard Derby error against the VARCHAR columns a
    * serving/staging table declares (bites exactly when a LEFT-OUTER
    * view writes its null-enriched dim fields). Registering this
    * dialect ahead of the built-in one maps StringType to VARCHAR at
    * Derby's maximum length instead; every other type falls through to
    * the stock mapping chain. Idempotent, Derby-URL-scoped.
    */
  private object DerbyVarcharDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
    // captured BEFORE this dialect registers, so it is Spark's stock
    // DerbyDialect — everything but the string mapping delegates to it
    private val stock: org.apache.spark.sql.jdbc.JdbcDialect =
      org.apache.spark.sql.jdbc.JdbcDialects.get("jdbc:derby:memory:probe")
    override def canHandle(url: String): Boolean =
      url.toLowerCase(java.util.Locale.ROOT).startsWith("jdbc:derby")
    override def getJDBCType(dt: org.apache.spark.sql.types.DataType)
        : Option[org.apache.spark.sql.jdbc.JdbcType] = dt match {
      case org.apache.spark.sql.types.StringType =>
        Some(org.apache.spark.sql.jdbc.JdbcType(
          "VARCHAR(32672)", java.sql.Types.VARCHAR))
      case other => stock.getJDBCType(other)
    }
    override def getCatalystType(sqlType: Int, typeName: String, size: Int,
        md: org.apache.spark.sql.types.MetadataBuilder)
        : Option[org.apache.spark.sql.types.DataType] =
      stock.getCatalystType(sqlType, typeName, size, md)
    override def isCascadingTruncateTable(): Option[Boolean] =
      stock.isCascadingTruncateTable()
  }
  locally { org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(DerbyVarcharDialect) }

  /** Plain append (batch or inside foreachBatch). */
  def append(df: DataFrame, url: String, table: String,
      props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, props)

  /** Overwrite a table from the frame (small dimension refresh). */
  def overwrite(df: DataFrame, url: String, table: String,
      props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode(SaveMode.Overwrite).jdbc(url, table, props)

  /** Idempotent upsert for at-least-once streaming delivery: write the
    * micro-batch to a staging table, then MERGE on the key in one
    * transaction driver-side. Executors write the staging rows in
    * parallel; only the MERGE statement runs on one connection.
    */
  // Spark's JDBC writer creates the staging table with quoted (case-
  // preserved) identifiers — quote everywhere so the MERGE matches.
  private def q(c: String) = "\"" + c + "\""

  /** Write the staging table and build the shared MERGE scaffolding
    * (ON / INSERT arms); `sets` is the only clause the two merge
    * flavors differ on. `stagingColumnTypes` pins staging column types
    * for engines whose default string mapping cannot be a merge key
    * (Derby: StringType -> CLOB, not comparable to VARCHAR).
    */
  private def stageAndMerge(df: DataFrame, url: String, table: String,
      keyCols: Seq[String], cols: Seq[String], sets: String,
      props: java.util.Properties, stagingColumnTypes: String): String = {
    val staging = s"${table}_stage"
    val w0 = df.write.mode(SaveMode.Overwrite)
    val w = if (stagingColumnTypes == null) w0
      else w0.option("createTableColumnTypes", stagingColumnTypes)
    w.jdbc(url, staging, props)
    val on = keyCols.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
    val ins = cols.map(q).mkString(", ")
    val vals = cols.map(c => s"s.${q(c)}").mkString(", ")
    // key-only frame ⇒ no value columns ⇒ an UPDATE SET arm would be
    // syntactically empty; matched rows need no update, so omit the arm
    val matched =
      if (sets.isEmpty) "" else s"\nWHEN MATCHED THEN UPDATE SET $sets"
    s"""MERGE INTO $table t USING $staging s ON ($on)$matched
       |WHEN NOT MATCHED THEN INSERT ($ins) VALUES ($vals)""".stripMargin
  }

  def upsertViaStaging(df: DataFrame, url: String, table: String,
      keyCols: Seq[String],
      props: java.util.Properties = new java.util.Properties(),
      stagingColumnTypes: String = null): Unit =
    // same fixed `<table>_stage` name as every other merge flavor —
    // the staging+transaction window must serialize per (url, table)
    // or a concurrent caller overwrites the stage mid-merge
    writeLock(url, table).synchronized {
      val sets = df.columns.filterNot(keyCols.contains)
        .map(c => s"t.${q(c)} = s.${q(c)}").mkString(", ")
      val merge = stageAndMerge(df, url, table, keyCols, df.columns.toSeq,
        sets, props, stagingColumnTypes)
      val conn = java.sql.DriverManager.getConnection(url, props)
      try { val st = conn.createStatement(); try st.execute(merge) finally st.close() }
      finally conn.close()
    }

  /** ADDITIVE merge for incrementally-maintained views: matched rows
    * get `t.c = t.c + s.c` for every `addCol` (the per-batch NET
    * contribution — cdc.IncrementalAgg.contributions), unmatched rows
    * insert, and rows whose `zeroGuard` column reaches 0 are deleted
    * (a fully-retracted group leaves the view, matching the snapshot
    * aggregate). Same staging-table shape as [[upsertViaStaging]].
    *
    * UNLIKE an id-keyed upsert, adding is NOT idempotent — foreachBatch
    * is at-least-once, and a replayed micro-batch would double-count.
    * Pass the foreachBatch `batchId` and the merge becomes exactly-once:
    * the batch id is READ-CHECKED against `<table>_progress` (engine-
    * independent — no reliance on a driver's duplicate-key exception
    * class) and inserted in the SAME transaction as the merge, so an
    * applied batch skips whole and a data-level constraint violation
    * still fails LOUD (a silently dropped batch is permanent view
    * drift).
    */
  def mergeAdditive(df: DataFrame, url: String, table: String,
      keyCols: Seq[String], addCols: Seq[String], zeroGuard: String,
      props: java.util.Properties = new java.util.Properties(),
      stagingColumnTypes: String = null, batchId: Long = -1L): Unit = {
    require(addCols.nonEmpty,
      "mergeAdditive needs at least one additive column — for key-only " +
        "upserts use upsertViaStaging/applyViewDeltas")
    // stages through the same fixed `<table>_stage` name — serialize
    // the staging+transaction window per (url, table) like every
    // other merge flavor
    writeLock(url, table).synchronized {
      mergeAdditiveLocked(df, url, table, keyCols, addCols, zeroGuard,
        props, stagingColumnTypes, batchId)
    }
  }

  private def mergeAdditiveLocked(df: DataFrame, url: String, table: String,
      keyCols: Seq[String], addCols: Seq[String], zeroGuard: String,
      props: java.util.Properties, stagingColumnTypes: String,
      batchId: Long): Unit = {
    val staging = s"${table}_stage"
    val sets = addCols.map(c => s"t.${q(c)} = t.${q(c)} + s.${q(c)}").mkString(", ")
    val merge = stageAndMerge(df, url, table, keyCols, keyCols ++ addCols,
      sets, props, stagingColumnTypes)
    // zero-guard cleanup touches only the groups this batch staged —
    // an unrestricted DELETE would scan/lock the whole view per batch
    val corr = keyCols.map(k => s"s.${q(k)} = $table.${q(k)}").mkString(" AND ")
    val cleanup = s"DELETE FROM $table WHERE ${q(zeroGuard)} = 0 " +
      s"AND EXISTS (SELECT 1 FROM $staging s WHERE $corr)"
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      if (batchId >= 0) ensureProgressTable(conn, table)
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        if (batchId >= 0) {
          val rs = st.executeQuery(
            s"SELECT 1 FROM ${table}_progress WHERE batch_id = $batchId")
          val applied = rs.next(); rs.close()
          if (applied) { conn.rollback(); return } // replay: skip whole
          st.execute(s"INSERT INTO ${table}_progress (batch_id) VALUES ($batchId)")
        }
        st.execute(merge)
        st.execute(cleanup)
        conn.commit()
      } catch {
        // concurrent duplicate insert of the marker still surfaces here
        // and FAILS the batch — the retry then skips via the read check
        case e: Throwable => conn.rollback(); throw e
      } finally st.close()
    } finally conn.close()
  }

  /** Apply one micro-batch of KEYED view deltas (an action column plus
    * key/value columns — the IncrementalJoin.ViewDelta shape flattened)
    * to a serving table: stage both classes executor-parallel, then in
    * ONE driver transaction run the DELETEs and the upsert MERGE — in
    * that order, per the delta-join emission contract (a key-move's
    * delete+upsert pair for the same id must land on the upsert).
    *
    * Exactly-once here comes from IDEMPOTENCE, not a progress marker:
    * every effect is key-addressed (DELETE by key, MERGE by key), so an
    * at-least-once foreachBatch replay of the same delta batch converges
    * to the same table state — the additive-view marker machinery
    * ([[mergeAdditive]]) is unnecessary for keyed views.
    */
  def applyViewDeltas(deltas: DataFrame, url: String, table: String,
      keyCols: Seq[String], actionCol: String = "action",
      props: java.util.Properties = new java.util.Properties(),
      stagingColumnTypes: String = null,
      deleteStagingColumnTypes: String = null): Unit = {
    // persist: this method runs TWO actions (delete staging + upsert
    // staging) over one frame — inside foreachBatch an uncached frame
    // re-executes the whole micro-batch plan per action, including any
    // stateful operator upstream (double compute; correct but wasteful,
    // and it doubles the reported state metrics)
    val cached = deltas.persist()
    try applyKeyedDeltas(
      cached.filter(col(actionCol) === "upsert").drop(actionCol),
      cached.filter(col(actionCol) === "delete").select(keyCols.map(col): _*),
      url, table, keyCols, props, stagingColumnTypes,
      deleteStagingColumnTypes)
    finally { cached.unpersist(); () }
  }

  /** [[applyViewDeltas]] with the two classes already apart: `upserts`
    * are the rows to MERGE, `deletes` hold only the key columns. Runs
    * one action over each frame; the caller pins the frame they share.
    */
  def applyKeyedDeltas(upserts: DataFrame, deletes: DataFrame, url: String,
      table: String, keyCols: Seq[String],
      props: java.util.Properties = new java.util.Properties(),
      stagingColumnTypes: String = null,
      deleteStagingColumnTypes: String = null): Unit =
    writeLock(url, table).synchronized {
      applyKeyedDeltasLocked(upserts, deletes, url, table, keyCols, props,
        stagingColumnTypes, deleteStagingColumnTypes)
    }

  /** Per-(url, table) JVM-wide write locks: the keyed-merge protocol
    * stages through FIXED table names (`<table>_stage`,
    * `<table>_stage_del`), so two concurrent callers targeting one
    * serving table would overwrite each other's staging mid-
    * transaction (measured: a concurrent certificate MERGE dropped the
    * other caller's stage_del). A pipeline's own streaming query is a
    * single writer, but certificate serves and drive harnesses
    * legitimately fan out over one store — serialize only the
    * staging+transaction window, never the Spark-side compute that
    * produced the deltas. EVERY entry point that stages through the
    * fixed names takes this lock ([[upsertViaStaging]],
    * [[mergeAdditive]], [[applyViewDeltas]]) — mixing flavors on one
    * table is as racy as two callers of one flavor.
    *
    * PORTING NOTE — the protocol is SINGLE-PROCESS by construction:
    * the lock is JVM-striped, so two separate driver PROCESSES writing
    * one serving table on a server-grade JDBC target (Postgres/MySQL)
    * would still clobber each other's staging. That is outside
    * today's contract (embedded Derby is single-process; streaming
    * pipelines are single-writer per store), but a multi-driver
    * deployment must either make the staging names session-unique
    * (e.g. suffix a driver/session id, at the cost of staging-table
    * GC) or hold a DB-level advisory lock (pg_advisory_xact_lock /
    * GET_LOCK) around the staging+transaction window.
    */
  private val tableWriteLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def writeLock(url: String, table: String): Object =
    tableWriteLocks.computeIfAbsent(s"$url#$table", _ => new Object)

  private def applyKeyedDeltasLocked(upserts: DataFrame, dels: DataFrame,
      url: String, table: String, keyCols: Seq[String],
      props: java.util.Properties, stagingColumnTypes: String,
      deleteStagingColumnTypes: String): Unit = {
    val stageDel = s"${table}_stage_del"
    val wd0 = dels.write.mode(SaveMode.Overwrite)
    val wd = if (deleteStagingColumnTypes == null) wd0
      else wd0.option("createTableColumnTypes", deleteStagingColumnTypes)
    wd.jdbc(url, stageDel, props)
    val sets = upserts.columns.filterNot(keyCols.contains)
      .map(c => s"t.${q(c)} = s.${q(c)}").mkString(", ")
    val merge = stageAndMerge(upserts, url, table, keyCols,
      upserts.columns.toSeq, sets, props, stagingColumnTypes)
    val corr = keyCols.map(k => s"d.${q(k)} = $table.${q(k)}").mkString(" AND ")
    val del = s"DELETE FROM $table WHERE EXISTS " +
      s"(SELECT 1 FROM $stageDel d WHERE $corr)"
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try { st.execute(del); st.execute(merge); conn.commit() }
      catch { case e: Throwable => conn.rollback(); throw e }
      finally st.close()
    } finally conn.close()
  }

  /** Drop every batch-progress marker for `table` — the REBUILD half of
    * [[mergeAdditive]]'s exactly-once protocol. The marker key is the
    * foreachBatch batch id, which restarts at 0 whenever a pipeline's
    * checkpoints are rebuilt: stale markers from the previous run would
    * then silently skip every replayed batch. A pipeline that detects a
    * fresh work dir (no checkpoint yet) calls this before its first
    * batch. No-op when the progress table does not exist.
    */
  def clearProgress(url: String, table: String,
      props: java.util.Properties = new java.util.Properties()): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      // Swallow ONLY table-absent: a transient lock or permission
      // failure here would leave stale markers that silently skip
      // every replayed batch — the truncated-store failure mode the
      // rebuild contract exists to prevent. Anything else must fail
      // loud. States cover the engines the generic url API accepts
      // (Derby / Postgres / MySQL / H2 / MSSQL).
      try st.execute(s"DELETE FROM ${table}_progress")
      catch {
        case e: java.sql.SQLException
            if JdbcSink.TableAbsentStates(e.getSQLState) => ()
      }
      finally st.close()
    } finally conn.close()
  }

  private def ensureProgressTable(conn: java.sql.Connection, table: String): Unit = {
    val st = conn.createStatement()
    try st.execute(
      s"CREATE TABLE ${table}_progress (batch_id BIGINT NOT NULL PRIMARY KEY)")
    catch { // swallow ONLY already-exists; fail loud otherwise
      case e: java.sql.SQLException
          if JdbcSink.TableExistsStates(e.getSQLState) => ()
    }
    finally st.close()
  }

  /** SQLStates that mean "table does not exist" across common engines:
    * Derby 42X05 (+42Y55 for drop/alter targets), Postgres 42P01,
    * MySQL 42S02, SQL Server S0002, H2 '42102' (H2 reports its numeric
    * error code as the SQLState for TABLE_OR_VIEW_NOT_FOUND — not the
    * 42S02 family). Narrow on purpose — any OTHER state
    * (lock, permission, connection) must propagate, or stale progress
    * markers silently skip replayed batches. An engine with a
    * different vendor state fails LOUD, the safe direction; add its
    * state here when qualifying it.
    */
  private[graft] val TableAbsentStates: Set[String] =
    Set("42X05", "42Y55", "42P01", "42S02", "S0002", "42102")

  /** SQLStates that mean "table already exists": Derby X0Y32, Postgres
    * 42P07, MySQL 42S01, SQL Server S0001, H2 '42101' (numeric
    * TABLE_OR_VIEW_ALREADY_EXISTS code as SQLState).
    */
  private[graft] val TableExistsStates: Set[String] =
    Set("X0Y32", "42P07", "42S01", "S0001", "42101")

  /** SQLStates that mean "column already exists" — the benign half of
    * two concurrent ALTER TABLE ... ADD COLUMN racers (the schema
    * migrations probe metadata first, so only the race's loser ever
    * lands here): Derby X0Y32 (one state for every duplicate schema
    * object), Postgres 42701, MySQL 42S21, SQL Server S0021, H2
    * '42121' (numeric DUPLICATE_COLUMN_NAME code as SQLState).
    */
  private[graft] val DuplicateColumnStates: Set[String] =
    Set("X0Y32", "42701", "42S21", "S0021", "42121")

  /** DROP a table if present (store-version retirement): swallows ONLY
    * table-absent — a lock or permission failure must fail loud, or a
    * superseded store version silently survives forever.
    */
  def dropTableIfExists(url: String, table: String,
      props: java.util.Properties = new java.util.Properties()): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try st.execute(s"DROP TABLE $table")
      catch {
        case e: java.sql.SQLException if TableAbsentStates(e.getSQLState) => ()
      }
      finally st.close()
    } finally conn.close()
    ()
  }

  /** Run a CREATE TABLE unless the table already exists: swallows ONLY
    * already-exists (idempotent re-run); anything else fails loud.
    */
  def createTableIfAbsent(url: String, ddl: String,
      props: java.util.Properties = new java.util.Properties()): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try st.execute(ddl)
      catch {
        case e: java.sql.SQLException if TableExistsStates(e.getSQLState) => ()
      }
      finally st.close()
    } finally conn.close()
    ()
  }
}
