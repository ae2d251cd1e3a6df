package graft.cdc

import graft.streaming.{Replay, StatefulLww}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Materialized CDC delta log — the SHARED front half of every
  * incrementally-maintained view (q88/q93/q99, the q101 join view): ONE
  * checkpointed StatefulLww pipeline replays the feed and appends the
  * per-key deltas to a parquet delta log; each view is then a fold over
  * the log, so N views cost one replay + N folds instead of N
  * independent full-feed replays (the round-5 composition finding). In
  * production this is the bronze→silver hop: the same writeStream keeps
  * running against the live feed and every view — or a later backfill —
  * consumes the log, never the raw feed.
  *
  * Layout: each micro-batch lands in its own `batch_id=<n>` partition
  * directory (foreachBatch + overwrite ⇒ a replayed batch overwrites
  * itself — exactly-once), so the log carries batch ORDER: keyed view
  * folds take each key's latest batch (IncrementalJoin
  * .materializeLatest), ±-algebra folds ignore the column. Idempotence:
  * the log directory is keyed by (table, source-content fingerprint)
  * and a marker file written only after `awaitTermination` gates
  * completion — a writer that died mid-replay resumes from its
  * checkpoint on the next call instead of duplicating batches.
  */
object DeltaLog {

  /** Root of the MANAGED delta-log warehouse (`spark.graft.warehouse`;
    * defaults under java.io.tmpdir for the harness). Layout per logical
    * log: `<root>/<logName>/<fingerprint>/` holding `data/` (the raw
    * batch_id-partitioned log), `ckpt/`, the build marker/lock,
    * optional `compact_<n>/` generations, and `CURRENT` — the pointer
    * file naming the generation readers use (absent ⇒ `data`).
    * A regenerated source gets a NEW fingerprint dir beside the old
    * one; [[gc]] retires superseded fingerprints and generations on a
    * retention clock. Lifecycle ops assume a locally-mounted root
    * (matching buildOnce's file locks); an object-store warehouse would
    * swap these java.io calls for its catalog's commit protocol.
    */
  def warehouseRoot(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.warehouse")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft_warehouse")

  /** A data dir as a path-safe name token (every non-alphanumeric → `_`). */
  private[graft] def dirTag(dir: String): String = dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Cheap content fingerprint of source files: murmur3 over (name,
    * size, mtime) of every file under the given paths (one level deep —
    * parquet files live directly under the table path). Not a data hash
    * — stat-level change detection is the right cost for a cache key,
    * and a regenerated table dir invalidates every artifact derived
    * from it.
    */
  private def fingerprint(paths: Seq[String]): String = {
    val parts = paths.flatMap { p =>
      val f = new java.io.File(p)
      val files =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).sortBy(_.getName)
        else Array(f)
      files.map(x => s"${x.getName}:${x.length}:${x.lastModified}")
    }
    java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(parts.mkString("|")))
  }

  /** The warehouse base of a FINGERPRINTED derived artifact — a delta
    * log, a staged fixture feed, a drive's store:
    * `<root>/<name>_<dirTag(dir)>/<fingerprint of dir's tables>`. A
    * regenerated source table gets a fresh base beside the old one, and
    * [[gc]] retires the superseded one. A derived SCHEMA or layout
    * change must bump `name` (a `v<n>` token): the fingerprint tracks
    * source content only.
    */
  def artifactBase(spark: SparkSession, name: String, dir: String,
      tables: String*): String =
    s"${warehouseRoot(spark)}/${name}_${dirTag(dir)}/" +
      fingerprint(tables.map(t => s"$dir/$t.parquet"))

  /** Build the artifact at [[artifactBase]] once ([[buildOnce]]: locked
    * across threads and processes, `_GRAFT_DONE`-marked, resumable) and
    * return its base. `build` gets the base and writes under it —
    * conventionally into `<base>/data`, the generation [[activeDataDir]]
    * names before any compaction.
    */
  def artifact(spark: SparkSession, name: String, dir: String,
      tables: String*)(build: String => Unit): String = {
    val base = artifactBase(spark, name, dir, tables: _*)
    buildOnce(base)(() => build(base))
    base
  }

  /** A staged fixture feed: an [[artifact]] whose `write(out)` fills
    * `out = <base>/data` once; returns `out`.
    */
  def stage(spark: SparkSession, name: String, dir: String,
      tables: String*)(write: String => Unit): String =
    artifact(spark, name, dir, tables: _*)(base => write(s"$base/data")) + "/data"

  /** The generation directory readers of `base` currently use: the one
    * named by `CURRENT`, or the raw `data` log before any compaction.
    */
  def activeDataDir(base: String): String = {
    val cur = Paths.get(s"$base/CURRENT")
    val rel =
      if (Files.exists(cur))
        new String(Files.readAllBytes(cur), "UTF-8").trim
      else "data"
    s"$base/$rel"
  }

  /** Compact the ACTIVE generation of log `base` into a new
    * `compact_<n>` generation and atomically repoint `CURRENT` at it —
    * the scheduled-maintenance step that keeps a long-lived log's fold
    * cost proportional to LIVE keys, not history. Readers see either
    * the old or the new generation, never a mix (pointer swap is an
    * atomic rename); the superseded generation stays on disk until
    * [[gc]] retires it, so in-flight readers finish safely. Returns the
    * new generation dir.
    */
  def compactLog(spark: SparkSession, base: String): String =
    compactLogWith(spark, base)(compact(spark, _, _))

  /** Generation plumbing shared by every compaction flavor: run the
    * given src→dst rewrite against the active generation, then
    * atomically repoint CURRENT at the result.
    */
  def compactLogWith(spark: SparkSession, base: String)(
      rewrite: (String, String) => Unit): String = {
    val gens = Option(new java.io.File(base).list()).getOrElse(Array.empty)
      .filter(_.startsWith("compact_"))
      .flatMap(n => scala.util.Try(n.stripPrefix("compact_").toInt).toOption)
    val next = if (gens.isEmpty) 1 else gens.max + 1
    val target = s"compact_$next"
    rewrite(activeDataDir(base), s"$base/$target")
    val tmp = Paths.get(s"$base/CURRENT.tmp")
    Files.write(tmp, target.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(s"$base/CURRENT"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    s"$base/$target"
  }

  /** Retention GC over the warehouse: delete (a) superseded FINGERPRINT
    * dirs — every fingerprint except each log's most recently modified
    * one — and (b) superseded GENERATIONS inside kept fingerprints
    * (generation dirs the `CURRENT` pointer no longer names, plus their
    * derived `*_collapsed*` caches), both only once older than
    * `retentionMs` (the grace window for in-flight readers). Checkpoints
    * and markers of kept fingerprints are never touched. Returns the
    * deleted paths.
    */
  def gc(spark: SparkSession, retentionMs: Long,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val cutoff = nowMs - retentionMs
    val deleted = Seq.newBuilder[String]
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      f.delete(); ()
    }
    val root = new java.io.File(warehouseRoot(spark))
    val genName = "^(data|compact_[0-9]+)$".r
    Option(root.listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
      .foreach { logDir =>
        val fps = Option(logDir.listFiles()).getOrElse(Array.empty)
          .filter(_.isDirectory)
        if (fps.nonEmpty) {
          val newest = fps.maxBy(lastUsed)
          fps.foreach { fp =>
            if ((fp ne newest) && lastUsed(fp) < cutoff) {
              rmTree(fp); deleted += fp.getPath
            } else {
              val active = new java.io.File(activeDataDir(fp.getPath)).getName
              Option(fp.listFiles()).getOrElse(Array.empty).foreach { g =>
                val superseded =
                  (genName.matches(g.getName) && g.getName != active) ||
                    (g.getName.contains("_collapsed") &&
                      !g.getName.startsWith(active + "_"))
                if (g.isDirectory && superseded && g.lastModified < cutoff) {
                  rmTree(g); deleted += g.getPath
                }
              }
            }
          }
        }
      }
    deleted.result()
  }

  /** One maintenance pass — the entry point a scheduler calls: compact
    * every warehouse log whose active generation holds more than
    * `maxBatches` batch partitions, then run retention [[gc]].
    */
  def maintain(spark: SparkSession, maxBatches: Int,
      retentionMs: Long): Unit = {
    val root = new java.io.File(warehouseRoot(spark))
    for {
      logDir <- Option(root.listFiles()).getOrElse(Array.empty)
      if logDir.isDirectory
      fp <- Option(logDir.listFiles()).getOrElse(Array.empty)
      if fp.isDirectory && Files.exists(Paths.get(s"${fp.getPath}/_GRAFT_DONE"))
    } {
      val active = new java.io.File(activeDataDir(fp.getPath))
      val batches = Option(active.list()).getOrElse(Array.empty)
        .count(_.startsWith("batch_id="))
      // dispatch by the log's SCHEMA, not one-size-fits-all: the
      // warehouse holds LWW table logs, view-delta logs, signed pair
      // logs, and posting logs, and each fold class has its own
      // equivalent rewrite — applying the LWW latest-per-"key" compact
      // to a log with no key column aborts the whole pass
      if (batches > maxBatches) {
        val cols = scala.util.Try(
          spark.read.parquet(active.getPath).columns.toSet).getOrElse(Set.empty)
        if (Set("key", "action", "rowJson").subsetOf(cols))
          compactLog(spark, fp.getPath)
        else if (Set("id_a", "id_b", "delta").subsetOf(cols))
          compactLogWith(spark, fp.getPath)(
            compactSigned(spark, _, _, "delta"))
        else if (Set("vec_id", "sgn", "cell", "emb").subsetOf(cols))
          compactLogWith(spark, fp.getPath)(compactPostings(spark, _, _))
        else if (Set("factId", "factJson", "dimJson").subsetOf(cols))
          compactLogWith(spark, fp.getPath)(compactViewDeltas(spark, _, _))
        // any remaining unknown shape: leave it whole rather than
        // corrupt it
      }
    }
    gc(spark, retentionMs)
    ()
  }

  /** Bump a marker's mtime — the "last used" signal [[gc]] keys
    * liveness on: every cache hit refreshes it, so the most recently
    * USED fingerprint is the one retention keeps (most recently BUILT
    * is wrong when source content reverts to an earlier fingerprint —
    * the revert re-serves the old dir without rebuilding it, and a
    * build-time heuristic would GC the actively-served log).
    */
  private def touch(marker: java.nio.file.Path): Unit =
    try Files.setLastModifiedTime(marker,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch { case _: java.io.IOException => () }

  /** Last-used time of a fingerprint dir: its marker's mtime when
    * present (refreshed on every cache hit), else the dir's own.
    */
  private def lastUsed(fp: java.io.File): Long = {
    val m = new java.io.File(fp, "_GRAFT_DONE")
    if (m.exists()) m.lastModified else fp.lastModified
  }

  /** Intra-process build locks, one per log base dir — FileLock alone
    * cannot exclude two THREADS of one JVM (OverlappingFileLockException
    * instead of blocking), so same-process builders serialize here first.
    */
  private val localLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  // the done marker and the .lock channel are java.nio LOCAL paths while
  // callers' writes go through Spark/Hadoop: on a non-local base (hdfs://,
  // s3a://) the marker check would misfire and silently rebuild (for
  // pinned-dimension callers that REVERTS the frozen-verdict contract).
  // Fail loud instead of diverging.
  private def requireLocal(base: String): Unit = {
    val scheme = scala.util.Try(new java.net.URI(base).getScheme).getOrElse(null)
    require(scheme == null || scheme == "file",
      s"buildOnce: base '$base' is not a local path — the once-only " +
        "marker and file lock are local-filesystem primitives; use a " +
        "local work root (or port the marker to the Hadoop FileSystem)")
  }

  /** Hold the per-`base` build lock while `body` runs: the intra-process
    * monitor, then an exclusive FileLock on `base/.lock` (blocks until
    * another process releases it). [[buildOnce]] runs under it; drives
    * that re-run incrementally on every call (their checkpoints are the
    * memo) take it directly, so two invocations never share a streaming
    * checkpoint mid-flight — in one JVM or across several. Not
    * reentrant for the same base on one thread (FileLock is per JVM).
    */
  private[graft] def withBuildLock[T](base: String)(body: => T): T = {
    requireLocal(base)
    val monitor = localLocks.computeIfAbsent(base, _ => new Object)
    monitor.synchronized {
      Files.createDirectories(Paths.get(base))
      val ch = java.nio.channels.FileChannel.open(Paths.get(s"$base/.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body finally lock.release()
      } finally ch.close()
    }
  }

  /** Run `build` exactly once per `base` across threads AND processes:
    * a double-checked done marker (`base/<marker>`, written only after
    * `build` returns) around [[withBuildLock]]. A builder that died
    * mid-build left no marker but did leave its streaming checkpoint, so
    * the next lock holder RESUMES the build (idempotent by construction)
    * rather than starting a duplicate concurrent one — the failure mode
    * this lock exists to prevent (two streaming queries sharing one
    * checkpoint dir corrupt it). A `build` that throws leaves no marker,
    * so the next call retries. Lifecycle drives pass their own marker
    * name (`_Q<N>_DRIVE_DONE`) so stores built before this protocol
    * existed stay recognized.
    */
  private[graft] def buildOnce(base: String, marker: String = "_GRAFT_DONE")(
      build: () => Unit): Unit = {
    requireLocal(base)
    val done = Paths.get(s"$base/$marker")
    if (Files.exists(done)) { touch(done); return }
    withBuildLock(base) {
      if (!Files.exists(done)) { // re-check: another holder built it
        build()
        try Files.createFile(done)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      } else touch(done)
    }
  }

  /** LWW delta relation of the `orders` feed (consumed by q88/q93/q99
    * and the join view's fact side). Columns: key, action, rowJson,
    * prevJson ([[graft.streaming.StatefulLww.Delta]]).
    */
  def ordersDeltas(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(ordersLogDir(spark, dir))

  /** Directory of the materialized orders delta log (ensures it is
    * written) — consumable as a batch relation OR a file stream, which
    * is how downstream views subscribe to the log in production.
    */
  def ordersLogDir(spark: SparkSession, dir: String): String =
    logFor(spark, dir, "orders", ChangeFeed.ordersRowSchema,
      coalesce(col("after.o_orderkey"), col("before.o_orderkey")))

  def customerLogDir(spark: SparkSession, dir: String): String =
    logFor(spark, dir, "customer", ChangeFeed.customerRowSchema,
      coalesce(col("after.c_custkey"), col("before.c_custkey")))

  /** The shared CDC front half every incremental consumer runs: DSv2
    * stream → subscription routing → R5–R9 filters → the keyed-event
    * shape (key, ts_ms, offset, op, after-JSON) that StatefulLww and
    * StatefulVersions both consume. ONE definition — q17f, q109 and the
    * log writer must process the identical event set.
    */
  def keyedEvents(spark: SparkSession, feedDir: String, table: String,
      rowSchema: StructType, keyExpr: Column,
      databases: Set[String] = Set("shop")): DataFrame = {
    val raw = spark.readStream.format("graft-cdc").option("path", feedDir).load()
    val routed = Subscription(databases, Set(table)).route(raw)
      .drop("src_db", "src_table")
    val filtered = EventFilters.all(Envelope.parseTyped(routed, rowSchema))
    filtered.select(keyExpr.as("key"),
      col("ts_ms"), col("offset"), col("op"), to_json(col("after")).as("after"))
  }

  /** The un-materialized streaming delta stream for one routed table —
    * the building block the log writer runs, exposed for pipelines that
    * consume deltas live (sinks, tests).
    */
  def deltaStream(spark: SparkSession, feedDir: String, table: String,
      rowSchema: StructType, keyExpr: Column,
      databases: Set[String] = Set("shop")): DataFrame =
    StatefulLww.deltaStream(
      keyedEvents(spark, feedDir, table, rowSchema, keyExpr, databases)).toDF()

  /** [[keyedEvents]] over a JUDGED feed log instead of the raw feed —
    * the consumer half of [[graft.streaming.DriftGate]]: the gate
    * already routed the table and withheld drift-dropped events into a
    * [[graft.streaming.StateLog]]-layout log of (value, offset) rows,
    * so this file-streams `<judgedBase>/log` with a STATIC schema (the
    * view side-log rule — an empty-but-existing dir is a valid source)
    * and runs the same typed parse + R5–R9 filters the raw path runs.
    */
  def keyedEventsFromJudged(spark: SparkSession, judgedBase: String,
      rowSchema: StructType, keyExpr: Column): DataFrame = {
    val raw = spark.readStream
      .schema(StructType.fromDDL("value STRING, offset BIGINT, batch_id BIGINT"))
      .parquet(s"$judgedBase/log")
      .drop("batch_id")
    val filtered = EventFilters.all(Envelope.parseTyped(raw, rowSchema))
    filtered.select(keyExpr.as("key"),
      col("ts_ms"), col("offset"), col("op"), to_json(col("after")).as("after"))
  }

  /** [[deltaStream]] over a judged feed log ([[keyedEventsFromJudged]]). */
  def deltaStreamFromJudged(spark: SparkSession, judgedBase: String,
      rowSchema: StructType, keyExpr: Column): DataFrame =
    StatefulLww.deltaStream(
      keyedEventsFromJudged(spark, judgedBase, rowSchema, keyExpr)).toDF()

  /** Materialized enriched-VIEW delta log — the same one-replay-many-
    * consumers argument, one level up: the orders⋈customer symmetric
    * join replay (IncrementalJoin.viewDeltaStream over the two table
    * logs) runs once, and every view built on the enriched relation
    * (q101's serving view, q105's aggregate) folds over the read-back
    * log. The full production lineage: bronze feed → table delta logs →
    * view delta log → folds.
    */
  def ordersCustomerViewDeltas(spark: SparkSession, dir: String): DataFrame = {
    val base = artifact(spark, "viewdeltalog_oc", dir, "orders", "customer") { base =>
      // feed the join from per-key COLLAPSED table logs: a multi-batch
      // log re-read as one stream batch would otherwise violate
      // viewDeltaStream's one-delta-per-key-per-batch input contract
      val oDir = collapsedForJoin(spark, ordersLogDir(spark, dir))
      val cDir = collapsedForJoin(spark, customerLogDir(spark, dir))
      Replay.runToParquet(spark,
        IncrementalJoin.viewDeltaStream(Replay.parquetStream(spark, oDir),
          Replay.parquetStream(spark, cDir), "o_custkey", "c_custkey").toDF(),
        s"$base/data", s"$base/ckpt")
    }
    spark.read.parquet(activeDataDir(base))
  }

  /** Materialized LEFT-OUTER enriched-view delta log: orders facts vs a
    * RESTRICTED customer dimension (even custkeys only) so the outer
    * semantics are actually observable — odd-custkey orders live in the
    * view null-enriched, exactly the fact-before-dim serving state a
    * real denormalization passes through. One replay, q115 folds it.
    */
  def ordersCustomerLeftViewDeltas(spark: SparkSession, dir: String): DataFrame = {
    val base = artifact(spark, "viewdeltalog_ocleft", dir,
        "orders", "customer") { base =>
      val oDir = collapsedForJoin(spark, ordersLogDir(spark, dir))
      val cDir = collapsedForJoin(spark, customerLogDir(spark, dir))
      Replay.runToParquet(spark,
        IncrementalJoin.viewDeltaStream(Replay.parquetStream(spark, oDir),
          Replay.parquetStream(spark, cDir).filter(col("key") % 2 === 0),
          "o_custkey", "c_custkey", leftOuter = true).toDF(),
        s"$base/data", s"$base/ckpt")
    }
    spark.read.parquet(activeDataDir(base))
  }

  /** Row payload schema of the `nation` dimension (dim-of-dim in the
    * 3-way view: orders ⋈ customer ⋈ nation).
    */
  val nationRowSchema: StructType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_nationkey",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("n_name",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_regionkey",
      org.apache.spark.sql.types.IntegerType)))

  /** Insert-only LWW delta relation of the `nation` table — the static
    * dimension bootstrap every multi-way view starts from (a live nation
    * feed would append rename/delete deltas to the same shape).
    */
  def nationDeltas(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.nation(spark, dir).select(
      col("n_nationkey").cast("long").as("key"),
      lit("upsert").as("action"),
      to_json(struct(col("n_nationkey"), col("n_name"), col("n_regionkey")))
        .as("rowJson"),
      lit(null).cast("string").as("prevJson"))

  /** Materialized THREE-WAY enriched-view delta log — the composition
    * that proves view deltas are themselves a delta relation: the
    * orders⋈customer view log (stage 1), collapsed to latest-per-factId
    * and re-expressed as a delta relation with merged o+c payloads
    * (IncrementalJoin.asDeltaRelation), joins the nation dimension in a
    * SECOND symmetric stateful stage routed by the customer row's
    * c_nationkey — nation as dim-of-dim. A nation rename fans out
    * through two levels (nation → its customers' enriched orders)
    * without touching either base log.
    */
  def ordersCustomerNationViewDeltas(spark: SparkSession, dir: String): DataFrame = {
    val base = artifact(spark, "viewdeltalog_ocn", dir,
        "orders", "customer", "nation") { base =>
      // stage-1 log → bootstrap delta relation: latest-per-factId upserts
      // (the log-as-one-batch collapse), merged o+c payload, no prevs
      val ocDeltas = IncrementalJoin.asDeltaRelation(
        IncrementalJoin.materializeLatest(
          ordersCustomerViewDeltas(spark, dir))
          .select(col("factId"), col("action"), col("factJson"),
            col("dimJson"), lit(null).cast("string").as("prevFactJson"),
            lit(null).cast("string").as("prevDimJson")),
        ChangeFeed.ordersRowSchema, ChangeFeed.customerRowSchema)
      ocDeltas.coalesce(4).write.mode("overwrite").parquet(s"$base/factside")
      nationDeltas(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$base/dimside")
      Replay.runToParquet(spark,
        IncrementalJoin.viewDeltaStream(
          Replay.parquetStream(spark, s"$base/factside"),
          Replay.parquetStream(spark, s"$base/dimside"),
          "c_nationkey", "n_nationkey").toDF(),
        s"$base/data", s"$base/ckpt")
    }
    spark.read.parquet(activeDataDir(base))
  }

  /** Compact a batch-partitioned delta log into an EQUIVALENT one-batch
    * log: each live key keeps one upsert delta (latest row, prev
    * nulled — the history's ± contributions telescope away, which the
    * LwwModelSpec replay contract guarantees), net-deleted keys vanish.
    * Every consumer class sees identical results on the compacted log:
    * ±-algebra folds (live-row contributions), keyed view folds
    * (latest-per-key), and the per-key-collapsed join input. This is
    * also the bounded-state RESTART point for streaming servers
    * (IncrementalAgg.liveSupportStream): rebuilt from the compacted
    * log, support state holds live rows only — no refcnt-0 tombstones.
    */
  def compact(spark: SparkSession, logDir: String, outDir: String): Unit = {
    clearTarget(spark, outDir)
    latestPerKey(spark.read.parquet(logDir))
      .filter(col("action") === "upsert")
      .select(col("key"), col("action"), col("rowJson"),
        lit(null).cast("string").as("prevJson"))
      .write.mode("overwrite").parquet(s"$outDir/batch_id=0")
  }

  /** Compaction for PURE-SUM signed (±) delta logs — e.g. the pair-
    * support log the streaming LSH index emits: group on everything but
    * the sign-valued column, keep the NET, drop zeros. Any fold that
    * only ever SUMS the signed column (MinHashLsh.livePairs, support
    * refcounts) is invariant under this rewrite; the compacted log is
    * one batch of net rows — the bounded restart point for index logs,
    * exactly what [[compact]] is for LWW logs. NOT for posting logs,
    * whose fold is latest-wins — [[compactPostings]] covers those.
    */
  def compactSigned(spark: SparkSession, logDir: String, outDir: String,
      signedCol: String): Unit = {
    clearTarget(spark, outDir)
    val log = spark.read.parquet(logDir)
    val keys = log.columns.filterNot(c => c == signedCol || c == "batch_id")
    log.groupBy(keys.toSeq.map(col): _*)
      .agg(sum(col(signedCol)).cast("int").as(signedCol))
      .filter(col(signedCol) =!= 0)
      .select(log.columns.toSeq.filterNot(_ == "batch_id").map(col): _*)
      .write.mode("overwrite").parquet(s"$outDir/batch_id=0")
  }

  /** Compaction for VIEW-DELTA logs ([[IncrementalJoin.viewDeltaStream]]'s
    * emitted shape: factId/action/factJson/dimJson/prevFactJson/
    * prevDimJson, batch_id-partitioned): the keyed fold class is
    * latest-per-factId ([[IncrementalJoin.materializeLatest]]), so the
    * equivalent one-batch rewrite keeps one upsert per LIVE fact id
    * with prevs nulled; ids whose last word is a delete vanish.
    * Invariant consumers: materializeLatest (by construction) and the
    * ± contributions fold ([[IncrementalJoin.contributions]]) — a key's
    * historical ± pairs telescope away exactly as in the LWW [[compact]]
    * case, leaving the live rows' net, which is what the nulled-prev
    * one-batch form states directly. This closes the one fold class
    * [[maintain]] previously had to leave whole, so long-lived view
    * logs now cost O(live keys), not O(history), to fold.
    */
  def compactViewDeltas(spark: SparkSession, logDir: String,
      outDir: String): Unit = {
    clearTarget(spark, outDir)
    IncrementalJoin.materializeLatest(spark.read.parquet(logDir))
      .select(col("factId"), col("action"), col("factJson"), col("dimJson"),
        lit(null).cast("string").as("prevFactJson"),
        lit(null).cast("string").as("prevDimJson"))
      .write.mode("overwrite").parquet(s"$outDir/batch_id=0")
  }

  /** Compaction for POSTING logs (VectorSearch.postingDeltas): their
    * fold is latest-wins, not net-sum, so compaction materializes the
    * live postings and rewrites them as one batch of + rows at seq 0 —
    * livePostings over the compacted log equals the original fold.
    */
  def compactPostings(spark: SparkSession, logDir: String, outDir: String): Unit = {
    clearTarget(spark, outDir)
    graft.ops.VectorSearch.livePostings(spark.read.parquet(logDir))
      .select(col("vec_id"), lit(0L).as("seq"), lit(1).as("sgn"),
        col("cell"), col("embedding").as("emb"))
      .write.mode("overwrite").parquet(s"$outDir/batch_id=0")
  }

  /** Clear a compaction target WHOLE before writing: the overwrite each
    * rewrite performs is scoped to its batch_id=0 subdirectory, so
    * rewriting into a dir that already holds a multi-batch log would
    * leave stale batch_id>0 partitions alongside the compacted one and
    * readers would fold a mix.
    */
  private def clearTarget(spark: SparkSession, outDir: String): Unit = {
    val out = new org.apache.hadoop.fs.Path(outDir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(out)) { fs.delete(out, true); () }
  }

  /** The ONE latest-delta-per-key collapse both [[compact]] and the
    * join input share: last batch wins (one delta per key per batch is
    * the log invariant, so no intra-batch tiebreak exists).
    */
  private def latestPerKey(log: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("key")
      .orderBy(col("batch_id").cast("long").desc)
    log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }

  /** Per-key collapse of a (possibly multi-batch) table delta log to
    * each key's LATEST delta — what the join's input contract requires
    * when a log's whole history arrives as one stream batch. The
    * collapsed delta's −prev row routes to a group that holds nothing
    * (the join starts empty), so it is a no-op there; the +new/absent
    * word is the correct final state. Identity for single-batch logs.
    */
  private def collapsedForJoin(spark: SparkSession, dataDir: String): String = {
    // data in a SUBDIR of the lock base: the parquet overwrite must not
    // delete the .lock/_GRAFT_DONE files buildOnce manages (v3 bumps the
    // layout so pre-subdir caches are not half-matched)
    val base = dataDir + "_collapsed_v3"
    val out = s"$base/data"
    buildOnce(base) { () =>
      latestPerKey(spark.read.parquet(dataDir))
        .drop("rn", "batch_id")
        .coalesce(4).write.mode("overwrite").parquet(out)
    }
    out
  }

  /** The CURRENT rows of a table delta log: latest delta per key, kept
    * iff it is an upsert — the relational materialization any log
    * consumer (serving check, index verify stage) folds to.
    */
  def currentRows(log: DataFrame): DataFrame =
    latestPerKey(log).filter(col("action") === "upsert").drop("rn", "batch_id")

  /** Materialized LWW delta log of the `documents` CDC feed — the
    * corpus as a live table (ChangeFeed.documentsFromTestData's
    * deterministic insert/revise/delete traffic).
    */
  def documentsLogDir(spark: SparkSession, dir: String): String =
    activeDataDir(artifact(spark, "deltalog_documents", dir, "documents") { base =>
      Replay.runToParquet(spark,
        deltaStream(spark, ChangeFeed.stagedDocsJsonl(spark, dir), "documents",
          ChangeFeed.documentsRowSchema,
          coalesce(col("after.doc_id"), col("before.doc_id"))),
        s"$base/data", s"$base/ckpt")
    })

  def documentsDeltas(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(documentsLogDir(spark, dir))

  /** Materialized LWW delta log of the `embeddings` CDC feed — the
    * vector corpus as a live table (ChangeFeed.embeddingsFromTestData's
    * deterministic insert/negate/delete traffic).
    */
  def embeddingsLogDir(spark: SparkSession, dir: String): String =
    activeDataDir(artifact(spark, "deltalog_embeddings", dir, "embeddings") { base =>
      Replay.runToParquet(spark,
        deltaStream(spark, ChangeFeed.stagedEmbeddingsJsonl(spark, dir),
          "embeddings", ChangeFeed.embeddingsRowSchema,
          coalesce(col("after.vec_id"), col("before.vec_id"))),
        s"$base/data", s"$base/ckpt")
    })

  def embeddingsDeltas(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(embeddingsLogDir(spark, dir))

  /** Materialized candidate-PAIR delta log of the streaming LSH index
    * over the documents feed (ops.MinHashLsh.indexDeltaStream): the
    * second-order composition — table delta log → index delta log —
    * with the same one-replay-many-consumers economics as the view
    * logs. Consumers fold `livePairs` and exact-verify against
    * [[currentRows]] of the documents log.
    */
  def documentsPairDeltas(spark: SparkSession, dir: String): DataFrame = {
    val base = artifact(spark, "lshindexlog", dir, "documents") { base =>
      // collapsed: the whole doc log arrives as ONE stream batch, so the
      // per-doc one-delta contract needs the per-key collapse first; a
      // collapsed −prev whose insert was collapsed away is a no-op by
      // the index's removal guard
      val dlog = collapsedForJoin(spark, documentsLogDir(spark, dir))
      Replay.runToParquet(spark,
        graft.ops.MinHashLsh.indexDeltaStream(Replay.parquetStream(spark, dlog)).toDF(),
        s"$base/data", s"$base/ckpt")
    }
    spark.read.parquet(activeDataDir(base))
  }

  // the fingerprint tracks source CONTENT only, so a delta-schema
  // change must bump the log name or stale cached logs keep the old
  // columns (ChangeFeed's v2 lesson)
  private def logFor(spark: SparkSession, dir: String, table: String,
      rowSchema: StructType, keyExpr: Column): String =
    activeDataDir(artifact(spark, s"deltalog_$table", dir,
        "orders", "customer") { base =>
      Replay.runToParquet(spark,
        deltaStream(spark, ChangeFeed.stagedJsonl(spark, dir), table, rowSchema,
          keyExpr),
        s"$base/data", s"$base/ckpt")
    })
}
