package graft

import graft.sinks.EsSink
import graft.streaming.{LocalCheckpointFileManager, PipelineRegistry,
  PipelineWatcher, SearchServingPipeline, ServedPipeline}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** The long-running application entry — the operational packaging of
  * the serving topology that makes this library runnable the way the
  * reference is (`CDCApplication.java:17-19` boots a Spring process
  * whose script container + file watcher then run until the JVM dies).
  * Everything `Serve` starts already exists as library surface; this
  * main only composes it:
  *
  *   - boots every conf-declared pipeline in `confDir` across all five
  *     kinds (lww/view/ann/dedup/search) — registration-time validation
  *     stays FAIL-FAST, so a broken conf kills the boot with the file
  *     and field named, the reference's boot contract
  *     (`ScriptExecutor.java:95-123` compiles + runs `initCDC` at boot);
  *   - spawns the watcher daemon, so conf add/edit/delete/kind-edit
  *     hot-reload in flight (mid-run malformed edits quarantine rather
  *     than kill the process — the boot/run asymmetry the registry
  *     already implements);
  *   - then blocks until `<workRoot>/STOP` appears or the JVM receives
  *     a termination signal, and stops every query through the same
  *     `watcher.stop()` path in both cases. Checkpoints are preserved
  *     on stop by contract, so the next `Serve` run resumes every
  *     pipeline from its cursor — restart-from-checkpoint IS the
  *     upgrade story, proven state-identical in RegistrySpec.
  *
  * Transport selection: an ES url of the form `file:/some/dir` serves
  * documents into an [[EsSink.FileDocStore]] at that directory (the
  * durable local serving store q140 certifies against the oracle — and
  * the zero-egress way to run the full topology in this environment);
  * any http(s) url gets the real [[EsSink.HttpTransport]].
  *
  * Usage:
  *   Serve <confDir> <sourceDir> <workRoot> <esUrl> [esUser esPass] [pollMs]
  */
object Serve {
  /** Composable core: boot, watch, block on the stop file, drain.
    * Takes the session and transport so tests (and embedders) drive the
    * identical code path `main` runs — only arg parsing and session
    * construction stay outside. Returns the number of queries booted.
    */
  def run(spark: SparkSession, confDir: String, sourceDir: String,
      workRoot: String, cfg: EsSink.Config, transport: EsSink.Transport,
      pollMs: Long = 500L, maintainEveryMs: Long = 60000L,
      maintainMaxBatches: Int = 64): Int = {
    Files.createDirectories(Paths.get(workRoot))
    val stopFile = Paths.get(workRoot, "STOP")
    // lww pipelines run under a processing-time trigger here — a server
    // follows the feed (the Debezium engine's run-until-stopped shape)
    // instead of the batch-drain AvailableNow default the tests and
    // one-shot runners use. Warehouse maintenance rides the watcher
    // tick (compact-past-64-batches + 24 h retention GC) — a server
    // process owns its warehouse's lifecycle; one-shot runners leave
    // maintenance to explicit DeltaLog.maintain calls.
    val watcher = new PipelineWatcher(spark, confDir, sourceDir,
      s"$workRoot/ckpt", cfg, transport, pollMs,
      lwwTrigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(s"$pollMs milliseconds"),
      maintainEveryMs = maintainEveryMs,
      maintainMaxBatches = maintainMaxBatches)
    // SIGTERM and STOP-file converge on the same idempotent stop():
    // a container runtime sending a signal gets the same clean drain
    // (queries stopped at a batch boundary, checkpoints preserved) as
    // an operator touching the file.
    val hook = new Thread(() => watcher.stop(), "graft-serve-shutdown")
    Runtime.getRuntime.addShutdownHook(hook)
    // every query the server starts, hot reloads included, writes its
    // WAL, commit log and state through graft's checkpoint file manager
    val undoFiles = LocalCheckpointFileManager.install(spark)
    try {
      val booted = watcher.startPipelines() // fail-fast: a bad conf throws here
      watcher.startWatching()
      while (!Files.exists(stopFile)) Thread.sleep(pollMs)
      booted.size
    } finally {
      watcher.stop()
      undoFiles()
      try Runtime.getRuntime.removeShutdownHook(hook)
      catch { case _: IllegalStateException => () } // already shutting down
    }
  }

  /** Shared arg validators of the two replay verbs — one copy, so a
    * contract fix cannot silently miss the other verb. Both fail as
    * usage text BEFORE the SparkSession boots.
    */
  private def parseTsMs(verb: String, tsMs: String): Long = {
    require(tsMs.nonEmpty && tsMs.forall(_.isDigit) &&
        scala.util.Try(tsMs.toLong).isSuccess,
      s"Serve $verb: tsMs must be an epoch-millis Long, got '$tsMs'")
    tsMs.toLong
  }

  private def parseBatchIds(verb: String, args: Seq[String]): Seq[Long] =
    if (args.length < 8) Nil
    else args(7).split(",").map(_.trim).filter(_.nonEmpty).map { s =>
      // same overflow guard as parseTsMs: an all-digit id past
      // Long.MaxValue must fail as usage text, not a raw
      // NumberFormatException after the session booted
      require(s.forall(_.isDigit) && scala.util.Try(s.toLong).isSuccess,
        s"Serve $verb: batchIds must be a comma-separated list of " +
          s"64-bit batch sequence numbers, got '${args(7)}'")
      s.toLong
    }.toSeq

  /** One-shot REPLAY verb (the quarantine lifecycle's CLI half): parse
    * `replay <expect|drift> <deadLetterDir> <pipeline> <db> <table>
    * <sourceDir> <tsMs> [batchIds,csv]` and re-inject the pipeline's
    * dead letters into the feed — a RUNNING Serve process drains them
    * on its next trigger; a stopped one on its next boot. Split out of
    * main so tests drive the identical arg contract without a session
    * boot. Returns the number of rows re-injected.
    */
  def runReplay(spark: SparkSession, args: Seq[String]): Long = {
    require(args.length >= 7,
      "usage: Serve replay <expect|drift> <deadLetterDir> <pipeline> " +
        "<db> <table> <sourceDir> <tsMs> [batchIds,csv]")
    val Seq(kind, dlDir, pipeline, db, table, sourceDir, tsMsArg) =
      args.take(7)
    val tsMs = parseTsMs("replay", tsMsArg)
    val batchIds = parseBatchIds("replay", args)
    kind match {
      case "expect" => graft.streaming.PipelineMetrics
        .replayExpectDeadLetters(spark, dlDir, pipeline, db, table,
          sourceDir, tsMs, batchIds)
      case "drift" => graft.streaming.PipelineMetrics
        .replayDriftDeadLetters(spark, dlDir, pipeline, db, table,
          sourceDir, tsMs, batchIds)
      case other => throw new IllegalArgumentException(
        s"Serve replay: unknown dead-letter kind '$other' " +
          "(expected expect or drift)")
    }
  }

  /** Resolve exactly ONE registration unit by (kind, name) — shared by
    * the repair verbs: the registry tolerates two files (mis)sharing a
    * name, but a repair must not, because picking whichever file lists
    * first could run against the wrong conf's state and dead-letter
    * dir (re-injecting wrong-shaped rows, retiring a foreign
    * quarantine, truncating a foreign store).
    */
  private def resolveOne(verb: String, kind: String, confDir: String,
      name: String): ServedPipeline = {
    val entries = PipelineRegistry.load(confDir).map(_.pipeline)
      .filter(_.kind == kind)
    val hit = entries.filter(_.name == name)
    require(hit.nonEmpty,
      s"Serve $verb: no $kind conf named '$name' in $confDir " +
        s"(have: ${entries.map(_.name).mkString(", ")})")
    require(hit.size == 1,
      s"Serve $verb: ${hit.size} $kind confs in $confDir share " +
        s"the name '$name' — the verb must resolve ONE registration " +
        "unit; rename or remove the duplicates first")
    hit.head
  }

  /** One-shot REBUILD verb for the SEARCH kind — the fifth kind's
    * quarantine closure: `rebuild search <confDir> <name> <workDir>
    * <sourceDir>` resolves the named conf (the verb must run through
    * the FIXED registration unit, like replay-keys) and rebuilds its
    * additive store from the bronze feed under the evolved conf
    * ([[graft.streaming.SearchServingPipeline.rebuildStore]]): work
    * dir cleared (the frozen drop verdicts live there), store tables
    * truncated, this conf's quarantine retired, the full feed
    * re-driven through the normal judged path — still-bad rows
    * re-quarantine under the new store's batch ids. The other kinds
    * refuse this verb the way search refuses replay-keys: their
    * keyed stores repair in place by replay; truncating them would
    * discard servable state for no reason. Returns the number of
    * retired dead-letter partitions.
    *
    * With `--online` the rebuild is ZERO-DOWNTIME
    * ([[graft.streaming.SearchServingPipeline.rebuildStoreOnline]]):
    * the next store version builds beside the serving one (its
    * quarantine STAGED, so a failed build leaves the serving store's
    * dead letters fully listed), the CURRENT pointer flips in one
    * transaction, and the old version's tables and work root retire —
    * BM25 reads answer from the old store throughout the build and
    * never see a mixed version. Retirement honors the conf's
    * `retireAfterMs`: 0 retires at the flip (single-process default);
    * a declared grace window leaves the superseded tables readable
    * until the watcher's maintenance tick sweeps them, the
    * multi-driver contract.
    */
  def runRebuild(spark: SparkSession, args: Seq[String]): Long = {
    require(args.length >= 5,
      "usage: Serve rebuild search <confDir> <name> <workDir> " +
        "<sourceDir> [--online]")
    val Seq(kind, confDir, name, workDir, sourceDir) = args.take(5)
    // fail loud on anything that is not the one recognized flag — a
    // typo'd --online would otherwise silently degrade the
    // zero-downtime rebuild into the offline store-truncating one
    val extras = args.drop(5)
    require(extras.forall(_ == "--online"),
      s"Serve rebuild: unrecognized argument(s) " +
        s"${extras.filterNot(_ == "--online").mkString(", ")} " +
        "(the only flag is --online, after <sourceDir>)")
    val online = extras.contains("--online")
    kind match {
      case "search" =>
        val p = resolveOne("rebuild", kind, confDir, name)
          .asInstanceOf[SearchServingPipeline]
        if (online) p.rebuildStoreOnline(spark, sourceDir, workDir)
        else p.rebuildStore(spark, sourceDir, workDir)
      case other => throw new IllegalArgumentException(
        s"Serve rebuild: the $other kind repairs by replay, not rebuild " +
          "— its keyed store re-converges in place (Serve replay / " +
          "replay-keys); only the additive search kind's frozen " +
          "verdicts require a store rebuild on policy change")
    }
  }

  /** One-shot keyed REPLAY verb for the derived-row kinds: parse
    * `replay-keys <kind> <confDir> <name> <workDir> <db> <sourceDir>
    * <tsMs> [batchIds,csv]`, resolve the named conf (the registration
    * unit — replay must run through the FIXED conf, so the verb reads
    * it rather than trusting caller-supplied shape args) and re-drive
    * its dead letters by originating key
    * ([[ServedPipeline.replayExpectDeadLetters]]). `workDir` is the
    * pipeline's work root (the runner derives it as
    * `<workRoot>/ckpt/<conf-basename>` — [[PipelineWatcher]]'s layout).
    * The kind table says which kinds refuse and why: lww dead letters
    * are wire (`Serve replay`), and an additive search store's
    * enforcement-policy change rebuilds the store (frozen verdicts).
    */
  def runReplayKeys(spark: SparkSession, args: Seq[String]): Long = {
    require(args.length >= 7,
      s"usage: Serve replay-keys <$keyedKinds> <confDir> <name> " +
        "<workDir> <db> <sourceDir> <tsMs> [batchIds,csv]")
    val Seq(kind, confDir, name, workDir, db, sourceDir, tsMsArg) =
      args.take(7)
    val tsMs = parseTsMs("replay-keys", tsMsArg)
    val batchIds = parseBatchIds("replay-keys", args)
    PipelineRegistry.keyedReplayRefusal(kind).foreach(why =>
      throw new IllegalArgumentException(s"Serve replay-keys: $why"))
    val p = resolveOne("replay-keys", kind, confDir, name)
    // the verb resolves the conf precisely so replay runs through the
    // FIXED registration unit — that must include the db: events
    // published under a db outside the conf's subscription would be
    // routed away while the dead letters still retire (silent loss).
    // An empty set subscribes to every db.
    require(p.databases.isEmpty || p.databases.contains(db),
      s"Serve replay-keys: db '$db' is not in conf '$name''s databases " +
        s"${p.databases.mkString("{", ", ", "}")} — the re-injected events " +
        "would be routed away and the dead letters still retired")
    p.replayExpectDeadLetters(spark, workDir, sourceDir, db, tsMs, batchIds)
  }

  private def keyedKinds: String = PipelineRegistry.keyedReplayKinds.mkString("|")

  /** The session every Serve mode runs in: `SPARK_GRAFT_CPUS` threads
    * (default 4), UTC, no NTZ inference. The server adds RocksDB state.
    */
  private def session(extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val sp = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config(extra.toMap)
      .getOrCreate()
    sp.sparkContext.setLogLevel("WARN")
    LocalCheckpointFileManager.install(sp)
    sp
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("replay") ||
        args.headOption.contains("replay-keys") ||
        args.headOption.contains("rebuild")) {
      val sp = session()
      args.head match {
        case "replay" =>
          val n = runReplay(sp, args.drop(1).toSeq)
          System.err.println(s"[serve] replayed $n dead-lettered rows")
        case "replay-keys" =>
          val n = runReplayKeys(sp, args.drop(1).toSeq)
          System.err.println(s"[serve] replayed $n dead-lettered rows")
        case _ =>
          val n = runRebuild(sp, args.drop(1).toSeq)
          System.err.println(
            s"[serve] store rebuilt ($n quarantined partitions retired)")
      }
      sp.stop()
      return
    }
    require(args.length >= 4,
      "usage: Serve <confDir> <sourceDir> <workRoot> <esUrl> [esUser esPass] [pollMs]" +
        "\n   or: Serve replay <expect|drift> <deadLetterDir> <pipeline> " +
        "<db> <table> <sourceDir> <tsMs> [batchIds,csv]" +
        s"\n   or: Serve replay-keys <$keyedKinds> <confDir> <name> " +
        "<workDir> <db> <sourceDir> <tsMs> [batchIds,csv]" +
        "\n   or: Serve rebuild search <confDir> <name> <workDir> " +
        "<sourceDir> [--online]")
    val Array(confDir, sourceDir, workRoot, esUrl) = args.take(4)
    val (esUser, esPass) =
      if (args.length >= 6) (args(4), args(5)) else ("", "")
    val pollMs =
      if (args.length >= 7) args(6).toLong
      else if (args.length == 5) args(4).toLong // url + pollMs, no auth
      else 500L
    val spark = session("spark.sql.streaming.stateStore.providerClass" ->
      graft.streaming.CdcPipeline.RocksDbProvider)
    val transport: EsSink.Transport =
      if (esUrl.startsWith("file:"))
        new EsSink.FileDocStore(esUrl.stripPrefix("file:"))
      else new EsSink.HttpTransport
    // FileDocStore ignores the host part of the url; keep the cfg url
    // meaningful for logs and for confs that derive index names from it.
    val cfg = EsSink.Config(
      if (esUrl.startsWith("file:")) s"http://graft-local/serve" else esUrl,
      esUser, esPass, idKey = "id")
    val n = run(spark, confDir, sourceDir, workRoot, cfg, transport, pollMs)
    System.err.println(s"[serve] drained and stopped ($n queries booted)")
    spark.stop()
  }
}
