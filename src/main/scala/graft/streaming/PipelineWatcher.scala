package graft.streaming

import graft.sinks.EsSink
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable

/** In-flight conf reload driver (S2 parity): the reference watches its
  * scripts directory and hot-reloads changed scripts without restarting
  * the process (WatchFile.java:84-161 debounced watcher →
  * ScriptContainer.java:69-81 re-registration). A Structured Streaming
  * query cannot swap its plan mid-flight, so the Spark-native analog
  * is: detect changed/new conf files ([[PipelineRegistry.changedSince]])
  * → stop the affected query → rebuild its pipeline from the new conf →
  * restart it against the SAME checkpoint. The checkpoint's offsets
  * preserve the cursor, so the reloaded query resumes exactly after the
  * last committed micro-batch — no event lost, none re-applied beyond
  * the at-least-once contract (id-keyed LWW upserts make replays
  * idempotent) — and the materialized state equals an uninterrupted
  * run's (asserted E2E in RegistrySpec).
  *
  * The poll interval doubles as the reference's 500 ms debounce quantum
  * (WatchFile.java:49): a conf saved mid-poll is picked up whole on the
  * next tick because detection compares mtimes, not events. Conf
  * DELETION deregisters: the query stops, the checkpoint stays, a
  * restored conf resumes from its cursor. Checkpoints are keyed by conf
  * file ([[PipelineRegistry.ckptKey]]) like the control maps — never by
  * pipeline name, so name collisions cannot put two live queries on one
  * checkpoint location.
  *
  * Driver-side control loop only — the data path stays the streaming
  * queries'; the watcher never touches rows.
  *
  * ALL registry kinds live under one watcher, through one lifecycle
  * ([[ServedPipeline]]): add starts a conf's queries (one for lww,
  * three for view and dedup, two for ann and search), change
  * stops-rebuilds-restarts them against the SAME work dir (every
  * stage's checkpoint resumes, so no event is re-served beyond the
  * idempotent keyed-apply contract) — an edited `"kind"` included —
  * and delete stops all of a pipeline's queries and preserves its
  * checkpoints for a later restore.
  */
final class PipelineWatcher(
    spark: SparkSession, confDir: String, sourceDir: String, ckptRoot: String,
    cfg: EsSink.Config, transport: EsSink.Transport, pollMs: Long = 500L,
    viewTriggerInterval: String = "500 milliseconds",
    lwwTrigger: org.apache.spark.sql.streaming.Trigger =
      org.apache.spark.sql.streaming.Trigger.AvailableNow(),
    maintainEveryMs: Long = 0L,
    maintainMaxBatches: Int = 64,
    maintainRetentionMs: Long = 24L * 3600 * 1000) {

  // Keyed by CONF FILE — the unit of reload — not pipeline name: a conf
  // that renames its pipeline must still stop the queries it previously
  // started, and two confs that (mis)share a name must not clobber each
  // other's handles (an unreachable handle is an unstoppable query).
  private val pipelines =
    mutable.Map.empty[String, (PipelineRegistry.Entry, Seq[StreamingQuery])]
  @volatile private var running = false
  private var loop: Thread = _
  // maintenance clock starts at construction: the first pass waits a
  // full interval instead of racing the boot
  private var lastMaintainMs = System.currentTimeMillis()

  private val live = ServedPipeline.Live(cfg, transport,
    viewTriggerInterval, lwwTrigger)

  private def workDir(file: String): String =
    s"$ckptRoot/${PipelineRegistry.ckptKey(file)}"

  private def stopAll(qs: Seq[StreamingQuery]): Unit =
    qs.foreach(q => if (q.isActive) q.stop())

  private def start(e: PipelineRegistry.Entry): Seq[StreamingQuery] = {
    val qs = PipelineRegistry.start(e, spark, sourceDir, ckptRoot, live)
    pipelines(e.file) = (e, qs)
    qs
  }

  /** Initial discovery + start of every registered pipeline, every kind
    * (the boot half, fail-fast; tracked for reload). Returns every
    * started query.
    */
  def startPipelines(): Seq[StreamingQuery] = synchronized {
    PipelineRegistry.load(confDir).flatMap(start)
  }

  /** One detection/reload cycle; returns the names of pipelines that
    * were (re)started. Deleted confs DEREGISTER: their queries stop and
    * leave the control map (the checkpoints stay on disk, so a restored
    * conf resumes from its cursor). A changed conf that no longer
    * parses is quarantined and its pipeline keeps running on the last
    * good conf. Exposed so tests drive the reload deterministically —
    * the background loop just calls this on a timer.
    */
  def pollOnce(): Seq[String] = synchronized {
    def known = pipelines.values.map(_._1).toSeq
    PipelineRegistry.removedSince(known)
      .foreach(f => pipelines.remove(f).foreach(r => stopAll(r._2)))
    // the old queries (whatever their kind) stop before the reloaded
    // conf's start against the same work dir
    val changed = PipelineRegistry.changedSince(known, confDir)
    val restarted = PipelineRegistry.reload(changed).map { e =>
      pipelines.get(e.file).foreach(r => stopAll(r._2))
      start(e)
      e.pipeline.name
    }
    // per-kind maintenance (ann's age-triggered retrain marker, search's
    // grace-kept version sweep): the watcher thread never mutates a
    // store itself, and a per-conf failure logs and the tick continues —
    // maintenance must not take down serving
    pipelines.values.foreach { case (e, _) =>
      try e.pipeline.tick(spark, workDir(e.file))
      catch {
        case ex: Exception => System.err.println(
          s"[PipelineWatcher] maintenance tick failed for " +
            s"${e.pipeline.name}: ${ex.getMessage}")
      }
    }
    // warehouse maintenance on the watcher cadence (`maintainEveryMs`
    // > 0) — the scheduler [[graft.cdc.DeltaLog.maintain]] documents:
    // compact any log whose active generation exceeds
    // `maintainMaxBatches` (atomic CURRENT repoint; readers see old or
    // new, never a mix), then retention-GC superseded fingerprints and
    // generations. A failed pass logs and keeps watching (the
    // reference's reload contract) and the clock advances either way,
    // so a broken log cannot turn the poll loop into a hot maintenance
    // loop.
    if (maintainEveryMs > 0L) {
      val now = System.currentTimeMillis()
      if (now - lastMaintainMs >= maintainEveryMs) {
        lastMaintainMs = now
        try graft.cdc.DeltaLog.maintain(spark, maintainMaxBatches,
          maintainRetentionMs)
        catch {
          case e: Exception => System.err.println(
            s"[PipelineWatcher] maintenance failed: ${e.getMessage}")
        }
        // conf-declared dead-letter retention rides the same tick
        // ([[PipelineMetrics.retireAgedDeadLetters]]): never-replayed
        // quarantines and warn-only drift letters age out only where a
        // conf opted in — per-conf failure logs and the tick continues
        val dlTargets = pipelines.values.map(_._1.pipeline).map(p =>
          (p.name, p.deadLetterDir, p.deadLetterRetentionMs))
        // root sink files interleave pipelines row-wise, so they may
        // age only where EVERY conf sharing the dir opted into a
        // retention — a keep-forever neighbor vetoes the sweep — and
        // then at the group's LONGEST retention: a 1-hour conf must
        // not delete interleaved rows a 30-day neighbor promised to
        // keep. The per-pipeline subtrees age on their own conf's
        // clock (includeRootFiles=false), and one extra pass by the
        // longest-retention conf sweeps the root.
        val byDir = dlTargets.collect { case (nm, Some(d), ret) =>
          (d, nm, ret) }.groupBy(_._1)
        byDir.foreach { case (dir, group) =>
          def retire(nm: String, ret: Long, root: Boolean): Unit =
            try {
              PipelineMetrics.retireAgedDeadLetters(spark, dir, ret, nm,
                includeRootFiles = root)
              ()
            } catch {
              case e: Exception => System.err.println(
                s"[PipelineWatcher] dead-letter retention failed for " +
                  s"$nm: ${e.getMessage}")
            }
          group.foreach { case (_, nm, ret) =>
            if (ret > 0L) retire(nm, ret, root = false)
          }
          if (group.forall(_._3 > 0L)) {
            val (_, nm, ret) = group.maxBy(_._3)
            retire(nm, ret, root = true) // re-sweeps nm's subtree at
            // its own (longest) clock — idempotent
          }
        }
      }
    }
    restarted
  }

  /** Spawn the daemon polling loop (the WatchFile thread). */
  def startWatching(): this.type = {
    running = true
    loop = new Thread(() => {
      while (running) {
        try {
          Thread.sleep(pollMs)
          pollOnce()
        } catch {
          case _: InterruptedException => // stop() interrupts the sleep
          case e: Exception =>
            // reference behavior: a failed reload logs and keeps watching
            System.err.println(s"[PipelineWatcher] reload failed: ${e.getMessage}")
        }
      }
    }, "graft-pipeline-watcher")
    loop.setDaemon(true)
    loop.start()
    this
  }

  /** Stop running and stop every active query, every kind. */
  def stop(): Unit = {
    running = false
    if (loop != null) { loop.interrupt(); loop.join(5000) }
    synchronized { pipelines.values.foreach(r => stopAll(r._2)) }
  }

  /** Active queries per pipeline name, every kind (tests / operational
    * visibility — the control map stays conf-file-keyed; this is the
    * display view).
    */
  def activeQueries: Map[String, Seq[StreamingQuery]] = synchronized {
    pipelines.values.map { case (e, qs) => e.pipeline.name -> qs }.toMap
  }
}
