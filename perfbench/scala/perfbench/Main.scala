package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Benchmark JVM entry. Usage:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *                  <dataDir> <traceOut> [genSeconds,csv]
  *
  * Runs one workload against the program's public entry points, checks
  * its outputs, and prints one `PERFBENCH_RESULT {...}` line on stdout
  * (the wrapper `run.py` turns it into the benchmark's result line).
  */
object Main {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  /** Set-ups per run; the median is `setup_s` (the first pays JVM class
    * loading, the others the steady boot cost).
    */
  val SetupReps = 5

  /** What a workload reports: end-to-end metrics (always), per-layer
    * metrics (traced runs), and the output check tally.
    */
  final class Result {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0L
    var failed = 0L
    val notes = mutable.LinkedHashMap.empty[String, String]

    def json: String = {
      def obj(m: mutable.LinkedHashMap[String, Double]) = m.map { case (k, v) =>
        s"${Feed.jsonString(k)}:${num(v)}" }.mkString("{", ",", "}")
      val ns = notes.map { case (k, v) => s"${Feed.jsonString(k)}:${Feed.jsonString(v)}" }
        .mkString("{", ",", "}")
      s"""{"attempted":$attempted,"failed":$failed,"e2e":${obj(e2e)},""" +
        s""""layers":${obj(layers)},"notes":$ns}"""
    }
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def secs(nanos: Long): Double = nanos / 1e9

  /** CPU time this JVM has used, all threads. Time the host steals from
    * the VM does not count, so a cost per operation reads steadier than
    * a wall time on a shared machine.
    */
  def cpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The session every workload runs on: the program's own builder
    * settings (UTC, AQE, no NTZ inference), with every directory Spark
    * and the program write to placed under the run's work dir.
    */
  def session(work: Path, master: String, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.graft.warehouse", work.resolve("graft_warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally all.close()
    }

  def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Peak resident set of this JVM in MB (Linux VmHWM). */
  def rssPeakMb(): Double = {
    val l = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    l.split("\\s+")(1).toDouble / 1024.0
  }

  private def heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage

  /** Largest live heap seen by [[sampleLiveHeap]], in MB. */
  @volatile var liveHeapMb = 0.0

  /** Heap in use right after a full collection: what the program still
    * holds. Call it outside the timed window (it stops the world).
    */
  def sampleLiveHeap(): Unit = {
    // Spark frees broadcast and shuffle blocks of unreachable plans on
    // its cleaner thread after a collection finds them: collect, let it
    // run, collect again
    System.gc()
    Thread.sleep(1000)
    System.gc()
    liveHeapMb = math.max(liveHeapMb, heap.getUsed / 1048576.0)
  }

  /** Peak resident memory outside the heap (native, off-heap, code,
    * threads): the resident peak minus the committed heap, which the
    * fixed, pre-touched heap keeps resident from the start.
    */
  def nativePeakMb(): Double = rssPeakMb() - heap.getCommitted / 1048576.0

  def main(args: Array[String]): Unit = {
    require(args.length >= 7, "usage: perfbench.Main <workload> <seed> " +
      "<seconds> <trace 0|1> <workDir> <dataDir> <traceOut> [genSeconds,csv]")
    val Array(workload, seedS, secondsS, traceS, workS, dataS, traceOut) = args.take(7)
    val genSeconds = if (args.length > 7 && args(7).nonEmpty)
      args(7).split(",").map(_.toDouble).toSeq else Nil
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    Trace.on = traced
    val work = Paths.get(workS).toAbsolutePath
    Files.createDirectories(work)
    val load0 = loadavg()
    val r = Trace.span(s"workload.$workload") {
      workload match {
        case "serve_steady" => ServeSteady.run(seed, seconds, traced, work)
        case "analytics_mix" =>
          Analytics.run(seed, seconds, traced, work, dataS, genSeconds)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    // the memory the program drives: native peak plus the largest live
    // heap; the pre-touched heap itself is the benchmark's constant
    val nativeMb = nativePeakMb()
    r.e2e("mem_footprint_mb") = nativeMb + liveHeapMb
    if (traced) {
      r.layers("mem.native_peak_mb") = nativeMb
      r.layers("mem.heap_live_mb") = liveHeapMb
    }
    // a 1-minute load above the core count at start means the numbers
    // measured the box as much as the code (the program's Bench rule)
    r.notes("loadavg_start") = f"$load0%.2f"
    r.notes("contended") = (load0 > Cores.toDouble).toString
    if (traced) {
      val out = Paths.get(traceOut)
      Files.createDirectories(out.getParent)
      val selfT = Trace.selfTimes.toSeq.sortBy(_._1).map { case (n, (t, s)) =>
        s"""${Feed.jsonString(n)}:{"total_s":${num(t)},"self_s":${num(s)}}""" }
        .mkString("{", ",", "}")
      Files.write(out, (s"""{"workload":"$workload","seed":$seed,"result":${r.json},""" +
        s""""span_times":$selfT,"spans":${Trace.json}}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
    }
    println("PERFBENCH_RESULT " + r.json)
    System.out.flush()
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    sys.exit(0)
  }
}

/** Spark-engine counters over one measured window (traced runs). */
final class EngineWindow(spark: SparkSession) {
  val counters = new SparkCounters
  val streams = new StreamCounters
  spark.sparkContext.addSparkListener(counters)
  spark.streams.addListener(streams)
  private var base: Array[Long] = counters.snapshot()
  private var t0 = System.nanoTime()
  private var delta: Array[Long] = Array.fill(7)(0L)
  private var wall = 0L

  def start(): Unit = { base = counters.snapshot(); t0 = System.nanoTime(); streams.clear() }
  def stop(): Unit = {
    // task-end events arrive on the listener bus asynchronously: wait
    // until the counters stop moving
    var last = counters.snapshot().toSeq
    var settled = false
    while (!settled) {
      Thread.sleep(100)
      val now = counters.snapshot().toSeq
      settled = now == last
      last = now
    }
    wall = System.nanoTime() - t0
    delta = counters.snapshot().zip(base).map { case (a, b) => a - b }
  }
  def jobs: Long = delta(0)

  def report(r: Main.Result): Unit = {
    val Array(jobs, stages, tasks, sw, sr, spill, runMs) = delta
    r.layers("spark.jobs") = jobs.toDouble
    r.layers("spark.stages") = stages.toDouble
    r.layers("spark.tasks") = tasks.toDouble
    r.layers("spark.shuffle_write_bytes") = sw.toDouble
    r.layers("spark.shuffle_read_bytes") = sr.toDouble
    r.layers("spark.spill_bytes") = spill.toDouble
    r.layers("spark.executor_run_s") = runMs / 1e3
    r.layers("spark.busy_share") = runMs / 1e3 / (Main.secs(wall) * Main.Cores)
  }

  /** `streaming.<label>.*` for one streaming query. */
  def reportQuery(r: Main.Result, queryName: String, label: String): Int = {
    val bs = streams.batches(queryName)
    def p50(f: StreamCounters.Batch => Double): Double =
      if (bs.isEmpty) 0.0 else Stats.median(bs.map(f))
    def dur(k: String)(b: StreamCounters.Batch): Double = b.durations.getOrElse(k, 0L).toDouble
    val p = s"streaming.$label"
    r.layers(s"$p.batches") = bs.size.toDouble
    r.layers(s"$p.rows_per_batch_p50") = p50(_.rows.toDouble)
    r.layers(s"$p.trigger_ms_p50") = p50(dur("triggerExecution"))
    r.layers(s"$p.addBatch_ms_p50") = p50(dur("addBatch"))
    r.layers(s"$p.queryPlanning_ms_p50") = p50(dur("queryPlanning"))
    r.layers(s"$p.walCommit_ms_p50") = p50(dur("walCommit"))
    r.layers(s"$p.commitOffsets_ms_p50") = p50(dur("commitOffsets"))
    r.layers(s"$p.latestOffset_ms_p50") = p50(dur("latestOffset"))
    r.layers(s"$p.state_rows") = if (bs.isEmpty) 0.0 else bs.last.stateRows.toDouble
    r.layers(s"$p.state_bytes") = if (bs.isEmpty) 0.0 else bs.last.stateBytes.toDouble
    r.layers(s"$p.state_commit_ms_p50") = p50(_.stateCommitMs.toDouble)
    bs.size
  }
}

/** `sinks.*` from the transport stamps of a measured window. */
object SinkReport {
  def apply(r: Main.Result, sends: Iterable[Stamps.Send], gets: Long,
      failed: Long, events: Long): Unit = {
    val data = sends.filterNot(_.marker)
    val put = data.map(_.put.toLong).sum
    val del = data.map(_.deleted.toLong).sum
    r.layers("sinks.requests") = sends.size.toDouble
    r.layers("sinks.docs_put") = put.toDouble
    r.layers("sinks.docs_deleted") = del.toDouble
    r.layers("sinks.progress_gets") = gets.toDouble
    r.layers("sinks.bytes") = sends.map(_.bytes).sum.toDouble
    r.layers("sinks.send_busy_s") = sends.map(s => s.t1 - s.t0).sum / 1e9
    r.layers("sinks.send_ms_p50") =
      if (sends.isEmpty) 0.0 else Stats.median(sends.map(s => (s.t1 - s.t0) / 1e6))
    r.layers("sinks.docs_per_event") = if (events == 0) 0.0 else (put + del).toDouble / events
    r.layers("sinks.failed") = failed.toDouble
  }
}
