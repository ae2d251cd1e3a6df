package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, max}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** `analytics_mix`: closed loop of back-to-back passes over a fixed list
  * of registered queries, each forced with a `noop` write (as the
  * program's Bench does). The order within a pass is permuted by the
  * seed. The first warm-up pass writes every result once for the DuckDB
  * oracle check the wrapper runs.
  *
  * The host's speed drifts between runs on a shared machine (a fixed
  * Spark job ran 0.15 to 0.43 s in runs minutes apart), and a closed
  * loop of CPU-bound queries follows it. So a fixed reference job that
  * runs none of the program's code is timed before every measured
  * query, and the time figures are scaled to a host on which it takes
  * [[RefNominalS]] ([[RefNominalCpuMs]] of CPU). The raw figures are
  * per-layer metrics.
  */
object Analytics {
  /** query → operator family: one or two per family, sized so a pass
    * takes a few seconds on 4 cores.
    */
  val Queries: Seq[(String, String)] = Seq(
    "q02_agg" -> "relational",
    "q04_multijoin" -> "relational",
    "q19_neardup_jaccard" -> "dedup",
    "q63_dup_ngrams" -> "dedup",
    "q27_simhash" -> "similarity",
    "q57_textrank" -> "text",
    "q89_image_decode" -> "multimodal",
    "q109_cdc_incr_scd2" -> "stateful")
  val Families: Seq[String] =
    Seq("relational", "dedup", "similarity", "text", "multimodal", "stateful")
  /** After the cold first pass, pass times still fall by about a fifth
    * from the second pass to the fourth; the medians absorb what is left
    * of that trend in the window after two warm-up passes.
    */
  val WarmupPasses = 2
  val MinPasses = 2
  val MaxPasses = 20
  val RefRows = 400000L
  val RefNominalS = 0.2
  val RefNominalCpuMs = 600.0

  def run(seed: Long, seconds: Double, traced: Boolean, work: Path, data: String,
      genSeconds: Seq[Double]): Main.Result = {
    val r = new Main.Result
    val fns = SparkEntry.queries
    Queries.foreach { case (q, _) => require(fns.contains(q), s"query $q is not registered") }
    var spark: SparkSession = null
    val sessions = (0 until Main.SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Trace.span("setup.session") { Main.session(work, s"local[${Main.Cores}]") }
      Main.secs(System.nanoTime() - t0)
    }
    val gens = if (genSeconds.isEmpty) Seq.fill(Main.SetupReps)(0.0) else genSeconds
    val refs = mutable.ArrayBuffer.empty[Double]
    val refCpu = mutable.ArrayBuffer.empty[Double]
    // the reference job: a hash, an exchange and an aggregation, in
    // Spark only, on fixed input
    def reference(): Unit = {
      val sc = spark.sparkContext
      sc.setLocalProperty(SparkCounters.Skip, "reference")
      val t0 = System.nanoTime()
      val c0 = Main.cpuNanos()
      try spark.range(0, RefRows, 1, Main.Cores)
        .selectExpr("id % 1000 AS k", "md5(CAST(id AS STRING)) AS s")
        .groupBy("k").agg(count("*"), max("s"))
        .write.format("noop").mode("overwrite").save()
      finally sc.setLocalProperty(SparkCounters.Skip, null)
      refCpu += (Main.cpuNanos() - c0) / 1e6
      refs += Main.secs(System.nanoTime() - t0)
    }
    val engine = if (traced) Some(new EngineWindow(spark)) else None

    val out = Files.createDirectories(work.resolve("results"))
    // one execution of `q`: forced with a noop write, or written out as
    // parquet for the oracle check
    def once(q: String, dump: Boolean): Double = {
      val t0 = System.nanoTime()
      Trace.span(s"ops.$q") {
        val df = fns(q)(spark, data)
        if (dump) df.coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
        else df.write.format("noop").mode("overwrite").save()
      }
      Main.secs(System.nanoTime() - t0)
    }
    def attempt(q: String, dump: Boolean = false): Option[Double] =
      try Some(once(q, dump))
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $q failed: $e")
          r.failed += 1
          None
      } finally r.attempted += 1

    // warm-up passes (JIT, codegen, the program's staged fixtures and
    // logs); the first also writes each result once for the oracle
    // check, the last warms the reference job up too
    val w0 = System.nanoTime()
    Trace.span("setup.warmup") {
      (0 until WarmupPasses).foreach { w =>
        Queries.foreach { case (q, _) =>
          if (w == WarmupPasses - 1) reference()
          attempt(q, dump = w == 0)
        }
      }
    }
    val warmup = System.nanoTime() - w0
    Main.sampleLiveHeap()
    val oracle = SparkEntry.oracleSql
    Files.write(out.resolve("oracle_sql.json"), Queries.map { case (q, _) =>
      s"${Feed.jsonString(q)}:${Feed.jsonString(oracle.getOrElse(q, ""))}" }
      .mkString("{", ",\n", "}\n").getBytes(StandardCharsets.UTF_8))

    engine.foreach(_.start())
    val times = mutable.LinkedHashMap(Queries.map { case (q, _) =>
      q -> mutable.ArrayBuffer.empty[Double] }: _*)
    val warmRefs = refs.size
    val passes = mutable.ArrayBuffer.empty[Double] // wall time of each whole pass
    val passCpuMs = mutable.ArrayBuffer.empty[Double] // CPU per query of each whole pass
    val start = System.nanoTime()
    def timeUp = Main.secs(System.nanoTime() - start) >= seconds
    var p = 0
    // whole passes until MinPasses, then until the window ends; the
    // window may end within a pass, so it overruns by one query at most
    while (passes.size < MinPasses || (!timeUp && passes.size < MaxPasses)) {
      val order = new scala.util.Random(seed * 1000003L + p).shuffle(Queries.map(_._1))
      var total = 0.0
      var ran = 0
      var started = 0
      var cpu = 0L
      Trace.span("analytics.pass") {
        order.iterator.takeWhile(_ => passes.size < MinPasses || !timeUp).foreach { q =>
          started += 1
          reference()
          val c0 = Main.cpuNanos()
          attempt(q).foreach { t => times(q) += t; total += t; ran += 1 }
          cpu += Main.cpuNanos() - c0
        }
      }
      if (started == order.size) {
        passes += total
        if (ran > 0) passCpuMs += cpu / 1e6 / ran
      }
      p += 1
    }
    engine.foreach(_.stop())
    Main.sampleLiveHeap()

    val all = times.values.flatten.toSeq
    // medians over the window, so one slow pass or one slow execution
    // (a collection, a burst of host load) does not move the figures
    val med = times.map { case (q, ts) => q -> (if (ts.isEmpty) 0.0 else Stats.median(ts.toSeq)) }
    val rawSetup =
      Stats.median(sessions.zip(gens).map { case (a, b) => a + b }) + Main.secs(warmup)
    val rawThroughput = med.size / med.values.sum
    val rawCpu = Stats.median(passCpuMs.toSeq)
    // the host's speed drifts within a run too: the set-up is scaled by
    // the reference times of the last warm-up pass, the window's figures
    // by those of the window
    val refWarmS = Stats.median(refs.take(warmRefs))
    val refS = Stats.median(refs.drop(warmRefs))
    // a mean: process CPU time ticks in 10 ms steps, a median would too
    val refCpuMs = refCpu.drop(warmRefs).sum / (refCpu.size - warmRefs)
    r.e2e("setup_s") = rawSetup * RefNominalS / refWarmS
    r.e2e("throughput_per_s") = rawThroughput * refS / RefNominalS
    r.e2e("cpu_ms_per_op") = rawCpu * RefNominalCpuMs / refCpuMs
    r.layers("latency.p50_ms") = Stats.quantile(all, 0.5) * 1e3
    r.layers("latency.p95_ms") = Stats.quantile(all, 0.95) * 1e3
    r.notes("queries") = Queries.map(_._1).mkString(",")
    r.notes("passes") = passes.size.toString
    r.notes("reference") = f"wall $refS%.4f s, cpu $refCpuMs%.1f ms, warm-up wall $refWarmS%.4f s"
    r.notes("raw") = f"throughput $rawThroughput%.4f/s, cpu $rawCpu%.1f ms/query, setup $rawSetup%.2f s"
    r.notes("median_s") = med.map { case (q, m) => f"$q=$m%.3f" }.mkString(",")

    if (traced) {
      val eng = engine.get
      r.layers("setup.session_s") = Stats.median(sessions)
      r.layers("setup.generate_s") = Stats.median(gens)
      r.layers("setup.warmup_s") = Main.secs(warmup)
      eng.report(r)
      r.layers("spark.jobs_per_query") = eng.jobs.toDouble / math.max(1, all.size)
      med.foreach { case (q, m) => r.layers(s"analytics.${q}_s") = m }
      Families.foreach { f =>
        r.layers(s"ops.${f}_s") = Queries.filter(_._2 == f).map(q => med(q._1)).sum
      }
      r.layers("analytics.pass_s") = Stats.median(passes.toSeq)
      r.layers("analytics.reference_s") = refS
      r.layers("analytics.reference_cpu_ms") = refCpuMs
      r.layers("analytics.reference_warmup_s") = refWarmS
      r.layers("analytics.raw_throughput_per_s") = rawThroughput
      r.layers("analytics.raw_cpu_ms_per_op") = rawCpu
      r.layers("analytics.raw_setup_s") = rawSetup
      r.layers("traced.throughput_per_s") = r.e2e("throughput_per_s")
      r.layers("traced.cpu_ms_per_op") = r.e2e("cpu_ms_per_op")
    }
    r
  }
}
