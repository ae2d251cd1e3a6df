package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.sinks.EsSink
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable

/** `serve_steady`: open loop. `graft.Serve.run` boots an `lww` conf on
  * `orders` and a `view` conf (`orders` ⋈ `customer`) over one feed dir,
  * both serving through one timed `FileDocStore` transport. A seeded
  * generator publishes feed files at seeded Poisson instants;
  * each order event is timed from its scheduled publish time to the
  * send of the first lww and view documents that carry it (or a later
  * version of its key).
  */
object ServeSteady {
  /** ~7.5 updates per hot key in a 125-event file, so a micro-batch
    * collapses to a few dozen documents per index under LWW.
    */
  val HotKeys = 16
  val Customers = 8
  val EventsPerFile = 125
  val FilesPerSecond = 2.0 // 250 events/s
  val CustomerShare = 0.03
  val MoveShare = 0.1
  val WarmSeconds = 2.0
  val DrainTimeoutS = 30.0

  private val mapper = new ObjectMapper()

  final case class Published(sched: Long, pub: Long, orders: Array[Long])

  def confs(dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("orders_lww.json"),
      s"""{"name":"orders_lww","databases":["${Feed.Db}"],"tables":["orders"],
         |"idKey":"o_orderkey","schema":"${Feed.OrdersSchemaDdl}",
         |"es":{"url":"http://bench/orders","username":"","password":""}}""".stripMargin)
    Files.writeString(dir.resolve("orders_view.json"),
      s"""{"kind":"view","name":"orders_view","databases":["${Feed.Db}"],"leftOuter":true,
         |"fact":{"table":"orders","idKey":"o_orderkey","joinKey":"o_custkey",
         |        "schema":"${Feed.OrdersSchemaDdl}"},
         |"dim":{"table":"customer","idKey":"c_custkey","joinKey":"c_custkey",
         |       "schema":"${Feed.CustomerSchemaDdl}"},
         |"es":{"url":"http://bench/view"}}""".stripMargin)
  }

  private def docsOf(index: String): Seq[(Long, Long, Long)] = {
    val it = Stamps.docs.iterator()
    val b = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    while (it.hasNext) {
      val d = it.next()
      if (d.index == index) b += ((d.key, d.seq, d.t1))
    }
    b.toSeq
  }

  private def readDoc(store: Path, index: String, key: Long): Option[JsonNode] = {
    val f = store.resolve(index).resolve(s"$key.json")
    if (Files.exists(f)) Some(mapper.readTree(Files.readAllBytes(f))) else None
  }

  /** Final-state mismatches: every lww doc holds its key's last seq;
    * every view doc its fact's last seq, customer and customer name.
    */
  def check(store: Path, t: Feed.Traffic): Long =
    (1 to t.hotKeys).map { k =>
      val lww = readDoc(store, "orders", k).exists(_.path("seq").asLong == t.lastSeq(k))
      val view = readDoc(store, "view", k).exists { d =>
        d.path("seq").asLong == t.lastSeq(k) &&
          d.path("o_custkey").asLong == t.custOf(k) &&
          d.path("c_name").asText == t.custName(t.custOf(k).toInt)
      }
      (if (lww) 0 else 1) + (if (view) 0 else 1)
    }.sum.toLong

  def run(seed: Long, seconds: Double, traced: Boolean, work: Path): Main.Result = {
    val r = new Main.Result
    val feed = work.resolve("feed")
    val confDir = work.resolve("conf")
    val store = work.resolve("store")
    var spark: SparkSession = null
    var traffic: Feed.Traffic = null
    // Serve's own session settings: RocksDB state for the view logs
    val extra = Map("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val setups = (0 until Main.SetupReps).map { _ =>
      if (spark != null) spark.stop()
      Seq(feed, confDir).foreach(Main.deleteRecursively)
      val t0 = System.nanoTime()
      spark = Trace.span("setup.session") {
        Main.session(work, s"local[${Main.Cores}]", extra) }
      val t1 = System.nanoTime()
      Trace.span("setup.generate") {
        confs(confDir)
        Files.createDirectories(feed)
        traffic = new Feed.Traffic(seed, HotKeys, Customers, CustomerShare, MoveShare)
        Feed.publish(feed, "feed-00000000.jsonl", traffic.snapshot())
      }
      (t1 - t0, System.nanoTime() - t1)
    }
    val engine = if (traced) Some(new EngineWindow(spark)) else None
    Stamps.reset()
    Stamps.trackDocs = true
    val transport = new TimedTransport(store.toString, "o_orderkey")
    val cfg = EsSink.Config("http://bench/default", "", "", idKey = "id")
    val session = spark
    val server = new Thread(() => {
      Trace.span("serve.run") {
        graft.Serve.run(session, confDir.toString, feed.toString,
          work.resolve("serve").toString, cfg, transport)
      }
      ()
    }, "perfbench-serve")
    var serveError: Throwable = null
    server.setUncaughtExceptionHandler((_, e) => serveError = e)

    val w0 = System.nanoTime()
    server.start()
    // warm-up 1: the snapshot is served on both indexes
    def waitUntil(timeoutS: Double)(done: => Boolean): Boolean = {
      val end = System.nanoTime() + (timeoutS * 1e9).toLong
      var ok = done
      while (!ok && System.nanoTime() < end && serveError == null) {
        Thread.sleep(200); ok = done
      }
      ok
    }
    def allServed(orders: Iterable[(Long, Long)]): Boolean = {
      val lww = Stats.servedAt(docsOf("orders"))
      val view = Stats.servedAt(docsOf("view"))
      orders.forall { case (k, s) => lww(k, s).isDefined && view(k, s).isDefined }
    }
    val snapOrders = (1 to HotKeys).map(k => (k.toLong, traffic.lastSeq(k)))
    Trace.span("setup.warmup") {
      waitUntil(120)(allServed(snapOrders))
    }
    // the live heap of the booted pipeline; the warm-up traffic below
    // absorbs the collection's pause
    Main.sampleLiveHeap()

    // the generator: a fixed number of files per span, at seeded
    // Poisson instants (see Feed.Traffic.arrivals)
    val published = mutable.ArrayBuffer.empty[Published]
    var fileNo = 0
    def generate(from: Long, span: Long): Unit = {
      val n = math.round(span / 1e9 * FilesPerSecond).toInt
      traffic.arrivals(n, span).foreach { off =>
        val due = from + off
        val wait = due - System.nanoTime()
        if (wait > 0) LockSupport.parkNanos(wait)
        if (serveError == null) {
          val ob = new mutable.ArrayBuilder.ofLong
          fileNo += 1
          Feed.publish(feed, f"feed-$fileNo%08d.jsonl", traffic.nextFile(EventsPerFile, ob))
          published += Published(due, System.nanoTime(), ob.result())
        }
      }
    }
    val warmStart = System.nanoTime()
    val warmNs = (WarmSeconds * 1e9).toLong
    Trace.span("setup.warmup") { generate(warmStart, warmNs) }
    val warmup = System.nanoTime() - w0
    val nWarm = published.size

    engine.foreach(_.start())
    val start = warmStart + warmNs
    val windowNs = (seconds * 1e9).toLong
    val c0 = Main.cpuNanos()
    Trace.span("serve.window") { generate(start, windowNs) }
    val windowCpuNs = Main.cpuNanos() - c0
    val end = start + windowNs
    val window = published.drop(nWarm)
    val windowOrders = window.flatMap(p => p.orders.grouped(2).map(a => (a(0), a(1))))
    // final drain: every published event served, final state converged
    val drained = Trace.span("serve.drain") {
      waitUntil(DrainTimeoutS)(allServed(published.flatMap(p =>
        p.orders.grouped(2).map(a => (a(0), a(1))))) && check(store, traffic) == 0)
    }
    engine.foreach(_.stop())
    Main.sampleLiveHeap()
    Files.writeString(work.resolve("serve").resolve("STOP"), "")
    server.join(60000)
    if (serveError != null) throw serveError

    val lwwAt = Stats.servedAt(docsOf("orders"))
    val viewAt = Stats.servedAt(docsOf("view"))
    val lat = mutable.ArrayBuffer.empty[(Double, Double, Double)] // lww, view, both
    var unserved = 0L
    var lastServed = start
    window.foreach { p =>
      p.orders.grouped(2).foreach { case Array(k, s) =>
        (lwwAt(k, s), viewAt(k, s)) match {
          case (Some(a), Some(b)) =>
            lat += (((a - p.sched) / 1e6, (b - p.sched) / 1e6, (math.max(a, b) - p.sched) / 1e6))
            lastServed = math.max(lastServed, math.max(a, b))
          case _ => unserved += 1
        }
      }
    }
    val mismatches = check(store, traffic)
    r.attempted = windowOrders.size.toLong + 2L * HotKeys
    r.failed = unserved + mismatches + Stamps.failed.sum
    r.notes("drained") = drained.toString
    require(lat.nonEmpty, "no order event was served in the window")

    val offered = window.size.toLong * EventsPerFile
    r.e2e("setup_s") =
      Stats.median(setups.map { case (a, b) => Main.secs(a + b) }) + Main.secs(warmup)
    // sustained rate: the window's order events over the time from the
    // window's start until the last of them was served on both indexes
    r.e2e("throughput_per_s") = lat.size / Main.secs(lastServed - start)
    r.layers("latency.p50_ms") = Stats.quantile(lat.map(_._3).toSeq, 0.5)
    // the CPU the window's traffic costs, per event offered in it
    r.e2e("cpu_ms_per_op") = windowCpuNs / 1e6 / offered
    r.layers("latency.p95_ms") = Stats.quantile(lat.map(_._3).toSeq, 0.95)
    r.notes("samples") = lat.size.toString

    if (traced) {
      val eng = engine.get
      r.layers("setup.session_s") = Stats.median(setups.map(s => Main.secs(s._1)))
      r.layers("setup.generate_s") = Stats.median(setups.map(s => Main.secs(s._2)))
      r.layers("setup.warmup_s") = Main.secs(warmup)
      r.layers("serve.lww_p50_ms") = Stats.quantile(lat.map(_._1).toSeq, 0.5)
      r.layers("serve.lww_p95_ms") = Stats.quantile(lat.map(_._1).toSeq, 0.95)
      r.layers("serve.view_p50_ms") = Stats.quantile(lat.map(_._2).toSeq, 0.5)
      r.layers("serve.view_p95_ms") = Stats.quantile(lat.map(_._2).toSeq, 0.95)
      // files due in the window whose events were not all served by its end
      r.layers("serve.backlog_files") = window.count { p =>
        p.orders.grouped(2).exists { case Array(k, s) =>
          !(lwwAt(k, s).exists(_ <= end) && viewAt(k, s).exists(_ <= end)) }
      }.toDouble
      val late = window.map(p => (p.pub - p.sched) / 1e6).toSeq
      r.layers("serve.gen_late_ms_p50") = Stats.quantile(late, 0.5)
      r.layers("serve.gen_late_ms_p95") = Stats.quantile(late, 0.95)
      r.layers("serve.offered_events_per_s") = offered / seconds
      eng.report(r)
      val batches = Seq(
        "cdc_v2_orders_lww" -> "lww",
        "view_orders_view_log_fact" -> "view_fact_log",
        "view_orders_view_log_dim" -> "view_dim_log",
        "view_orders_view" -> "view_join").map { case (q, l) => eng.reportQuery(r, q, l) }.sum
      r.layers("spark.jobs_per_batch") = if (batches == 0) 0.0 else eng.jobs.toDouble / batches
      val sends = Stamps.sendList.filter(s => s.t0 >= start)
      SinkReport(r, sends, Stamps.gets.sum, Stamps.failed.sum, offered)
      r.layers("traced.throughput_per_s") = r.e2e("throughput_per_s")
      r.layers("traced.cpu_ms_per_op") = r.e2e("cpu_ms_per_op")
      // the scan/parse/LWW layers, over everything this run published
      LayerProbes.cdc(spark, feed, r)
    }
    Stamps.trackDocs = false
    r
  }
}
