package perfbench

import graft.sinks.EsSink
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** JVM-global send stamps. Spark tasks deserialize their own copy of the
  * transport, so every copy writes here; with a `local[N]` master all
  * tasks share this JVM.
  */
object Stamps {
  /** One transport call: start/end (nanoTime), index, docs put/deleted,
    * request body bytes, and whether it wrote a progress marker.
    */
  final case class Send(t0: Long, t1: Long, index: String, put: Int,
      deleted: Int, bytes: Long, marker: Boolean)

  /** A served document: index, key, `seq` field, send end time. */
  final case class Doc(index: String, key: Long, seq: Long, t1: Long)

  @volatile var trackDocs: Boolean = false
  val sends = new ConcurrentLinkedQueue[Send]()
  val docs = new ConcurrentLinkedQueue[Doc]()
  val gets = new LongAdder
  val failed = new LongAdder

  def reset(): Unit = { sends.clear(); docs.clear(); gets.reset(); failed.reset() }

  def sendList: Seq[Send] = sends.asScala.toSeq

  private def longAfter(s: String, field: String): Long = {
    val i = s.indexOf(field)
    if (i < 0) Long.MinValue
    else {
      var j = i + field.length
      var v = 0L
      while (j < s.length && Character.isDigit(s.charAt(j))) {
        v = v * 10 + (s.charAt(j) - '0'); j += 1
      }
      v
    }
  }

  private def track(index: String, body: String, keyField: String, t1: Long): Unit = {
    val k = longAfter(body, "\"" + keyField + "\":")
    if (k != Long.MinValue) docs.add(Doc(index, k, longAfter(body, "\"seq\":"), t1))
  }

  def record(index: String, req: EsSink.Request, status: Int, t0: Long,
      t1: Long, keyField: String): Unit = {
    val marker = req.url.contains("_graft_progress_")
    var put = 0
    var del = 0
    req.method match {
      case "PUT" if !marker =>
        put = 1
        if (trackDocs) track(index, req.body, keyField, t1)
      case "DELETE" => del = 1
      case "POST" =>
        val lines = req.body.split('\n')
        var i = 0
        while (i < lines.length) {
          val l = lines(i)
          if (l.startsWith("{\"index\"")) {
            put += 1
            if (trackDocs && i + 1 < lines.length) track(index, lines(i + 1), keyField, t1)
            i += 2
          } else {
            if (l.startsWith("{\"delete\"")) del += 1
            i += 1
          }
        }
      case _ => ()
    }
    if (status / 100 != 2) failed.increment()
    sends.add(Send(t0, t1, index, put, del, req.body.length.toLong, marker))
  }
}

/** Timing wrapper around the program's file-backed document store: one
  * [[EsSink.FileDocStore]] per index (the first path segment of the
  * request url), every call stamped into [[Stamps]].
  */
final class TimedTransport(root: String, keyField: String) extends EsSink.Transport {
  @transient private lazy val stores =
    new ConcurrentHashMap[String, EsSink.FileDocStore]()

  private def indexOf(url: String): String = {
    val s = url.indexOf('/', url.indexOf("://") + 3)
    val e = url.indexOf('/', s + 1)
    url.substring(s + 1, if (e < 0) url.length else e)
  }

  private def store(index: String): EsSink.FileDocStore =
    stores.computeIfAbsent(index, i => new EsSink.FileDocStore(s"$root/$i"))

  def send(req: EsSink.Request): Int = {
    val index = indexOf(req.url)
    val t0 = System.nanoTime()
    val status =
      try store(index).send(req)
      catch { case e: Exception => Stamps.failed.increment(); throw e }
    Stamps.record(index, req, status, t0, System.nanoTime(), keyField)
    status
  }

  override def get(url: String, headers: Map[String, String]): (Int, String) = {
    Stamps.gets.increment()
    store(indexOf(url)).get(url, headers)
  }
}

/** Job/stage/task counters from Spark's public listener bus. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val runMs = new AtomicLong

  /** Stages of jobs started with [[SparkCounters.Skip]] set. */
  private val skipped = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (e.properties != null && e.properties.getProperty(SparkCounters.Skip) != null)
      e.stageIds.foreach(skipped.add(_))
    else jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (!skipped.contains(e.stageInfo.stageId)) stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (!skipped.contains(e.stageId)) {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      runMs.addAndGet(m.executorRunTime)
    }
  }

  def snapshot(): Array[Long] = Array(jobs.get, stages.get, tasks.get,
    shuffleWrite.get, shuffleRead.get, spill.get, runMs.get)
}

object SparkCounters {
  /** Local property that marks the benchmark's own jobs (the analytics
    * reference job), which the counters leave out.
    */
  val Skip = "perfbench.skip"
}

/** Per-query micro-batch progress from the public streaming listener. */
final class StreamCounters extends StreamingQueryListener {
  import StreamCounters.Batch

  val byQuery = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Batch]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.name != null && p.batchId >= 0 && p.numInputRows > 0) {
      val ops = p.stateOperators
      val b = Batch(p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum)
      byQuery.computeIfAbsent(p.name, _ => new ConcurrentLinkedQueue[Batch]()).add(b)
    }
  }

  def clear(): Unit = byQuery.clear()
  def batches(name: String): Seq[Batch] =
    Option(byQuery.get(name)).map(_.asScala.toSeq).getOrElse(Nil)
}

object StreamCounters {
  final case class Batch(rows: Long, durations: Map[String, Long],
      stateRows: Long, stateBytes: Long, stateCommitMs: Long)
}

/** In-memory spans around every benchmark → layer call, written once at
  * exit. Off (and free) unless the run is traced.
  */
object Trace {
  final case class Span(id: Long, parent: Long, trace: Long, name: String,
      start: Long, end: Long)

  @volatile var on: Boolean = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, trace) = outer.headOption.fold((0L, id)) { case (p, t) => (p, t) }
      stack.set((id, trace) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, trace, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Total time per span name, and self time (minus child spans). */
  def selfTimes: Map[String, (Double, Double)] = {
    val s = all
    val childNs = s.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum }
    s.groupBy(_.name).map { case (n, xs) =>
      val tot = xs.map(x => x.end - x.start).sum
      val self = xs.map(x => x.end - x.start - childNs.getOrElse(x.id, 0L)).sum
      n -> (tot / 1e9, self / 1e9)
    }
  }

  def json: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
      s""""name":${Feed.jsonString(s.name)},"start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Batch-mode timings of the layers an `orders` pipeline runs through,
  * over a workload's feed: the graft-cdc scan, envelope parse + R5–R9
  * filters + routing, and the LWW collapse. Median of three each.
  */
object LayerProbes {
  import graft.cdc.{Envelope, EventFilters, Materialize, Subscription}
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions.{coalesce, col}
  import org.apache.spark.sql.types.StructType
  import java.nio.file.{Files, Path}

  def cdc(spark: SparkSession, feed: Path, r: Main.Result): Unit = {
    def timed(name: String)(f: => Unit): Double =
      Stats.median((0 until 3).map { _ =>
        val t0 = System.nanoTime()
        Trace.span(name)(f)
        Main.secs(System.nanoTime() - t0)
      })
    def raw = spark.read.format("graft-cdc").option("path", feed.toString).load()
    def parsed = EventFilters.all(Envelope.parseTyped(
      Subscription(Set(Feed.Db), Set("orders")).route(raw).drop("src_db", "src_table"),
      StructType.fromDDL(Feed.OrdersSchemaDdl)))
    val bytes = {
      val s = Files.list(feed)
      try s.iterator().asScala.map(Files.size).sum finally s.close()
    }
    r.layers("sources.cdc.scan_s") = timed("sources.cdc.scan") {
      raw.write.format("noop").mode("overwrite").save() }
    val rows = raw.count()
    r.layers("sources.cdc.rows") = rows.toDouble
    r.layers("sources.cdc.bytes") = bytes.toDouble
    r.layers("cdc.parse_filter_s") = timed("cdc.parse_filter") {
      parsed.write.format("noop").mode("overwrite").save() }
    r.layers("cdc.kept_ratio") = parsed.count().toDouble / rows
    val key = coalesce(col("after.o_orderkey"), col("before.o_orderkey"))
    r.layers("cdc.lww_s") = timed("cdc.lww") {
      Materialize.lwwTyped(parsed, key).write.format("noop").mode("overwrite").save() }
  }
}
