package graft

import graft.cdc.Subscription
import graft.sinks.{EsSink, JdbcSink}
import graft.streaming.CdcPipeline
import org.apache.spark.sql.types._
import java.util.Collections
import scala.jdk.CollectionConverters._

/** Sink payload contracts (FIXTURES.md §3) — request shapes asserted
  * without a live cluster, including the two reference bugs we fix
  * (`/_bulk` spelling, raw basic auth); JDBC sink driven against
  * embedded Derby; the CDC pipeline end-to-end into a recording
  * transport.
  */
class SinkSpec extends SparkSpec {
  import spark.implicits._

  import SinkSpec.Recorder
  def recorded: Seq[EsSink.Request] = SinkSpec.recorded.asScala.toSeq
  def reset(): Unit = SinkSpec.recorded.clear()

  val cfg = EsSink.Config("http://es:9200/idx", "user", "p@ss:word", "id")

  test("batch-progress marker: a replayed micro-batch sends ZERO documents; new batches flow") {
    SinkSpec.docs.clear()
    reset()
    val store = new SinkSpec.DocStore
    def nonProgressSends(): Seq[EsSink.Request] =
      recorded.filter(r => r.method != "GET"
        && !r.url.contains("_graft_progress"))

    // batch 0: one delete + one upsert land, then the marker publishes
    val out0 = EsSink.applyKeyedBatch("vw", 0L,
      Seq(9L).toDF("id"), Seq((1L, "a")).toDF("id", "v"), cfg, store)
    assert(out0.isDefined, "an unseen batch must apply")
    assert(nonProgressSends().map(_.method).sorted == Seq("DELETE", "PUT"))
    assert(EsSink.readProgress(cfg, store, "vw").contains(0L))

    // REPLAY of batch 0 (crash after checkpoint-commit raced the sink):
    // the marker already covers it — zero documents re-sent
    reset()
    val replay = EsSink.applyKeyedBatch("vw", 0L,
      Seq(9L).toDF("id"), Seq((1L, "a")).toDF("id", "v"), cfg, store)
    assert(replay.isEmpty, "a delivered batch must be skipped")
    assert(nonProgressSends().isEmpty,
      s"replayed batch must send nothing, sent ${nonProgressSends()}")

    // the NEXT batch applies and advances the marker
    reset()
    assert(EsSink.applyKeyedBatch("vw", 1L,
      spark.emptyDataset[Long].toDF("id"),
      Seq((2L, "b")).toDF("id", "v"), cfg, store).isDefined)
    assert(nonProgressSends().map(_.method) == Seq("PUT"))
    assert(EsSink.readProgress(cfg, store, "vw").contains(1L))

    // markers are PER PIPELINE: another pipeline's batch 0 still applies
    reset()
    assert(EsSink.applyKeyedBatch("other", 0L,
      spark.emptyDataset[Long].toDF("id"),
      Seq((3L, "c")).toDF("id", "v"), cfg, store).isDefined)
    assert(nonProgressSends().map(_.method) == Seq("PUT"))
  }

  test("dead-letter hook runs BEFORE the marker publishes; a failed hook leaves the batch re-appliable") {
    SinkSpec.docs.clear()
    reset()
    val store = new SinkSpec.DocStore
    // S6 ordering: were the marker written first, a crash between it and
    // the caller's dead-letter persist would skip the batch on replay and
    // lose the undeliverable rows forever
    var markerAtHookTime: Option[Long] = Some(-1L)
    assert(EsSink.applyKeyedBatch("dl", 0L,
      spark.emptyDataset[Long].toDF("id"),
      Seq((1L, "a")).toDF("id", "v"), cfg, store,
      onDeadLetters = (_, _) =>
        markerAtHookTime = EsSink.readProgress(cfg, store, "dl")).isDefined)
    assert(markerAtHookTime.isEmpty,
      s"hook must run before the marker write, saw $markerAtHookTime")
    assert(EsSink.readProgress(cfg, store, "dl").contains(0L))

    // a hook that throws (dead-letter persist failed) must NOT publish
    // the marker: the replay re-sends (idempotent) and re-persists
    intercept[RuntimeException] {
      EsSink.applyKeyedBatch("dl", 1L,
        spark.emptyDataset[Long].toDF("id"),
        Seq((2L, "b")).toDF("id", "v"), cfg, store,
        onDeadLetters = (_, _) => throw new RuntimeException("disk full"))
    }
    assert(EsSink.readProgress(cfg, store, "dl").contains(0L),
      "failed hook must leave the marker at the previous batch")
    assert(EsSink.applyKeyedBatch("dl", 1L,
      spark.emptyDataset[Long].toDF("id"),
      Seq((2L, "b")).toDF("id", "v"), cfg, store).isDefined,
      "the batch must re-apply after the failed persist")
  }

  test("single upsert → PUT _doc/{id} with raw-base64 basic auth") {
    reset()
    EsSink.upsert(Seq((7L, "a")).toDF("id", "v"), cfg, new Recorder)
    val Seq(req) = recorded
    assert(req.method == "PUT")
    assert(req.url == "http://es:9200/idx/_doc/7")
    assert(req.body == """{"id":7,"v":"a"}""")
    // raw user:pass, NOT url-encoded (reference bug §2.4.4)
    val expected = java.util.Base64.getEncoder.encodeToString(
      "user:p@ss:word".getBytes("UTF-8"))
    assert(req.headers("Authorization") == s"Basic $expected")
  }

  test("bulk upsert → POST /_bulk NDJSON (reference misspells _bluk)") {
    reset()
    EsSink.upsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1),
      cfg, new Recorder)
    val Seq(req) = recorded
    assert(req.method == "POST")
    assert(req.url == "http://es:9200/idx/_bulk")
    val lines = req.body.trim.split("\n")
    assert(lines.length == 4)
    assert(lines(0) == """{"index":{"_id":"1"}}""")
    assert(lines(1) == """{"id":1,"v":"a"}""")
    assert(lines(2) == """{"index":{"_id":"2"}}""")
  }

  test("deletes: single → DELETE _doc/{id}; bulk → NDJSON delete actions") {
    reset()
    EsSink.delete(Seq(Tuple1(5L)).toDF("id"), cfg, new Recorder)
    assert(recorded.head.method == "DELETE")
    assert(recorded.head.url == "http://es:9200/idx/_doc/5")
    reset()
    EsSink.delete(Seq(Tuple1(1L), Tuple1(2L)).toDF("id").coalesce(1),
      cfg, new Recorder)
    assert(recorded.head.body ==
      "{\"delete\":{\"_id\":\"1\"}}\n{\"delete\":{\"_id\":\"2\"}}\n")
  }

  test("CDC pipeline applies LWW batch as deletes + upserts") {
    reset()
    def ev(op: String, id: Long, v: String, ts: Long, off: Long) = {
      val after = if (op == "d") "null" else s"""{"id":$id,"v":"$v"}"""
      (s"""{"payload":{"before":{"id":$id,"v":"x"},"after":$after,""" +
        s""""source":{"db":"d","table":"t","ts_ms":$ts},"op":"$op","ts_ms":$ts}}""", off)
    }
    val feed = Seq(
      ev("c", 1, "a", 1, 1), ev("u", 1, "b", 2, 2),
      ev("c", 2, "z", 1, 3), ev("d", 2, "-", 9, 4)).toDF("value", "offset")
    val pipe = CdcPipeline("t", Subscription(Set("d"), Set("t")),
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      "id")
    pipe.applyBatch(pipe.changeRows(feed), cfg, new Recorder)
    val byMethod = recorded.groupBy(_.method)
    assert(byMethod("DELETE").map(_.url) == Seq("http://es:9200/idx/_doc/2"))
    assert(byMethod("PUT").head.body == """{"id":1,"v":"b"}""")
  }

  test("string ids are JSON-escaped in bulk bodies and percent-encoded in paths") {
    reset()
    val cfgS = cfg.copy(idKey = "k")
    EsSink.upsert(Seq(("a b/c\"d", "x")).toDF("k", "v"), cfgS, new Recorder)
    val Seq(put) = recorded
    assert(put.url == "http://es:9200/idx/_doc/a%20b%2Fc%22d")
    reset()
    EsSink.upsert(Seq(("q\"1", "x"), ("q\\2", "y")).toDF("k", "v").coalesce(1),
      cfgS, new Recorder)
    val lines = recorded.head.body.trim.split("\n")
    assert(lines(0) == """{"index":{"_id":"q\"1"}}""")
    assert(lines(2) == """{"index":{"_id":"q\\2"}}""")
  }

  test("transient failures retry with backoff, then succeed: no dead letters") {
    reset(); SinkSpec.scriptCalls.set(0)
    SinkSpec.script = Seq(-1, 503, 200) // throw, 503, then success
    val fast = cfg.copy(backoffMs = 1)
    val dead = EsSink.upsert(Seq((1L, "a")).toDF("id", "v").coalesce(1),
      fast, new SinkSpec.Scripted)
    assert(dead.count() == 0)
    assert(recorded.length == 3) // two retried attempts + success
  }

  test("exhausted retries produce the dead-letter frame, not an exception") {
    reset(); SinkSpec.scriptCalls.set(0)
    SinkSpec.script = Seq(503)
    val fast = cfg.copy(backoffMs = 1, maxRetries = 2)
    val dead = EsSink.upsert(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1),
      fast, new SinkSpec.Scripted)
    assert(recorded.length == 3) // initial + 2 retries
    val rows = dead.select("id", "error").as[(String, String)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("1", "2")) // whole chunk dead-lettered
    assert(rows.head._2.contains("HTTP 503"))
    assert(rows.head._2.contains("3 attempts"))
  }

  test("permanent 4xx dead-letters immediately without retry") {
    reset(); SinkSpec.scriptCalls.set(0)
    SinkSpec.script = Seq(400)
    val dead = EsSink.delete(Seq(Tuple1(9L)).toDF("id"), cfg, new SinkSpec.Scripted)
    assert(recorded.length == 1) // no retries
    assert(dead.select("error").as[String].head().contains("HTTP 400"))
  }

  test("pipeline dead-letter dir captures undeliverable records; stream survives") {
    reset(); SinkSpec.scriptCalls.set(0)
    SinkSpec.script = Seq(500)
    val dlDir = java.nio.file.Files.createTempDirectory("graft_dl_").toString + "/dl"
    val pipe = CdcPipeline("dl", Subscription(Set("d"), Set("t")),
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      "id", deadLetterDir = Some(dlDir))
    def ev(op: String, id: Long, v: String, ts: Long, off: Long) =
      (s"""{"payload":{"before":null,"after":{"id":$id,"v":"$v"},""" +
        s""""source":{"db":"d","table":"t","ts_ms":$ts},"op":"$op","ts_ms":$ts}}""", off)
    val feed = Seq(ev("c", 1, "a", 1, 1)).toDF("value", "offset")
    val fast = cfg.copy(backoffMs = 1, maxRetries = 1)
    pipe.applyBatch(pipe.changeRows(feed), fast, new SinkSpec.Scripted) // no throw
    val dead = spark.read.parquet(dlDir)
    assert(dead.count() == 1)
    val row = dead.select("record", "error", "pipeline").head()
    assert(row.getString(0).contains("\"v\":\"a\""))
    assert(row.getString(1).contains("HTTP 500"))
    assert(row.getString(2) == "dl")
  }

  test("JDBC sink: append and merge-upsert against embedded Derby") {
    val url = s"jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE target (\"id\" BIGINT NOT NULL PRIMARY KEY, \"v\" VARCHAR(20))")
    conn.close()

    JdbcSink.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), url, "target")
    assert(spark.read.jdbc(url, "target", new java.util.Properties()).count() == 2)

    JdbcSink.upsertViaStaging(
      Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), url, "target", Seq("id"))
    val rows = spark.read.jdbc(url, "target", new java.util.Properties())
      .as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("CDC deltas maintain a JDBC aggregate view incrementally (foreachBatch + additive MERGE)") {
    import graft.cdc.IncrementalAgg
    import graft.streaming.StatefulLww
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types._
    val url = s"jdbc:derby:memory:graftview;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE agg_view ("g" VARCHAR(10) NOT NULL PRIMARY KEY,
        | "n_rows" BIGINT, "total_dec" DECIMAL(18,2))""".stripMargin.replace("\n", ""))
    c0.close()

    val rowSchema = StructType(Seq(StructField("id", LongType),
      StructField("g", StringType), StructField("x", DoubleType)))
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[StatefulLww.In]
    val q = StatefulLww.deltaStream(mem.toDF()
        .withColumnRenamed("tsMs", "ts_ms")
        .withColumnRenamed("rowJson", "after")).writeStream
      .outputMode("append")
      .foreachBatch {
        (deltas: org.apache.spark.sql.Dataset[StatefulLww.Delta], batchId: Long) =>
          JdbcSink.mergeAdditive(
            IncrementalAgg.contributions(deltas.toDF(), rowSchema, "g", "x"),
            url, "agg_view", Seq("g"), Seq("n_rows", "total_dec"), "n_rows",
            stagingColumnTypes = "g VARCHAR(10)", batchId = batchId)
          ()
      }.start()
    def in(k: Long, ts: Long, off: Long, op: String, g: String, x: Double) =
      StatefulLww.In(k, ts, off, op,
        if (op == "d") null else s"""{"id":$k,"g":"$g","x":$x}""")
    def view(): Map[String, (Long, BigDecimal)] =
      spark.read.jdbc(url, "agg_view", new java.util.Properties())
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap

    // batch 1: three inserts across two groups
    mem.addData(in(1, 10, 1, "c", "a", 1.50), in(2, 10, 2, "c", "a", 2.25),
      in(3, 10, 3, "c", "b", 4.00))
    q.processAllAvailable()
    assert(view() == Map("a" -> ((2L, BigDecimal("3.75"))), "b" -> ((1L, BigDecimal("4.00")))))

    // batch 2: pure update (count net 0, money moves) + group MOVE 1: a->b
    mem.addData(in(2, 20, 4, "u", "a", 2.75), in(1, 20, 5, "u", "b", 1.50))
    q.processAllAvailable()
    assert(view() == Map("a" -> ((1L, BigDecimal("2.75"))), "b" -> ((2L, BigDecimal("5.50")))))

    // batch 3: delete the last 'a' row — the group leaves the view
    mem.addData(in(2, 30, 6, "d", "", 0))
    q.processAllAvailable()
    q.stop()
    assert(view() == Map("b" -> ((2L, BigDecimal("5.50")))))

    // at-least-once REPLAY of an applied batch id: the progress marker
    // rolls the whole transaction back — no double count
    JdbcSink.mergeAdditive(
      Seq(("b", 2L, BigDecimal("5.50"))).toDF("g", "n_rows", "total_dec"),
      url, "agg_view", Seq("g"), Seq("n_rows", "total_dec"), "n_rows",
      stagingColumnTypes = "g VARCHAR(10)", batchId = 1L)
    assert(view() == Map("b" -> ((2L, BigDecimal("5.50")))), "replay must be a no-op")
    // a NEW batch id still applies
    JdbcSink.mergeAdditive(
      Seq(("b", 1L, BigDecimal("0.50"))).toDF("g", "n_rows", "total_dec"),
      url, "agg_view", Seq("g"), Seq("n_rows", "total_dec"), "n_rows",
      stagingColumnTypes = "g VARCHAR(10)", batchId = 99L)
    assert(view() == Map("b" -> ((3L, BigDecimal("6.00")))))
  }

  test("fixed-name staging writers serialize per (url, table): concurrent applyViewDeltas/upsertViaStaging/mergeAdditive converge exactly") {
    // the r14 race class: every merge flavor stages through FIXED
    // `<table>_stage` names, so without the per-(url, table) lock a
    // concurrent caller overwrites another's staging mid-transaction
    // and rows silently vanish. Drive all three flavors from many
    // threads and assert the exact final state — on a lock regression
    // this fails with missing/ghost rows, not a hang.
    val url = "jdbc:derby:memory:graftlock;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      "CREATE TABLE serve (\"id\" BIGINT NOT NULL PRIMARY KEY, \"v\" VARCHAR(20))")
    c0.createStatement().execute(
      "CREATE TABLE serve_add (\"id\" BIGINT NOT NULL PRIMARY KEY, \"n\" BIGINT)")
    c0.close()

    val pool = java.util.concurrent.Executors.newFixedThreadPool(10)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    def keys(t: Int): Seq[Long] = (0 until 20).map(i => t * 100L + i)

    // threads 0-2: keyed view deltas (upsert round, then a mixed
    // delete-evens + upsert-odds round) — the applyViewDeltas path
    val viewFs = (0 to 2).map { t =>
      scala.concurrent.Future {
        JdbcSink.applyViewDeltas(
          keys(t).map(k => ("upsert", k, s"t$t-r1")).toDF("action", "id", "v"),
          url, "serve", Seq("id"))
        val r2 = keys(t).map { k =>
          if (k % 2 == 0) ("delete", k, null: String)
          else ("upsert", k, s"t$t-r2")
        }
        JdbcSink.applyViewDeltas(r2.toDF("action", "id", "v"),
          url, "serve", Seq("id"))
      }
    }
    // threads 3-5: plain upsert-merge on the SAME table (the mixed-
    // flavor race the porting note describes), disjoint key ranges
    val upsertFs = (3 to 5).map { t =>
      scala.concurrent.Future {
        JdbcSink.upsertViaStaging(
          keys(t).map(k => (k, s"t$t-r1")).toDF("id", "v"),
          url, "serve", Seq("id"))
        JdbcSink.upsertViaStaging(
          keys(t).map(k => (k, s"t$t-r2")).toDF("id", "v"),
          url, "serve", Seq("id"))
      }
    }
    // 4 additive writers × 5 batches, all adding 1 to the SAME 10
    // keys of a second table — a dropped staging loses a whole +1
    val addFs = (0 until 4).map { _ =>
      scala.concurrent.Future {
        (0 until 5).foreach { _ =>
          JdbcSink.mergeAdditive(
            (0 until 10).map(k => (k.toLong, 1L)).toDF("id", "n"),
            url, "serve_add", Seq("id"), Seq("n"), "n")
        }
      }
    }
    import scala.concurrent.duration._
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(viewFs ++ upsertFs ++ addFs), 120.seconds)
    pool.shutdown()

    val serve = spark.read.jdbc(url, "serve", new java.util.Properties())
      .as[(Long, String)].collect().toMap
    val expected =
      (0 to 2).flatMap(t => keys(t).filter(_ % 2 == 1).map(_ -> s"t$t-r2")) ++
        (3 to 5).flatMap(t => keys(t).map(_ -> s"t$t-r2"))
    assert(serve == expected.toMap)
    val add = spark.read.jdbc(url, "serve_add", new java.util.Properties())
      .as[(Long, Long)].collect().toMap
    assert(add == (0 until 10).map(k => k.toLong -> 20L).toMap)
  }

  test("FileDocStore: bulk/single writes land as durable files, deletes remove, marker round-trips across instances") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fds_").toString
    val t = new EsSink.FileDocStore(dir)
    def exists(encId: String) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s"$encId.json"))
    // bulk upserts (incl. an id needing path-encoding), then bulk delete
    assert(t.send(EsSink.Request("POST", s"${cfg.url}/_bulk", Map(),
      EsSink.bulkUpsertBody(Seq(
        "a" -> """{"v":1}""", "b" -> """{"v":2}""",
        "c d" -> """{"v":3}""")))) == 200)
    assert(t.send(EsSink.Request("POST", s"${cfg.url}/_bulk", Map(),
      EsSink.bulkDeleteBody(Seq("b")))) == 200)
    // single-document PUT and DELETE (the size-1 request shape)
    assert(t.send(EsSink.Request("PUT", s"${cfg.url}/_doc/e", Map(),
      """{"v":9}""")) == 200)
    assert(exists("a") && !exists("b") && exists("c%20d") && exists("e"))
    assert(t.send(EsSink.Request("DELETE", s"${cfg.url}/_doc/e", Map(),
      "")) == 200)
    assert(!exists("e"))
    assert(t.get(s"${cfg.url}/_doc/a", Map()) ==
      ((200, """{"found":true,"_source":{"v":1}}""")))
    assert(t.get(s"${cfg.url}/_doc/zz", Map())._1 == 404)
    // the progress marker persists — a NEW transport over the same dir
    // (the restart case) reads it, so replays skip the batch
    EsSink.writeProgress(cfg, t, "p1", 7L)
    assert(EsSink.readProgress(cfg, new EsSink.FileDocStore(dir), "p1")
      == Some(7L))
  }

  test("FileDocStore: a store dir removed between two puts on one instance is re-created, and the second put lands") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fds_rm_")
      .resolve("store")
    val t = new EsSink.FileDocStore(dir.toString)
    assert(t.send(EsSink.Request("PUT", s"${cfg.url}/_doc/a", Map(),
      """{"v":1}""")) == 200)
    // removed from outside mid-drive (the instance already created it)
    java.nio.file.Files.delete(dir.resolve("a.json"))
    java.nio.file.Files.delete(dir)
    assert(t.send(EsSink.Request("PUT", s"${cfg.url}/_doc/b", Map(),
      """{"v":2}""")) == 200)
    assert(t.get(s"${cfg.url}/_doc/b", Map()) ==
      ((200, """{"found":true,"_source":{"v":2}}""")))
  }
}

object SinkSpec {
  val recorded: java.util.List[EsSink.Request] =
    Collections.synchronizedList(new java.util.ArrayList[EsSink.Request]())

  /** Serializable recorder: requests from executor threads land in a
    * static synchronized list (tests run local-mode, one JVM). Top-level
    * so the closure does not capture the suite instance.
    */
  class Recorder extends EsSink.Transport {
    def send(req: EsSink.Request): Int = { recorded.add(req); 200 }
  }

  /** Scripted transport: returns (or throws) the next entry of `script`
    * per send, recording every attempt; repeats the last entry when the
    * script is exhausted. Entries: status code, or -1 to throw.
    */
  val scriptCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var script: Seq[Int] = Seq(200)
  class Scripted extends EsSink.Transport {
    def send(req: EsSink.Request): Int = {
      recorded.add(req)
      val i = scriptCalls.getAndIncrement()
      val s = script(math.min(i, script.length - 1))
      if (s < 0) throw new java.io.IOException("connection refused")
      s
    }
  }

  /** Minimal document-store transport: PUT _doc/{id} persists the body
    * in a STATIC map (closure copies on executors share it — one JVM),
    * GET _doc/{id} serves it back in ES's `_source` envelope, 404 when
    * absent. What the batch-progress protocol needs to be testable
    * end-to-end without a cluster.
    */
  val docs: java.util.concurrent.ConcurrentHashMap[String, String] =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  class DocStore extends EsSink.Transport {
    def send(req: EsSink.Request): Int = {
      recorded.add(req)
      if (req.method == "PUT" && req.url.contains("/_doc/"))
        docs.put(req.url.split("/_doc/").last, req.body)
      200
    }
    override def get(url: String,
        headers: Map[String, String]): (Int, String) =
      Option(docs.get(url.split("/_doc/").last)) match {
        case Some(b) => (200, s"""{"found":true,"_source":$b}""")
        case None => (404, "")
      }
  }
}
