package graft

import graft.cdc.IncrementalJoin
import graft.streaming.{PipelineRegistry, ViewPipeline}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Registry-declared VIEW pipelines (conf kind "view"): bronze feed →
  * per-table LWW delta logs → ordered Δ(fact⋈dim) → typed JDBC serving
  * table, incremental across invocations. Plus the seq-ordered join
  * fold the file-stream composition depends on.
  */
class ViewPipelineSpec extends SparkSpec {
  /** Drain each registered view once under its conf-file-keyed work dir
    * (the checkpoint-identity rule of [[PipelineRegistry.ckptKey]]).
    */
  private def runViews(entries: Seq[PipelineRegistry.Entry], feedDir: String,
      workRoot: String, esTransport: graft.sinks.EsSink.Transport =
        new graft.sinks.EsSink.HttpTransport): Unit =
    entries.foreach(e => e.pipeline.asInstanceOf[ViewPipeline].runOnce(spark,
      feedDir, s"$workRoot/${PipelineRegistry.ckptKey(e.file)}", esTransport))

  import spark.implicits._

  private case class SeqDelta(key: Long, action: String, rowJson: String,
      prevJson: String, seq: Long)

  private def f(okey: Long, cust: Long, v: String) =
    s"""{"okey":$okey,"cust":$cust,"v":"$v"}"""
  private def d(cust: Long, name: String) =
    s"""{"cust":$cust,"name":"$name"}"""

  test("viewDeltaStream applies several source batches per key in seq order") {
    implicit val ctx = spark.sqlContext
    val facts = MemoryStream[SeqDelta]
    val dims = MemoryStream[SeqDelta]
    val q = IncrementalJoin.viewDeltaStream(
      facts.toDF(), dims.toDF(), "cust", "cust").writeStream
      .format("memory").queryName("ordered_view").outputMode("append").start()
    try {
      // ONE micro-batch carrying three source batches for cust 1:
      //   seq 0: fact 10 inserted, dim = A
      //   seq 1: dim renamed to B
      //   seq 2: fact 10 updated
      // applied in seq order the final enriched row is (x2, B); applied
      // in any other order (e.g. seq 2 first, then 1, then 0's stale dim
      // A winning) the result is wrong — this is exactly the catch-up
      // shape a resumed file stream over a multi-batch log delivers.
      facts.addData(
        SeqDelta(10, "upsert", f(10, 1, "x"), null, 0),
        SeqDelta(10, "upsert", f(10, 1, "x2"), f(10, 1, "x"), 2))
      dims.addData(
        SeqDelta(1, "upsert", d(1, "A"), null, 0),
        SeqDelta(1, "upsert", d(1, "B"), d(1, "A"), 1))
      q.processAllAvailable()
      val out = spark.table("ordered_view")
        .as[IncrementalJoin.ViewDelta].collect().toSeq
      assert(out == Seq(
        IncrementalJoin.ViewDelta(10, "upsert", f(10, 1, "x2"), d(1, "B"),
          null, null)),
        "catch-up emission must collapse to the final enriched row")

      // a later micro-batch with an insert-then-delete pair (seq 3, 4)
      // nets out: state empty, nothing emitted for fact 11, and the live
      // fact 10 is untouched
      facts.addData(
        SeqDelta(11, "upsert", f(11, 1, "y"), null, 3),
        SeqDelta(11, "delete", null, f(11, 1, "y"), 4))
      q.processAllAvailable()
      val out2 = spark.table("ordered_view")
        .as[IncrementalJoin.ViewDelta].collect().toSeq
      assert(out2 == out, "insert-then-delete across seqs must net to nothing")
    } finally q.stop()
  }

  test("viewDeltaStream: value-identical fact re-application re-emits; unchanged dim stays suppressed") {
    implicit val ctx = spark.sqlContext
    val facts = MemoryStream[SeqDelta]
    val dims = MemoryStream[SeqDelta]
    val q = IncrementalJoin.viewDeltaStream(
      facts.toDF(), dims.toDF(), "cust", "cust").writeStream
      .format("memory").queryName("ordered_touch").outputMode("append").start()
    try {
      facts.addData(SeqDelta(10, "upsert", f(10, 1, "x"), null, 0))
      dims.addData(SeqDelta(1, "upsert", d(1, "A"), null, 0))
      q.processAllAvailable()
      assert(spark.table("ordered_touch").count() == 1)
      // the keyed-replay shape: LWW re-emits the fact's unchanged truth
      // at a fresh epoch (rowJson == prevJson) — the join must pass it
      // through so a store that diverged (enforcement withheld the row)
      // can reconverge; prev carries the identical row
      facts.addData(SeqDelta(10, "upsert", f(10, 1, "x"), f(10, 1, "x"), 1))
      q.processAllAvailable()
      val out = spark.table("ordered_touch")
        .as[IncrementalJoin.ViewDelta].collect().toSeq
      assert(out.size == 2 && out.last == IncrementalJoin.ViewDelta(
        10, "upsert", f(10, 1, "x"), d(1, "A"), f(10, 1, "x"), d(1, "A")),
        s"fact re-application must re-emit, got $out")
      // an unchanged DIM touch still emits nothing — re-emitting would
      // fan out to every fact of the key (the suppression that matters)
      dims.addData(SeqDelta(1, "upsert", d(1, "A"), d(1, "A"), 2))
      q.processAllAvailable()
      assert(spark.table("ordered_touch").count() == 2,
        "unchanged dim must not fan out re-emissions")
    } finally q.stop()
  }

  test("viewDeltaStream: a relation without a seq column folds as seq 0") {
    import graft.streaming.StatefulLww.Delta
    implicit val ctx = spark.sqlContext
    // one micro-batch, one delta per key: an insert, an update, a delete
    // and a fact whose dim never arrives (left outer: null-enriched)
    val fs = Seq((10L, "upsert", f(10, 1, "x"), null),
      (11L, "upsert", f(11, 1, "y2"), f(11, 2, "y")),
      (12L, "delete", null, f(12, 1, "z")),
      (13L, "upsert", f(13, 3, "w"), null))
    val ds = Seq((1L, "upsert", d(1, "A"), null),
      (2L, "upsert", d(2, "B"), null))
    // all data lands before the start, so both sides form the first batch
    def emitted(name: String, facts: org.apache.spark.sql.DataFrame,
        dims: org.apache.spark.sql.DataFrame): Set[IncrementalJoin.ViewDelta] = {
      val q = IncrementalJoin.viewDeltaStream(facts, dims, "cust", "cust",
          leftOuter = true).writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try {
        q.processAllAvailable()
        spark.table(name).as[IncrementalJoin.ViewDelta].collect().toSet
      } finally q.stop()
    }
    val sf = MemoryStream[SeqDelta]
    val sd = MemoryStream[SeqDelta]
    sf.addData(fs.map(t => SeqDelta(t._1, t._2, t._3, t._4, 0)): _*)
    sd.addData(ds.map(t => SeqDelta(t._1, t._2, t._3, t._4, 0)): _*)
    val withSeq = emitted("seq_view", sf.toDF(), sd.toDF())
    val pf = MemoryStream[Delta]
    val pd = MemoryStream[Delta]
    pf.addData(fs.map(t => Delta(t._1, t._2, t._3, t._4)): _*)
    pd.addData(ds.map(t => Delta(t._1, t._2, t._3, t._4)): _*)
    val without = emitted("plain_view", pf.toDF(), pd.toDF())
    assert(withSeq == Set(
      IncrementalJoin.ViewDelta(10, "upsert", f(10, 1, "x"), d(1, "A"), null, null),
      IncrementalJoin.ViewDelta(11, "upsert", f(11, 1, "y2"), d(1, "A"), null, null),
      IncrementalJoin.ViewDelta(13, "upsert", f(13, 3, "w"), null, null, null)),
      s"got $withSeq")
    assert(without == withSeq)
  }

  test("registry parses view confs; lww loader skips them") {
    val confDir = Files.createTempDirectory("graft_viewconf_").toFile
    Files.write(new java.io.File(confDir, "v.json").toPath, Seq(
      """{"kind":"view","name":"enr","databases":["shop"],"leftOuter":true,
        |"fact":{"table":"orders","idKey":"o_orderkey","joinKey":"o_custkey",
        |        "schema":"o_orderkey BIGINT, o_custkey BIGINT, o_total DOUBLE"},
        |"dim":{"table":"customer","idKey":"c_custkey","joinKey":"c_custkey",
        |       "schema":"c_custkey BIGINT, c_name STRING"},
        |"jdbc":{"url":"jdbc:derby:memory:x","table":"enriched",
        |        "stagingColumnTypes":"c_name VARCHAR(64)"}}"""
        .stripMargin.replace("\n", "")).asJava)
    Files.write(new java.io.File(confDir, "w.json").toPath, Seq(
      """{"name":"t1","databases":["d"],"tables":["t"],"idKey":"id","schema":"id BIGINT"}""").asJava)

    val views = registered[ViewPipeline](confDir.toString)
    assert(views.map(_.name) == Seq("enr"))
    val v = views.head
    assert(v.leftOuter && v.factJoinField == "o_custkey"
      && v.dimTable == "customer")
    assert(v.target == graft.streaming.JdbcTarget("jdbc:derby:memory:x",
      "enriched", Some("c_name VARCHAR(64)")))
    // the LWW loader must not try to build the view conf (it has no
    // idKey/schema at the top level and would fail fast)
    assert(registered[graft.streaming.CdcPipeline](confDir.toString)
      .map(_.name) == Seq("t1"))
  }

  test("watcher lifecycle is kind-scoped: a view conf never busy-loops an LWW watcher") {
    val confDir = Files.createTempDirectory("graft_kindconf_").toFile
    val lwwConf = new java.io.File(confDir, "a_lww.json")
    Files.write(lwwConf.toPath, Seq(
      """{"name":"t1","databases":["d"],"tables":["t"],"idKey":"id","schema":"id BIGINT"}""").asJava)
    val viewConf = new java.io.File(confDir, "b_view.json")
    Files.write(viewConf.toPath, Seq(
      """{"kind":"view","name":"v1",
        |"fact":{"table":"o","idKey":"k","joinKey":"j","schema":"k BIGINT, j BIGINT"},
        |"dim":{"table":"c","idKey":"cj","joinKey":"cj","schema":"cj BIGINT, n STRING"},
        |"jdbc":{"url":"jdbc:derby:memory:x","table":"t"}}"""
        .stripMargin.replace("\n", "")).asJava)

    val all = PipelineRegistry.load(confDir.toString)
    assert(all.map(_.pipeline.kind) == Seq("lww", "view"))
    // steady state: no phantom changes (an unscoped-by-kind scan that
    // flagged a conf it never admitted would busy-reload it forever)
    assert(PipelineRegistry.changedSince(all, confDir.toString).isEmpty)
    // a view conf edit surfaces ONLY that conf
    viewConf.setLastModified(viewConf.lastModified() + 5000)
    assert(PipelineRegistry.changedSince(all, confDir.toString)
      == Seq(viewConf.getAbsolutePath))
    // removal surfaces only the removed conf
    assert(viewConf.delete())
    assert(PipelineRegistry.removedSince(all)
      == Seq(viewConf.getAbsolutePath))
  }

  test("LIVE mode: continuous-trigger pipeline follows feed appends to the serving table") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def wire(table: String, after: String, before: String, op: String,
        ts: Long, off: Long): String = {
      val ev = s"""{"payload":{"before":${Option(before).getOrElse("null")},""" +
        s""""after":${Option(after).getOrElse("null")},""" +
        s""""source":{"db":"shop","table":"$table","ts_ms":$ts},"op":"$op","ts_ms":$ts}}"""
      s"""{"value":${mapper.writeValueAsString(ev)},"offset":$off}"""
    }
    def o(okey: Long, cust: Long, total: Double) =
      s"""{"o_orderkey":$okey,"o_custkey":$cust,"o_total":$total}"""
    def c(cust: Long, name: String) =
      s"""{"c_custkey":$cust,"c_name":"$name"}"""

    val url = "jdbc:derby:memory:graftviewlive;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE enriched ("o_orderkey" BIGINT NOT NULL PRIMARY KEY,
        | "o_custkey" BIGINT, "o_total" DOUBLE,
        | "c_custkey" BIGINT, "c_name" VARCHAR(64))"""
        .stripMargin.replace("\n", ""))
    c0.close()

    val pipeline = graft.streaming.ViewPipeline(
      name = "live", databases = Set("shop"),
      factTable = "orders",
      factSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "o_orderkey BIGINT, o_custkey BIGINT, o_total DOUBLE"),
      factIdField = "o_orderkey", factJoinField = "o_custkey",
      dimTable = "customer",
      dimSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "c_custkey BIGINT, c_name STRING"),
      dimIdField = "c_custkey", dimJoinField = "c_custkey",
      leftOuter = false,
      target = graft.streaming.JdbcTarget(url, "enriched",
        Some("c_name VARCHAR(64)")))

    val feedDir = Files.createTempDirectory("graft_viewlive_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_viewlive_work_").toString
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire("customer", c(1, "Alice"), null, "c", 10, 1),
      wire("orders", o(10, 1, 5.0), null, "c", 10, 2)).asJava)

    def serving(): Map[Long, String] =
      spark.read.jdbc(url, "enriched", new java.util.Properties())
        .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    def awaitServing(expect: Map[Long, String]): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (serving() != expect && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(serving() == expect, s"live serving table never reached $expect")
    }

    val queries = pipeline.start(spark, feedDir.toString, workRoot,
      interval = "200 milliseconds")
    try {
      awaitServing(Map(10L -> "Alice"))
      // feed appends flow through without any further driver action
      Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
        wire("customer", c(1, "Alicia"), c(1, "Alice"), "u", 20, 3),
        wire("orders", o(11, 1, 7.0), null, "c", 20, 4)).asJava)
      awaitServing(Map(10L -> "Alicia", 11L -> "Alicia"))
    } finally queries.foreach(_.stop())
  }

  test("ES target: enriched view serves as id-keyed documents (conf-declared)") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def wire(table: String, after: String, before: String, op: String,
        ts: Long, off: Long): String = {
      val ev = s"""{"payload":{"before":${Option(before).getOrElse("null")},""" +
        s""""after":${Option(after).getOrElse("null")},""" +
        s""""source":{"db":"shop","table":"$table","ts_ms":$ts},"op":"$op","ts_ms":$ts}}"""
      s"""{"value":${mapper.writeValueAsString(ev)},"offset":$off}"""
    }
    val confDir = Files.createTempDirectory("graft_viewes_conf_").toFile
    Files.write(new java.io.File(confDir, "es.json").toPath, Seq(
      """{"kind":"view","name":"es_enr","databases":["shop"],
        |"fact":{"table":"orders","idKey":"o_orderkey","joinKey":"o_custkey",
        |        "schema":"o_orderkey BIGINT, o_custkey BIGINT, o_total DOUBLE"},
        |"dim":{"table":"customer","idKey":"c_custkey","joinKey":"c_custkey",
        |       "schema":"c_custkey BIGINT, c_name STRING"},
        |"transform":{"set":[{"field":"c_name","expr":"upper(c_name)"},
        |                    {"field":"margin","expr":"round(o_total * 0.1, 2)"}]},
        |"es":{"url":"http://es:9200/enriched","username":"u","password":"p"}}"""
        .stripMargin.replace("\n", "")).asJava)
    val views = PipelineRegistry.load(confDir.toString)
    assert(views.head.pipeline.asInstanceOf[ViewPipeline].target ==
      graft.streaming.EsTarget("http://es:9200/enriched", "u", "p"))

    val feedDir = Files.createTempDirectory("graft_viewes_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_viewes_work_").toString
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire("customer", """{"c_custkey":1,"c_name":"Alice"}""", null, "c", 10, 1),
      wire("orders", """{"o_orderkey":10,"o_custkey":1,"o_total":5.0}""",
        null, "c", 10, 2)).asJava)
    SinkSpec.recorded.clear()
    runViews(views, feedDir.toString, workRoot,
      esTransport = new SinkSpec.Recorder)
    val puts = SinkSpec.recorded.asScala.toSeq.filter(r =>
      r.method == "PUT" && !r.url.contains("_graft_progress"))
    assert(puts.map(_.url) == Seq("http://es:9200/enriched/_doc/10"))
    val doc = mapper.readTree(puts.head.body)
    // the conf-declared transform reshaped the served document (R12):
    // c_name upper-cased in place, margin derived from o_total
    assert(doc.get("o_orderkey").asLong == 10L
      && doc.get("c_name").asText == "ALICE"
      && doc.get("o_total").asDouble == 5.0
      && doc.get("margin").asDouble == 0.5)

    // a fact delete becomes an id-keyed DELETE on the next run
    Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
      wire("orders", null, """{"o_orderkey":10,"o_custkey":1,"o_total":5.0}""",
        "d", 20, 3)).asJava)
    SinkSpec.recorded.clear()
    runViews(views, feedDir.toString, workRoot,
      esTransport = new SinkSpec.Recorder)
    val dels = SinkSpec.recorded.asScala.toSeq.filter(_.method == "DELETE")
    assert(dels.map(_.url) == Seq("http://es:9200/enriched/_doc/10"))
  }

  test("side logs ride StateLog: per-batch writes are churn-sized, compaction publishes a base and prunes history, serving stays correct") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def wire(table: String, after: String, before: String, op: String,
        ts: Long, off: Long): String = {
      val ev = s"""{"payload":{"before":${Option(before).getOrElse("null")},""" +
        s""""after":${Option(after).getOrElse("null")},""" +
        s""""source":{"db":"shop","table":"$table","ts_ms":$ts},"op":"$op","ts_ms":$ts}}"""
      s"""{"value":${mapper.writeValueAsString(ev)},"offset":$off}"""
    }
    def o(okey: Long, cust: Long, total: Double) =
      s"""{"o_orderkey":$okey,"o_custkey":$cust,"o_total":$total}"""
    def c(cust: Long, name: String) =
      s"""{"c_custkey":$cust,"c_name":"$name"}"""

    val url = "jdbc:derby:memory:graftviewstatelog;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE enriched ("o_orderkey" BIGINT NOT NULL PRIMARY KEY,
        | "o_custkey" BIGINT, "o_total" DOUBLE,
        | "c_custkey" BIGINT, "c_name" VARCHAR(64))"""
        .stripMargin.replace("\n", ""))
    c0.close()

    // compactEvery=1 forces base-generation compaction between waves so
    // the post-compaction resume path is what wave 3 exercises
    val pipeline = graft.streaming.ViewPipeline(
      name = "slog", databases = Set("shop"),
      factTable = "orders",
      factSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "o_orderkey BIGINT, o_custkey BIGINT, o_total DOUBLE"),
      factIdField = "o_orderkey", factJoinField = "o_custkey",
      dimTable = "customer",
      dimSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "c_custkey BIGINT, c_name STRING"),
      dimIdField = "c_custkey", dimJoinField = "c_custkey",
      leftOuter = false,
      target = graft.streaming.JdbcTarget(url, "enriched",
        Some("c_name VARCHAR(64)")),
      compactEvery = 1)

    val feedDir = Files.createTempDirectory("graft_viewslog_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_viewslog_work_").toString
    def serving(): Map[Long, Double] =
      spark.read.jdbc(url, "enriched", new java.util.Properties())
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val factBase = new java.io.File(s"$workRoot/log_fact")
    def factBatchDirs(): Map[Long, java.io.File] =
      Option(new java.io.File(factBase, "log").listFiles())
        .getOrElse(Array.empty).filter(_.getName.startsWith("batch_id="))
        .map(f => f.getName.stripPrefix("batch_id=").toLong -> f).toMap

    // wave 0: the corpus — one customer, three orders
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire("customer", c(1, "Alice"), null, "c", 10, 1),
      wire("orders", o(10, 1, 5.0), null, "c", 10, 2),
      wire("orders", o(11, 1, 7.0), null, "c", 10, 3),
      wire("orders", o(12, 1, 9.0), null, "c", 10, 4)).asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    assert(serving() == Map(10L -> 5.0, 11L -> 7.0, 12L -> 9.0))

    // wave 1: one more order → the log now holds 2 batches > compactEvery
    // → runOnce's closing compaction folds them into a base generation
    // and PRUNES the folded-in dirs
    Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
      wire("orders", o(13, 1, 2.0), null, "c", 20, 5)).asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    assert(serving() == Map(10L -> 5.0, 11L -> 7.0, 12L -> 9.0, 13L -> 2.0))
    val cur = java.nio.file.Files.readString(
      factBase.toPath.resolve("CURRENT")).trim.split("\\s+")
    assert(cur(0).startsWith("gen_"),
      s"compaction must publish a base generation, got ${cur.toSeq}")
    assert(factBatchDirs().keySet.forall(_ > cur(1).toLong),
      "folded-in log batch dirs must be pruned")
    // the base holds exactly the LIVE fact rows (one upsert per key)
    assert(spark.read.parquet(
      s"$workRoot/log_fact/base/${cur(0)}").count() == 4)

    // wave 2: churn of ONE row against a 4-row corpus — the appended
    // log batch must be churn-sized, and history must not rewrite
    Files.write(new java.io.File(feedDir, "002.json").toPath, Seq(
      wire("orders", o(10, 1, 6.0), o(10, 1, 5.0), "u", 30, 6)).asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    assert(serving() == Map(10L -> 6.0, 11L -> 7.0, 12L -> 9.0, 13L -> 2.0),
      "post-compaction churn must flow through to serving")
    val newDirs = factBatchDirs().filter(_._1 > cur(1).toLong)
    assert(newDirs.size == 1, s"exactly the churn batch appended, got ${newDirs.keySet}")
    assert(spark.read.parquet(newDirs.values.head.getPath).count() == 1,
      "per-batch write volume is the churn (1 row), never the corpus")

    // tableState folds base + churn log into the CURRENT side rows
    val facts = pipeline.tableState(spark, workRoot, "fact").collect()
      .map(r => r.getLong(0) ->
        mapper.readTree(r.getString(1)).get("o_total").asDouble()).toMap
    assert(facts == Map(10L -> 6.0, 11L -> 7.0, 12L -> 9.0, 13L -> 2.0),
      s"tableState must fold base + log, got $facts")
  }

  test("E2E: view pipeline serves a typed JDBC table and stays incremental across runs") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def wire(table: String, after: String, before: String, op: String,
        ts: Long, off: Long): String = {
      val ev = s"""{"payload":{"before":${Option(before).getOrElse("null")},""" +
        s""""after":${Option(after).getOrElse("null")},""" +
        s""""source":{"db":"shop","table":"$table","ts_ms":$ts},"op":"$op","ts_ms":$ts}}"""
      s"""{"value":${mapper.writeValueAsString(ev)},"offset":$off}"""
    }
    def o(okey: Long, cust: Long, total: Double) =
      s"""{"o_orderkey":$okey,"o_custkey":$cust,"o_total":$total}"""
    def c(cust: Long, name: String) =
      s"""{"c_custkey":$cust,"c_name":"$name"}"""

    val url = "jdbc:derby:memory:graftviewpipe;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE enriched ("o_orderkey" BIGINT NOT NULL PRIMARY KEY,
        | "o_custkey" BIGINT, "o_total" DOUBLE,
        | "c_custkey" BIGINT, "c_name" VARCHAR(64))"""
        .stripMargin.replace("\n", ""))
    c0.close()

    val confDir = Files.createTempDirectory("graft_viewconf_e2e_").toFile
    Files.write(new java.io.File(confDir, "enr.json").toPath, Seq(
      s"""{"kind":"view","name":"enr","databases":["shop"],"leftOuter":true,
         |"fact":{"table":"orders","idKey":"o_orderkey","joinKey":"o_custkey",
         |        "schema":"o_orderkey BIGINT, o_custkey BIGINT, o_total DOUBLE"},
         |"dim":{"table":"customer","idKey":"c_custkey","joinKey":"c_custkey",
         |       "schema":"c_custkey BIGINT, c_name STRING"},
         |"jdbc":{"url":"$url","table":"enriched",
         |        "stagingColumnTypes":"c_name VARCHAR(64)"}}"""
        .stripMargin.replace("\n", "")).asJava)

    val feedDir = Files.createTempDirectory("graft_viewfeed_").toFile
    val workRoot = Files.createTempDirectory("graft_viewwork_").toString

    // wave 1: two customers, two orders — order 11 references custkey 3,
    // which has no dim row yet (left-outer serves it null-enriched)
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire("customer", c(1, "Alice"), null, "c", 10, 1),
      wire("customer", c(2, "Bob"), null, "c", 10, 2),
      wire("orders", o(10, 1, 5.0), null, "c", 10, 3),
      wire("orders", o(11, 3, 7.0), null, "c", 10, 4)).asJava)

    val views = PipelineRegistry.load(confDir.toString)
    runViews(views, feedDir.toString, workRoot)

    def serving(): Map[Long, (Long, Double, Option[Long], Option[String])] =
      spark.read.jdbc(url, "enriched", new java.util.Properties())
        .collect().map { r =>
          r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            Option(r.getString(4))))
        }.toMap

    assert(serving() == Map(
      10L -> ((1L, 5.0, Some(1L), Some("Alice"))),
      11L -> ((3L, 7.0, None, None))),
      "wave 1: enriched + null-enriched (fact-before-dim) rows")

    // capture the first-run fact-log partition set: run 2 must append new
    // batch_id partitions, not rewrite history
    val factLog = new java.io.File(s"$workRoot/${PipelineRegistry.ckptKey(views.head.file)}/log_fact/log")
    val batchesBefore = factLog.listFiles().map(_.getName)
      .filter(_.startsWith("batch_id=")).toSet

    // wave 2: late dim for custkey 3 (upgrade), dim rename (update wave),
    // fact key-move 1 → 2, fact delete
    Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
      wire("customer", c(3, "Carol"), null, "c", 20, 5),
      wire("customer", c(1, "Alicia"), c(1, "Alice"), "u", 20, 6),
      wire("orders", o(10, 2, 5.0), o(10, 1, 5.0), "u", 20, 7),
      wire("orders", null, o(11, 3, 7.0), "d", 21, 8)).asJava)

    runViews(views, feedDir.toString, workRoot)

    assert(serving() == Map(
      10L -> ((2L, 5.0, Some(2L), Some("Bob")))),
      "wave 2: key-move re-enriches against the new dim; fact delete removes the row")

    val batchesAfter = factLog.listFiles().map(_.getName)
      .filter(_.startsWith("batch_id=")).toSet
    assert(batchesBefore.subsetOf(batchesAfter) && batchesAfter.size > batchesBefore.size,
      "run 2 appends new log batches; first-run history is untouched")
  }

  test("a view conf without databases subscribes to every db: a fact event from db prod serves") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def wire(table: String, after: String, off: Long): String = {
      val ev = s"""{"payload":{"before":null,"after":$after,""" +
        s""""source":{"db":"prod","table":"$table","ts_ms":$off},"op":"c","ts_ms":$off}}"""
      s"""{"value":${mapper.writeValueAsString(ev)},"offset":$off}"""
    }
    val url = "jdbc:derby:memory:graftviewanydb;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE enriched ("o_orderkey" BIGINT NOT NULL PRIMARY KEY,
        | "o_custkey" BIGINT, "c_custkey" BIGINT, "c_name" VARCHAR(64))"""
        .stripMargin.replace("\n", ""))
    c0.close()
    val confDir = Files.createTempDirectory("graft_viewanydb_conf_").toFile
    Files.write(new java.io.File(confDir, "any.json").toPath, Seq(
      s"""{"kind":"view","name":"anydb","leftOuter":true,
         |"fact":{"table":"orders","idKey":"o_orderkey","joinKey":"o_custkey",
         |        "schema":"o_orderkey BIGINT, o_custkey BIGINT"},
         |"dim":{"table":"customer","idKey":"c_custkey","joinKey":"c_custkey",
         |       "schema":"c_custkey BIGINT, c_name STRING"},
         |"jdbc":{"url":"$url","table":"enriched",
         |        "stagingColumnTypes":"c_name VARCHAR(64)"}}"""
        .stripMargin.replace("\n", "")).asJava)
    val views = PipelineRegistry.load(confDir.toString)
    assert(views.head.pipeline.databases.isEmpty)
    val feedDir = Files.createTempDirectory("graft_viewanydb_feed_").toFile
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire("customer", """{"c_custkey":1,"c_name":"Alice"}""", 1),
      wire("orders", """{"o_orderkey":10,"o_custkey":1}""", 2)).asJava)
    runViews(views, feedDir.toString,
      Files.createTempDirectory("graft_viewanydb_work_").toString)
    val served = spark.read.jdbc(url, "enriched", new java.util.Properties())
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(served == Map(10L -> "Alice"), s"got $served")
  }
}
