package graft

import graft.cdc.Bootstrap
import graft.sinks.EsSink
import graft.sources.Jdbc
import graft.streaming.PipelineRegistry
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Config-driven pipeline registry (reference S1 script discovery as
  * data) and the JDBC source + snapshot-bootstrap composition.
  */
class RegistrySpec extends SparkSpec {
  import spark.implicits._

  test("registry discovers confs, builds routed pipelines, fans out one feed") {
    val confDir = Files.createTempDirectory("graft_conf_").toFile
    Files.write(new java.io.File(confDir, "a_orders.json").toPath, Seq(
      """{"name":"t1","databases":["d"],"tables":["t"],"idKey":"id","schema":"id BIGINT, v STRING"}""").asJava)
    Files.write(new java.io.File(confDir, "b_other.json").toPath, Seq(
      """{"name":"t2","databases":["d"],"tables":["u"],"idKey":"id","schema":"id BIGINT, v STRING"}""").asJava)

    val entries = PipelineRegistry.load(confDir.toString)
    assert(entries.map(_.pipeline.name) == Seq("t1", "t2"))
    assert(registered[graft.streaming.CdcPipeline](confDir.toString)
      .head.subscription.tables == Set("t"))

    // one shared feed with events for both tables; each pipeline only
    // sinks its own slice (R11 fan-out + R3 routing, DSv2 pushdown)
    def ev(table: String, id: Long, v: String, off: Long): (String, Long) =
      (s"""{"payload":{"before":null,"after":{"id":$id,"v":"$v"},""" +
        s""""source":{"db":"d","table":"$table","ts_ms":1},"op":"c","ts_ms":1}}""", off)
    val srcDir = Files.createTempDirectory("graft_reg_src_").toString
    Seq(ev("t", 1, "a", 1), ev("u", 2, "b", 2))
      .toDF("value", "offset").coalesce(1).write.mode("overwrite").json(srcDir)

    val ckptRoot = Files.createTempDirectory("graft_reg_ckpt_").toString
    val cfg = EsSink.Config("http://es:9200/idx", "u", "p", "id")
    SinkSpec.recorded.clear()
    val queries = PipelineRegistry.startAll(entries, spark, srcDir, ckptRoot,
      cfg, new SinkSpec.Recorder)
    queries.foreach(_.awaitTermination())
    val puts = SinkSpec.recorded.asScala.toSeq.filter(_.method == "PUT").map(_.body).sorted
    assert(puts == Seq("""{"id":1,"v":"a"}""", """{"id":2,"v":"b"}"""))
  }

  test("changedSince flags new and modified confs for restart (S2 semantics)") {
    val confDir = Files.createTempDirectory("graft_conf2_").toFile
    val f1 = new java.io.File(confDir, "p1.json")
    Files.write(f1.toPath, Seq(
      """{"name":"p1","databases":[],"tables":[],"idKey":"id","schema":"id BIGINT"}""").asJava)
    val entries = PipelineRegistry.load(confDir.toString)
    assert(PipelineRegistry.changedSince(entries, confDir.toString).isEmpty)

    val f2 = new java.io.File(confDir, "p2.json")
    Files.write(f2.toPath, Seq(
      """{"name":"p2","databases":[],"tables":[],"idKey":"id","schema":"id BIGINT"}""").asJava)
    f1.setLastModified(f1.lastModified() + 5000)
    val changed = PipelineRegistry.changedSince(entries, confDir.toString)
    assert(changed.toSet == Set(f1.getAbsolutePath, f2.getAbsolutePath))
  }

  test("conf-declared transform reshapes sink documents; invalid expressions fail fast at registration (R12)") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def wire(id: Long, after: String, before: String, op: String,
        off: Long): String = {
      val ev = s"""{"payload":{"before":${Option(before).getOrElse("null")},""" +
        s""""after":${Option(after).getOrElse("null")},""" +
        s""""source":{"db":"d","table":"t","ts_ms":$off},"op":"$op","ts_ms":$off}}"""
      s"""{"value":${mapper.writeValueAsString(ev)},"offset":$off}"""
    }
    val confDir = Files.createTempDirectory("graft_conf_tx_").toFile
    Files.write(new java.io.File(confDir, "tx.json").toPath, Seq(
      """{"name":"tx","databases":["d"],"tables":["t"],"idKey":"id",
        |"schema":"id BIGINT, v STRING, note STRING",
        |"transform":{"set":[{"field":"v","expr":"upper(row.v)"},
        |                    {"field":"src","expr":"'cdc'"}],
        |             "drop":["note"]}}"""
        .stripMargin.replace("\n", "")).asJava)
    val entries = PipelineRegistry.load(confDir.toString)
    val srcDir = Files.createTempDirectory("graft_tx_src_").toFile
    Files.write(new java.io.File(srcDir, "000.json").toPath, Seq(
      wire(1, """{"id":1,"v":"a","note":"scrub me"}""", null, "c", 1),
      wire(2, """{"id":2,"v":"b","note":"x"}""", null, "c", 2),
      wire(2, null, """{"id":2,"v":"b","note":"x"}""", "d", 3)).asJava)
    SinkSpec.recorded.clear()
    PipelineRegistry.startAll(entries, spark, srcDir.toString,
      Files.createTempDirectory("graft_tx_ckpt_").toString,
      EsSink.Config("http://es:9200/idx", "u", "p", "id"),
      new SinkSpec.Recorder).foreach(_.awaitTermination())
    val puts = SinkSpec.recorded.asScala.toSeq.filter(_.method == "PUT").map(_.body)
    // set entries applied in order, drop removed the field — the sink
    // document is the RESHAPED row, and deletes pass through untouched
    assert(puts == Seq("""{"id":1,"v":"A","src":"cdc"}"""), s"got $puts")
    val dels = SinkSpec.recorded.asScala.toSeq.filter(_.method == "DELETE")
    assert(dels.map(_.url) == Seq("http://es:9200/idx/_doc/2"))

    // a syntactically invalid expression dies at REGISTRATION (S3),
    // before any query exists
    val badDir = Files.createTempDirectory("graft_conf_txbad_").toFile
    Files.write(new java.io.File(badDir, "bad.json").toPath, Seq(
      """{"name":"bad","databases":["d"],"tables":["t"],"idKey":"id",
        |"schema":"id BIGINT, v STRING",
        |"transform":{"set":[{"field":"v","expr":"upper("}]}}"""
        .stripMargin.replace("\n", "")).asJava)
    val err = intercept[IllegalArgumentException](
      PipelineRegistry.load(badDir.toString))
    assert(err.getMessage.contains("bad.json"),
      "the failure must name the offending conf file")

    // a syntactically VALID expression naming a nonexistent COLUMN also
    // dies at registration (dry-run resolution against the declared
    // schema — the reference runs initCDC at boot), naming file + field
    val colDir = Files.createTempDirectory("graft_conf_txcol_").toFile
    Files.write(new java.io.File(colDir, "col.json").toPath, Seq(
      """{"name":"col","databases":["d"],"tables":["t"],"idKey":"id",
        |"schema":"id BIGINT, v STRING",
        |"transform":{"set":[{"field":"v","expr":"upper(row.typo_col)"}]}}"""
        .stripMargin.replace("\n", "")).asJava)
    val colErr = intercept[IllegalArgumentException](
      PipelineRegistry.load(colDir.toString))
    assert(colErr.getMessage.contains("col.json")
        && colErr.getMessage.contains("'v'"),
      s"must name conf file and set field, got: ${colErr.getMessage}")

    // ...as does a DROP naming a field the document never carries
    val dropDir = Files.createTempDirectory("graft_conf_txdrop_").toFile
    Files.write(new java.io.File(dropDir, "drop.json").toPath, Seq(
      """{"name":"dp","databases":["d"],"tables":["t"],"idKey":"id",
        |"schema":"id BIGINT, v STRING",
        |"transform":{"drop":["no_such_field"]}}"""
        .stripMargin.replace("\n", "")).asJava)
    val dropErr = intercept[IllegalArgumentException](
      PipelineRegistry.load(dropDir.toString))
    assert(dropErr.getMessage.contains("drop.json")
        && dropErr.getMessage.contains("no_such_field"),
      s"got: ${dropErr.getMessage}")

    // envelope columns (op, ts_ms, src_db...) remain legal in transforms
    val envDir = Files.createTempDirectory("graft_conf_txenv_").toFile
    Files.write(new java.io.File(envDir, "env.json").toPath, Seq(
      """{"name":"env","databases":["d"],"tables":["t"],"idKey":"id",
        |"schema":"id BIGINT, v STRING",
        |"transform":{"set":[{"field":"at","expr":"ts_ms"},
        |                    {"field":"origin","expr":"concat(src_db,'.',src_table)"}]}}"""
        .stripMargin.replace("\n", "")).asJava)
    assert(PipelineRegistry.load(envDir.toString).size == 1)

    // view confs resolve against the FLATTENED enriched row
    val vDir = Files.createTempDirectory("graft_conf_txview_").toFile
    Files.write(new java.io.File(vDir, "vw.json").toPath, Seq(
      """{"kind":"view","name":"vw","databases":["d"],
        |"fact":{"table":"o","idKey":"oid","joinKey":"cid",
        |        "schema":"oid BIGINT, cid BIGINT, amt DOUBLE"},
        |"dim":{"table":"c","idKey":"ckey","joinKey":"ckey",
        |       "schema":"ckey BIGINT, cname STRING"},
        |"jdbc":{"url":"jdbc:derby:memory:x","table":"t"},
        |"transform":{"set":[{"field":"amt","expr":"amt * missing_col"}]}}"""
        .stripMargin.replace("\n", "")).asJava)
    val vErr = intercept[IllegalArgumentException](
      PipelineRegistry.load(vDir.toString))
    assert(vErr.getMessage.contains("vw.json")
        && vErr.getMessage.contains("'amt'"), s"got: ${vErr.getMessage}")
  }

  test("scan quarantine: a malformed conf mid-run stalls nothing; boot stays fail-fast; an edited kind re-homes the file") {
    val confDir = Files.createTempDirectory("graft_conf_q_").toFile
    val good = new java.io.File(confDir, "good.json")
    Files.write(good.toPath, Seq(
      """{"name":"g","databases":[],"tables":[],"idKey":"id","schema":"id BIGINT"}""").asJava)
    val entries = PipelineRegistry.load(confDir.toString)
    assert(entries.size == 1)

    // a typo'd kind dropped into the dir mid-run: BOOT load fails fast
    // (register-at-boot, S3)...
    val bad = new java.io.File(confDir, "bad.json")
    Files.write(bad.toPath, Seq("""{"kind":"veiw","name":"b"}""").asJava)
    intercept[IllegalArgumentException](PipelineRegistry.load(confDir.toString))
    // ...but watcher SCANS quarantine it: lenient load skips it, and the
    // healthy pipeline's lifecycle keeps working (no abort, no restart,
    // no phantom removal)
    assert(PipelineRegistry.load(confDir.toString, strict = false)
      .map(_.pipeline.name) == Seq("g"))
    def reloaded() = PipelineRegistry.reload(
      PipelineRegistry.changedSince(entries, confDir.toString))
    assert(reloaded().isEmpty)
    assert(PipelineRegistry.removedSince(entries).isEmpty)

    // unreadable JSON on a KNOWN conf likewise quarantines: the running
    // pipeline keeps its last good conf — neither removed nor restarted
    val before = good.lastModified()
    Files.write(good.toPath, Seq("""{not json""").asJava)
    good.setLastModified(before) // mtime-neutral: isolate the parse path
    assert(reloaded().isEmpty)
    assert(PipelineRegistry.removedSince(entries).isEmpty)

    // an edited `kind` RE-HOMES the conf: the reload rebuilds it as the
    // dedup kind (the watcher stops the lww queries first — the leak
    // this guards against) and it is not a deletion
    Files.write(good.toPath, Seq(
      """{"kind":"dedup","name":"g","table":"documents","idKey":"doc_id",
        |"textField":"text","jdbc":{"url":"u","clustersTable":"t"}}"""
        .stripMargin.replace("\n", "")).asJava)
    good.setLastModified(before + 5000)
    assert(reloaded().map(e => e.file -> e.pipeline.kind)
      == Seq(good.getAbsolutePath -> "dedup"))
    assert(PipelineRegistry.removedSince(entries).isEmpty)

    // deleted conf files leave the lifecycle: the next scan reports them
    // removed and flags nothing else
    assert(bad.delete() && good.delete())
    assert(PipelineRegistry.removedSince(entries)
      == Seq(good.getAbsolutePath))
    assert(PipelineRegistry.changedSince(entries, confDir.toString).isEmpty)
  }

  test("PipelineWatcher in-flight reload: conf change restarts from checkpoint, state equals uninterrupted run (S2)") {
    import graft.streaming.PipelineWatcher
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def wire(table: String, id: Long, v: String, op: String, ts: Long, off: Long): String = {
      val ev = s"""{"payload":{"before":null,"after":{"id":$id,"v":"$v"},""" +
        s""""source":{"db":"d","table":"$table","ts_ms":$ts},"op":"$op","ts_ms":$ts}}"""
      s"""{"value":${mapper.writeValueAsString(ev)},"offset":$off}"""
    }
    val confDir = Files.createTempDirectory("graft_watch_conf_").toFile
    val conf = new java.io.File(confDir, "p.json")
    Files.write(conf.toPath, Seq(
      """{"name":"p","databases":["d"],"tables":["t"],"idKey":"id","schema":"id BIGINT, v STRING"}""").asJava)
    val srcDir = Files.createTempDirectory("graft_watch_src_").toFile
    // feed file 1: one subscribed event, one for the not-yet-subscribed table u
    Files.write(new java.io.File(srcDir, "000.json").toPath, Seq(
      wire("t", 1, "a1", "c", 1, 1), wire("u", 3, "skipme", "c", 1, 2)).asJava)

    val ckptRoot = Files.createTempDirectory("graft_watch_ckpt_").toString
    val cfg = EsSink.Config("http://es:9200/idx", "u", "p", "id")
    SinkSpec.recorded.clear()
    val watcher = new PipelineWatcher(spark, confDir.toString, srcDir.toString,
      ckptRoot, cfg, new SinkSpec.Recorder, pollMs = 3600000L) // pollOnce() drives it
    try {
      watcher.startPipelines().foreach(_.awaitTermination())
      assert(watcher.pollOnce().isEmpty, "unchanged confs must not restart anything")
      // reload: subscription widens to {t, u}; more feed arrives
      Files.write(conf.toPath, Seq(
        """{"name":"p","databases":["d"],"tables":["t","u"],"idKey":"id","schema":"id BIGINT, v STRING"}""").asJava)
      conf.setLastModified(conf.lastModified() + 5000)
      Files.write(new java.io.File(srcDir, "001.json").toPath, Seq(
        wire("t", 1, "a2", "u", 2, 3), wire("u", 3, "b1", "c", 2, 4)).asJava)
      assert(watcher.pollOnce() == Seq("p"))
      watcher.activeQueries("p").foreach(_.awaitTermination())
    } finally watcher.stop()
    val puts = SinkSpec.recorded.asScala.toSeq.filter(_.method == "PUT").map(_.body)
    // file 1 is NOT re-applied after the reload (checkpoint cursor
    // preserved) and the widened subscription takes effect: exactly one
    // pre-reload PUT and the two post-reload ones
    assert(puts.sorted == Seq("""{"id":1,"v":"a1"}""", """{"id":1,"v":"a2"}""",
      """{"id":3,"v":"b1"}"""))
    // LWW state after the mid-stream reload == an uninterrupted run of
    // the final conf over the whole feed (fresh checkpoint + recorder)
    val lastPerId = puts.map { b =>
      val n = mapper.readTree(b); n.get("id").asLong() -> b
    }.toMap
    SinkSpec.recorded.clear()
    val fresh = PipelineRegistry.load(confDir.toString)
    PipelineRegistry.startAll(fresh, spark, srcDir.toString,
      Files.createTempDirectory("graft_watch_ckpt2_").toString,
      cfg, new SinkSpec.Recorder).foreach(_.awaitTermination())
    val uninterrupted = SinkSpec.recorded.asScala.toSeq.filter(_.method == "PUT")
      .map { r =>
        val n = mapper.readTree(r.body); n.get("id").asLong() -> r.body
      }.toMap
    assert(lastPerId === uninterrupted)
  }

  test("watcher reload is keyed by conf FILE: a pipeline rename leaves no orphan") {
    import graft.streaming.PipelineWatcher
    val confDir = Files.createTempDirectory("graft_ren_conf_").toFile
    val conf = new java.io.File(confDir, "p.json")
    Files.write(conf.toPath, Seq(
      """{"name":"old","databases":["d"],"tables":["t"],"idKey":"id","schema":"id BIGINT"}""").asJava)
    val srcDir = Files.createTempDirectory("graft_ren_src_").toString
    val ckptRoot = Files.createTempDirectory("graft_ren_ckpt_").toString
    val cfg = EsSink.Config("http://es:9200/idx", "u", "p", "id")
    val watcher = new PipelineWatcher(spark, confDir.toString, srcDir, ckptRoot,
      cfg, new SinkSpec.Recorder, pollMs = 3600000L)
    try {
      watcher.startPipelines().foreach(_.awaitTermination())
      Files.write(conf.toPath, Seq(
        """{"name":"renamed","databases":["d"],"tables":["t"],"idKey":"id","schema":"id BIGINT"}""").asJava)
      conf.setLastModified(conf.lastModified() + 5000)
      assert(watcher.pollOnce() == Seq("renamed"))
      // name-keyed control would have missed the old query (stop() could
      // then never reach it) and kept a stale "old" entry in the view
      assert(watcher.activeQueries.keySet == Set("renamed"))
      watcher.activeQueries("renamed").foreach(_.awaitTermination())
    } finally watcher.stop()
  }

  test("watcher deregisters a DELETED conf; restoring it resumes from the checkpoint") {
    import graft.streaming.PipelineWatcher
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def wire(id: Long, v: String, ts: Long, off: Long): String = {
      val ev = s"""{"payload":{"before":null,"after":{"id":$id,"v":"$v"},""" +
        s""""source":{"db":"d","table":"t","ts_ms":$ts},"op":"c","ts_ms":$ts}}"""
      s"""{"value":${mapper.writeValueAsString(ev)},"offset":$off}"""
    }
    val confDir = Files.createTempDirectory("graft_del_conf_").toFile
    val confJson =
      """{"name":"p","databases":["d"],"tables":["t"],"idKey":"id","schema":"id BIGINT, v STRING"}"""
    val conf = new java.io.File(confDir, "p.json")
    Files.write(conf.toPath, Seq(confJson).asJava)
    val srcDir = Files.createTempDirectory("graft_del_src_").toFile
    Files.write(new java.io.File(srcDir, "000.json").toPath,
      Seq(wire(1, "a", 1, 1)).asJava)
    val ckptRoot = Files.createTempDirectory("graft_del_ckpt_").toString
    val cfg = EsSink.Config("http://es:9200/idx", "u", "p", "id")
    SinkSpec.recorded.clear()
    val watcher = new PipelineWatcher(spark, confDir.toString, srcDir.toString,
      ckptRoot, cfg, new SinkSpec.Recorder, pollMs = 3600000L)
    try {
      watcher.startPipelines().foreach(_.awaitTermination())
      // delete the conf: the query deregisters
      assert(conf.delete())
      assert(watcher.pollOnce().isEmpty)
      assert(watcher.activeQueries.isEmpty, "deleted conf must deregister")
      // more feed arrives while deregistered; restoring the conf picks
      // it up from the SAME checkpoint — file 1 is not re-applied
      Files.write(new java.io.File(srcDir, "001.json").toPath,
        Seq(wire(2, "b", 2, 2)).asJava)
      Files.write(conf.toPath, Seq(confJson).asJava)
      assert(watcher.pollOnce() == Seq("p"))
      watcher.activeQueries("p").foreach(_.awaitTermination())
    } finally watcher.stop()
    val puts = SinkSpec.recorded.asScala.toSeq.filter(_.method == "PUT").map(_.body)
    assert(puts.sorted == Seq("""{"id":1,"v":"a"}""", """{"id":2,"v":"b"}"""))
  }

  test("watcher drives the VIEW-pipeline lifecycle: add serves, edit resumes from checkpoints, delete stops and preserves them") {
    import graft.streaming.PipelineWatcher
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

    val url = "jdbc:derby:memory:graftwatchview;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE enriched ("o_orderkey" BIGINT NOT NULL PRIMARY KEY,
        | "o_custkey" BIGINT, "o_total" DOUBLE,
        | "c_custkey" BIGINT, "c_name" VARCHAR(64))"""
        .stripMargin.replace("\n", ""))
    c0.close()

    val confDir = Files.createTempDirectory("graft_watchview_conf_").toFile
    val feedDir = Files.createTempDirectory("graft_watchview_feed_").toFile
    val ckptRoot = Files.createTempDirectory("graft_watchview_ckpt_").toString
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire("customer", c(1, "Alice"), null, "c", 10, 1),
      wire("orders", o(10, 1, 5.0), null, "c", 10, 2)).asJava)

    def serving(): Map[Long, String] =
      spark.read.jdbc(url, "enriched", new java.util.Properties())
        .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    def awaitServing(expect: Map[Long, String], what: String): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (serving() != expect && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(serving() == expect, s"$what: serving table never reached $expect")
    }
    def confJson(name: String) =
      s"""{"kind":"view","name":"$name","databases":["shop"],"leftOuter":true,
         |"fact":{"table":"orders","idKey":"o_orderkey","joinKey":"o_custkey",
         |        "schema":"o_orderkey BIGINT, o_custkey BIGINT, o_total DOUBLE"},
         |"dim":{"table":"customer","idKey":"c_custkey","joinKey":"c_custkey",
         |       "schema":"c_custkey BIGINT, c_name STRING"},
         |"jdbc":{"url":"$url","table":"enriched",
         |        "stagingColumnTypes":"c_name VARCHAR(64)"}}"""
        .stripMargin.replace("\n", "")

    val cfg = EsSink.Config("http://es:9200/idx", "u", "p", "id")
    val watcher = new PipelineWatcher(spark, confDir.toString,
      feedDir.toString, ckptRoot, cfg, new SinkSpec.Recorder,
      viewTriggerInterval = "200 milliseconds")
    try {
      // boot over an empty conf dir: nothing runs
      assert(watcher.startPipelines().isEmpty && watcher.activeQueries.isEmpty)

      // ADD: conf appears → pollOnce starts the three-stage lineage and
      // the view begins serving with no further driver action
      val conf = new java.io.File(confDir, "enr.json")
      Files.write(conf.toPath, Seq(confJson("enr")).asJava)
      assert(watcher.pollOnce() == Seq("enr"))
      assert(watcher.activeQueries("enr").size == 3)
      awaitServing(Map(10L -> "Alice"), "after add")

      // settle, then record the fact log's batch partitions — the
      // restart below must RESUME, not re-fold history into new batches
      val workDir = s"$ckptRoot/${PipelineRegistry.ckptKey(conf.getAbsolutePath)}"
      def factBatches(): Set[String] =
        Option(new java.io.File(s"$workDir/log_fact/log").listFiles())
          .getOrElse(Array.empty).map(_.getName)
          .filter(_.startsWith("batch_id=")).toSet
      val batchesBeforeEdit = factBatches()
      assert(batchesBeforeEdit.nonEmpty)

      // EDIT: rename the view in the conf → pollOnce stops the three old
      // queries and restarts against the SAME work dir
      val oldQueries = watcher.activeQueries("enr")
      Files.write(conf.toPath, Seq(confJson("enr_v2")).asJava)
      conf.setLastModified(conf.lastModified() + 5000)
      assert(watcher.pollOnce() == Seq("enr_v2"))
      assert(oldQueries.forall(!_.isActive), "edit must stop the old queries")
      assert(watcher.activeQueries.keySet == Set("enr_v2"))

      // no re-delivery on resume: new feed data flows, and the restarted
      // log stage appends only the NEW batch — pre-edit history untouched
      Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
        wire("customer", c(1, "Alicia"), c(1, "Alice"), "u", 20, 3),
        wire("orders", o(11, 1, 7.0), null, "c", 20, 4)).asJava)
      awaitServing(Map(10L -> "Alicia", 11L -> "Alicia"), "after edit+append")
      val batchesAfter = factBatches()
      assert(batchesBeforeEdit.subsetOf(batchesAfter)
        && batchesAfter.size > batchesBeforeEdit.size,
        "restart resumes from checkpoints: history batches intact, only new appended")

      // DELETE: conf removed → pollOnce stops all three queries;
      // checkpoints stay on disk for a later restore
      val liveQueries = watcher.activeQueries("enr_v2")
      assert(conf.delete())
      assert(watcher.pollOnce().isEmpty)
      assert(liveQueries.forall(!_.isActive), "delete must stop the view's queries")
      assert(watcher.activeQueries.isEmpty)
      assert(new java.io.File(s"$workDir/ckpt_view").exists()
        && new java.io.File(s"$workDir/ckpt_fact").exists(),
        "deregistration preserves checkpoints")
    } finally watcher.stop()
  }

  test("lifecycle MATRIX: all five kinds share add/edit/quarantine/kind-edit/delete/restore semantics") {
    import graft.streaming.PipelineWatcher
    val url = "jdbc:derby:memory:graftmatrix;create=true"
    // one descriptor per conf kind: the minimal valid conf, a benignly
    // edited variant, and the kind this file re-homes to mid-run. The
    // sixth kind added tomorrow earns its lifecycle guarantees by
    // adding ONE row here.
    case class KindCase(kind: String, nQueries: Int, conf: String,
        edited: String, rehomeKind: String, rehomed: String)
    def lww(extra: String = "") =
      s"""{"name":"mx","databases":["shop"],"tables":["documents"$extra],
         |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING"}"""
        .stripMargin.replace("\n", "")
    val searchConf =
      s"""{"kind":"search","name":"mx","databases":["shop"],
         |"table":"documents","idKey":"doc_id","textField":"text",
         |"jdbc":{"url":"$url","postingsTable":"mxk_sp","lensTable":"mxk_sl"}}"""
        .stripMargin.replace("\n", "")
    val cases = Seq(
      KindCase("lww", 1, lww(), lww(""","events""""), "search", searchConf),
      KindCase("view", 3,
        s"""{"kind":"view","name":"mx","databases":["shop"],
           |"fact":{"table":"orders","idKey":"o_orderkey","joinKey":"o_custkey",
           |        "schema":"o_orderkey BIGINT, o_custkey BIGINT"},
           |"dim":{"table":"customer","idKey":"c_custkey","joinKey":"c_custkey",
           |       "schema":"c_custkey BIGINT, c_name STRING"},
           |"jdbc":{"url":"$url","table":"mxk_enr"}}"""
          .stripMargin.replace("\n", ""),
        s"""{"kind":"view","name":"mx","databases":["shop"],"leftOuter":true,
           |"fact":{"table":"orders","idKey":"o_orderkey","joinKey":"o_custkey",
           |        "schema":"o_orderkey BIGINT, o_custkey BIGINT"},
           |"dim":{"table":"customer","idKey":"c_custkey","joinKey":"c_custkey",
           |       "schema":"c_custkey BIGINT, c_name STRING"},
           |"jdbc":{"url":"$url","table":"mxk_enr"}}"""
          .stripMargin.replace("\n", ""), "lww", lww()),
      KindCase("ann", 2,
        s"""{"kind":"ann","name":"mx","databases":["shop"],"table":"embeddings",
           |"idKey":"vec_id","vectorField":"embedding",
           |"centroids":[[1.0,0.0],[-1.0,0.0]],
           |"jdbc":{"url":"$url","postingsTable":"mxk_ap"}}"""
          .stripMargin.replace("\n", ""),
        s"""{"kind":"ann","name":"mx","databases":["shop"],"table":"embeddings",
           |"idKey":"vec_id","vectorField":"embedding","k":4,
           |"centroids":[[1.0,0.0],[-1.0,0.0]],
           |"jdbc":{"url":"$url","postingsTable":"mxk_ap"}}"""
          .stripMargin.replace("\n", ""), "lww", lww()),
      KindCase("dedup", 3,
        s"""{"kind":"dedup","name":"mx","databases":["shop"],"table":"documents",
           |"idKey":"doc_id","textField":"text",
           |"jdbc":{"url":"$url","clustersTable":"mxk_cl"}}"""
          .stripMargin.replace("\n", ""),
        s"""{"kind":"dedup","name":"mx","databases":["shop"],"table":"documents",
           |"idKey":"doc_id","textField":"text","bands":8,
           |"jdbc":{"url":"$url","clustersTable":"mxk_cl"}}"""
          .stripMargin.replace("\n", ""), "lww", lww()),
      KindCase("search", 2, searchConf,
        searchConf.replace("\"textField\":\"text\"",
          "\"textField\":\"text\",\"k1\":1.3"),
        "lww", lww()))

    // the running kind shows in its query names (on-disk and
    // operator-visible, so pinned): cdc_v2_<n>, view_<n>…, ann_<n>…
    def activeOf(w: PipelineWatcher, kind: String, name: String): Option[Int] = {
      val prefix = if (kind == "lww") "cdc_" else s"${kind}_"
      w.activeQueries.get(name).filter(_.forall(_.name.startsWith(prefix)))
        .map(_.size)
    }

    cases.foreach { kc =>
      val confDir = Files.createTempDirectory(s"graft_mxk_${kc.kind}_conf_").toFile
      val srcDir = Files.createTempDirectory(s"graft_mxk_${kc.kind}_src_")
      val ckptRoot = Files.createTempDirectory(s"graft_mxk_${kc.kind}_ckpt_")
      val watcher = new PipelineWatcher(spark, confDir.toString,
        srcDir.toString, ckptRoot.toString,
        EsSink.Config("http://es/idx", "u", "p", "doc_id"),
        new SinkSpec.Recorder, pollMs = 3600000L)
      val f = new java.io.File(confDir, "mx.json")
      var tick = 0L
      def put(json: String): Unit = {
        Files.write(f.toPath, Seq(json).asJava)
        tick += 5000; f.setLastModified(f.lastModified() + tick); ()
      }
      try {
        // ADD
        put(kc.conf)
        watcher.pollOnce()
        assert(activeOf(watcher, kc.kind, "mx") == Some(kc.nQueries),
          s"${kc.kind}: add starts ${kc.nQueries} queries")
        // EDIT — restart against the same work dir
        put(kc.edited)
        assert(watcher.pollOnce() == Seq("mx"), s"${kc.kind}: edit restarts")
        assert(activeOf(watcher, kc.kind, "mx") == Some(kc.nQueries))
        // QUARANTINE — a malformed mid-run edit stalls nothing: the
        // running pipeline is retained, the poll doesn't throw
        put("{this is not json")
        watcher.pollOnce()
        assert(activeOf(watcher, kc.kind, "mx") == Some(kc.nQueries),
          s"${kc.kind}: quarantined edit must keep the pipeline")
        // ...and so does a kind-edit that leaves the conf invalid: the
        // last good pipeline keeps running
        put(s"""{"kind":"${kc.rehomeKind}","name":"mx"}""")
        watcher.pollOnce()
        assert(activeOf(watcher, kc.kind, "mx") == Some(kc.nQueries),
          s"${kc.kind}: an invalid kind-edit must keep the last good pipeline")
        // KIND-EDIT — the file re-homes: old kind's queries stop, the
        // new kind starts against the same work dir
        put(kc.rehomed)
        watcher.pollOnce()
        assert(activeOf(watcher, kc.kind, "mx").isEmpty,
          s"${kc.kind}: kind-edit must deregister the old kind")
        assert(activeOf(watcher, kc.rehomeKind, "mx").isDefined,
          s"${kc.kind}: kind-edit must start the ${kc.rehomeKind} pipeline")
        // DELETE — deregisters; checkpoints stay on disk
        assert(f.delete())
        watcher.pollOnce()
        assert(activeOf(watcher, kc.rehomeKind, "mx").isEmpty,
          s"${kc.kind}: delete deregisters")
        assert(Option(ckptRoot.toFile.listFiles()).exists(_.nonEmpty),
          s"${kc.kind}: delete preserves the work dir")
        // RESTORE — the original conf resumes under its kind
        put(kc.conf)
        watcher.pollOnce()
        assert(activeOf(watcher, kc.kind, "mx") == Some(kc.nQueries),
          s"${kc.kind}: restore resumes")
      } finally watcher.stop()
    }
  }

  test("JDBC partitioned read + snapshot bootstrap: parallel scan to op=r events") {
    val url = "jdbc:derby:memory:graftsrc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE src (\"id\" BIGINT NOT NULL PRIMARY KEY, \"v\" VARCHAR(20))")
    val ins = conn.prepareStatement("INSERT INTO src VALUES (?, ?)")
    (1L to 20L).foreach { i => ins.setLong(1, i); ins.setString(2, s"v$i"); ins.addBatch() }
    ins.executeBatch(); conn.close()

    val df = Jdbc.tablePartitioned(spark, url, "src", "id", 1L, 20L, 4)
    assert(df.rdd.getNumPartitions == 4) // parallel strides, not one connection
    assert(df.count() == 20)

    val events = Bootstrap.snapshotEvents(df, "d", "src", snapshotTsMs = 0L)
    val kept = graft.cdc.EventFilters.all(graft.cdc.Envelope.parse(events))
    assert(kept.count() == 20)
    assert(kept.select("op").distinct().collect().map(_.getString(0)).toSeq == Seq("r"))
  }

  test("a conf's declared idKey keys its documents even when the runner's default differs") {
    // the sink extracts the document id via cfg.idKey — a process-global
    // idKey would break every conf whose id column is named differently
    // (the reference passes idKey per script call,
    // ElasticsearchUtils.java:106-118)
    val confDir = Files.createTempDirectory("graft_idkey_conf_").toFile
    Files.write(new java.io.File(confDir, "k.json").toPath, Seq(
      """{"name":"kp","databases":["d"],"tables":["t"],"idKey":"k","schema":"k BIGINT, v STRING"}""").asJava)
    val srcDir = Files.createTempDirectory("graft_idkey_src_").toString
    Seq((s"""{"payload":{"before":null,"after":{"k":5,"v":"x"},""" +
      s""""source":{"db":"d","table":"t","ts_ms":1},"op":"c","ts_ms":1}}""", 1L))
      .toDF("value", "offset").coalesce(1).write.mode("overwrite").json(srcDir)
    val ckptRoot = Files.createTempDirectory("graft_idkey_ckpt_").toString
    SinkSpec.recorded.clear()
    // the runner default carries idKey "id" — NOT this conf's "k"
    PipelineRegistry.startAll(PipelineRegistry.load(confDir.toString), spark,
      srcDir, ckptRoot, EsSink.Config("http://es:9200/idx", "u", "p", "id"),
      new SinkSpec.Recorder).foreach(_.awaitTermination())
    val Seq(put) = SinkSpec.recorded.asScala.toSeq.filter(_.method == "PUT")
    assert(put.url == "http://es:9200/idx/_doc/5")
    assert(put.body == """{"k":5,"v":"x"}""")
  }

  test("a conf-declared es target overrides the runner default; others inherit it") {
    val confDir = Files.createTempDirectory("graft_estgt_conf_").toFile
    Files.write(new java.io.File(confDir, "a.json").toPath, Seq(
      """{"name":"own","databases":["d"],"tables":["t"],"idKey":"id","schema":"id BIGINT, v STRING",""" +
        """"es":{"url":"http://es:9200/own_idx","username":"ou","password":"op"}}""").asJava)
    Files.write(new java.io.File(confDir, "b.json").toPath, Seq(
      """{"name":"dflt","databases":["d"],"tables":["u"],"idKey":"id","schema":"id BIGINT, v STRING"}""").asJava)
    val srcDir = Files.createTempDirectory("graft_estgt_src_").toString
    def ev(table: String, id: Long, off: Long): (String, Long) =
      (s"""{"payload":{"before":null,"after":{"id":$id,"v":"w"},""" +
        s""""source":{"db":"d","table":"$table","ts_ms":1},"op":"c","ts_ms":1}}""", off)
    Seq(ev("t", 1, 1), ev("u", 2, 2))
      .toDF("value", "offset").coalesce(1).write.mode("overwrite").json(srcDir)
    val ckptRoot = Files.createTempDirectory("graft_estgt_ckpt_").toString
    SinkSpec.recorded.clear()
    PipelineRegistry.startAll(PipelineRegistry.load(confDir.toString), spark,
      srcDir, ckptRoot, EsSink.Config("http://es:9200/shared_idx", "u", "p", "id"),
      new SinkSpec.Recorder).foreach(_.awaitTermination())
    val puts = SinkSpec.recorded.asScala.toSeq.filter(_.method == "PUT")
      .map(_.url).sorted
    assert(puts == Seq("http://es:9200/own_idx/_doc/1",
      "http://es:9200/shared_idx/_doc/2"))
    // an incomplete es target fails registration naming the file (S3)
    Files.write(new java.io.File(confDir, "c.json").toPath, Seq(
      """{"name":"bad","databases":["d"],"tables":["t"],"idKey":"id","schema":"id BIGINT",""" +
        """"es":{"url":"http://es:9200/x","username":"u"}}""").asJava)
    val e = intercept[IllegalArgumentException](
      PipelineRegistry.load(confDir.toString))
    assert(e.getMessage.contains("c.json"))
  }

  test("watcher maintenance tick: an oversized warehouse log compacts on cadence; superseded generations GC after retention") {
    import graft.streaming.PipelineWatcher
    import graft.cdc.DeltaLog
    import java.nio.file.{Files => JFiles, Paths}
    val wh = JFiles.createTempDirectory("graft_maint_wh_").toString
    val prev = spark.conf.getOption("spark.graft.warehouse")
    spark.conf.set("spark.graft.warehouse", wh)
    val confDir = Files.createTempDirectory("graft_maint_conf_").toString
    val srcDir = Files.createTempDirectory("graft_maint_src_").toString
    val ckptRoot = Files.createTempDirectory("graft_maint_ckpt_").toString
    try {
      // an LWW table log two batches deep (maxBatches = 1 ⇒ oversized)
      val base = s"$wh/tablelog_t/feed"
      Seq((1L, "upsert", """{"id":1,"v":"a"}""", null: String))
        .toDF("key", "action", "rowJson", "prevJson")
        .write.parquet(s"$base/data/batch_id=0")
      Seq((1L, "upsert", """{"id":1,"v":"b"}""", """{"id":1,"v":"a"}"""))
        .toDF("key", "action", "rowJson", "prevJson")
        .write.parquet(s"$base/data/batch_id=1")
      JFiles.createFile(Paths.get(s"$base/_GRAFT_DONE"))

      val cfg = EsSink.Config("http://es:9200/idx", "u", "p", "id")
      // maintenance DISABLED (the default): no tick, log left whole
      val off = new PipelineWatcher(spark, confDir, srcDir, ckptRoot, cfg,
        new SinkSpec.Recorder, pollMs = 3600000L)
      try {
        off.pollOnce()
        assert(!JFiles.exists(Paths.get(s"$base/CURRENT")),
          "maintenance must be opt-in — the default watcher never compacts")
      } finally off.stop()

      // maintenance ON with a zero-interval cadence and zero retention:
      // first poll past the interval compacts AND retires the
      // superseded raw generation in the same pass
      val on = new PipelineWatcher(spark, confDir, srcDir, ckptRoot, cfg,
        new SinkSpec.Recorder, pollMs = 3600000L,
        maintainEveryMs = 1L, maintainMaxBatches = 1,
        maintainRetentionMs = 0L)
      try {
        Thread.sleep(5) // pass the 1 ms cadence deterministically
        on.pollOnce()
        assert(JFiles.exists(Paths.get(s"$base/CURRENT")),
          "the oversized log must compact on the watcher tick")
        val active = DeltaLog.activeDataDir(base)
        // compaction folded two batches to ONE live prev-free row
        val rows = spark.read.parquet(active).collect()
        assert(rows.length == 1
          && rows.head.getAs[String]("rowJson") == """{"id":1,"v":"b"}""")
        // zero retention: the superseded raw data generation is gone
        Thread.sleep(5)
        on.pollOnce()
        assert(!JFiles.exists(Paths.get(s"$base/data")),
          "retention GC must retire the superseded generation")
        assert(JFiles.exists(Paths.get(active)),
          "the active generation must survive GC")
      } finally on.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.warehouse", v)
      case None => spark.conf.unset("spark.graft.warehouse")
    }
  }

  test("search conf: retireAfterMs parses to the pipeline; a non-numeric value fails naming file + field") {
    val dir = Files.createTempDirectory("graft_reg_retire_").toFile
    def conf(retire: String) =
      s"""{"kind":"search","name":"rg","databases":["shop"],
         |"table":"documents","idKey":"doc_id","textField":"text",
         |"jdbc":{"url":"jdbc:derby:memory:regretire;create=true",
         |"postingsTable":"rg_p","lensTable":"rg_l"}$retire}"""
        .stripMargin.replace("\n", "")
    val f = new java.io.File(dir, "rg.json")
    Files.write(f.toPath, conf(""","retireAfterMs":300000""").getBytes)
    val e = registered[graft.streaming.SearchServingPipeline](dir.toString).head
    assert(e.retireAfterMs == 300000L,
      "the grace window must reach the pipeline")
    Files.write(f.toPath, conf("").getBytes)
    assert(registered[graft.streaming.SearchServingPipeline](dir.toString)
      .head.retireAfterMs == 0L, "absent = retire at the flip")
    // fail-loud conf discipline: a "5m" string must not register as
    // "retire immediately"
    Files.write(f.toPath, conf(""","retireAfterMs":"5m"""").getBytes)
    val err = intercept[Exception](PipelineRegistry.load(dir.toString))
    assert(err.getMessage.contains("rg.json")
      && err.getMessage.contains("retireAfterMs"))
  }

  test("dedup conf: jdbc.stagingColumnTypes fails naming file + field") {
    val dir = Files.createTempDirectory("graft_reg_dedup_types_").toFile
    def conf(types: String) =
      s"""{"kind":"dedup","name":"dt","databases":["shop"],
         |"table":"documents","idKey":"doc_id","textField":"text",
         |"jdbc":{"url":"jdbc:derby:memory:regdeduptypes;create=true",
         |"clustersTable":"dt_clusters"$types}}"""
        .stripMargin.replace("\n", "")
    val f = new java.io.File(dir, "dt.json")
    Files.write(f.toPath, conf("").getBytes)
    assert(registered[graft.streaming.DedupClusterPipeline](dir.toString).size == 1)
    // the served cluster columns are fixed BIGINT/INT ids: a declared
    // staging type must not register and then be silently ignored
    Files.write(f.toPath,
      conf(""","stagingColumnTypes":"cluster_id VARCHAR(8)"""").getBytes)
    val err = intercept[Exception](PipelineRegistry.load(dir.toString))
    assert(err.getMessage.contains("dt.json")
      && err.getMessage.contains("jdbc.stagingColumnTypes"))
  }
}
