package graft

import graft.sinks.EsSink
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The long-running application entry (Serve): boots every conf,
  * follows the feed live, hot-adds confs mid-run, drains cleanly on the
  * STOP file, and leaves checkpoints behind for the next run — the
  * process-lifecycle contract of the reference's boot class
  * (CDCApplication.java) over our watcher machinery.
  */
class ServeSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def wire(table: String, id: Long, v: String, off: Long): String = {
    val ev = s"""{"payload":{"before":null,"after":{"id":$id,"v":"$v"},""" +
      s""""source":{"db":"d","table":"$table","ts_ms":$off},"op":"c","ts_ms":$off}}"""
    s"""{"value":${mapper.writeValueAsString(ev)},"offset":$off}"""
  }

  private def await(deadlineMs: Long = 30000L)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + deadlineMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(100)
    cond
  }

  test("Serve.run: boot serves, live feed follows, hot-add conf serves, STOP drains, checkpoints survive") {
    val confDir = Files.createTempDirectory("graft_serve_conf_").toFile
    Files.write(new java.io.File(confDir, "t.json").toPath, Seq(
      """{"name":"t_pipe","databases":["d"],"tables":["t"],"idKey":"id","schema":"id BIGINT, v STRING"}""").asJava)
    val srcDir = Files.createTempDirectory("graft_serve_src_").toFile
    Files.write(new java.io.File(srcDir, "000.json").toPath,
      Seq(wire("t", 1, "boot", 1)).asJava)
    val workRoot = Files.createTempDirectory("graft_serve_work_").toString
    val storeDir = Files.createTempDirectory("graft_serve_store_").toString
    val store = new java.io.File(storeDir)
    def doc(id: Long): java.io.File = new java.io.File(store, s"$id.json")

    val cfg = EsSink.Config("http://graft-local/serve", "", "", "id")
    @volatile var booted = -1
    @volatile var failure: Throwable = null
    val server = new Thread(() => {
      try booted = Serve.run(spark, confDir.toString, srcDir.toString,
        workRoot, cfg, new EsSink.FileDocStore(storeDir), pollMs = 100L)
      catch { case e: Throwable => failure = e }
    }, "serve-under-test")
    server.start()
    try {
      // boot: the conf'd pipeline serves the pre-existing feed
      assert(await()(doc(1).exists()), "boot feed must be served")
      // live: a feed file written AFTER boot is served WITHOUT any conf
      // touch — the processing-time lww trigger follows the source
      Files.write(new java.io.File(srcDir, "001.json").toPath,
        Seq(wire("t", 2, "live", 2)).asJava)
      assert(await()(doc(2).exists()), "live feed must be served")
      // hot-add: a brand-new conf starts mid-run via the watcher loop
      Files.write(new java.io.File(confDir, "u.json").toPath, Seq(
        """{"name":"u_pipe","databases":["d"],"tables":["u"],"idKey":"id","schema":"id BIGINT, v STRING"}""").asJava)
      Files.write(new java.io.File(srcDir, "002.json").toPath,
        Seq(wire("u", 3, "added", 3)).asJava)
      assert(await()(doc(3).exists()), "hot-added conf must serve")
      // STOP file drains the server thread
      Files.createFile(java.nio.file.Paths.get(workRoot, "STOP"))
      server.join(30000)
      assert(!server.isAlive, "server must exit on STOP")
      assert(failure == null, s"server failed: $failure")
      assert(booted == 1, "one query booted from the initial conf dir")
      // checkpoints survive the stop — the next run's resume point
      val ckpts = new java.io.File(s"$workRoot/ckpt").listFiles()
      assert(ckpts != null && ckpts.length == 2,
        "both pipelines leave a checkpoint dir")
      // restart: a second run resumes from the cursors — the already-
      // served feed is NOT re-sent (store files' mtimes stay put), new
      // feed is
      val before = Seq(1L, 2L, 3L).map(i => doc(i).lastModified())
      Files.delete(java.nio.file.Paths.get(workRoot, "STOP"))
      @volatile var failure2: Throwable = null
      val server2 = new Thread(() => {
        try Serve.run(spark, confDir.toString, srcDir.toString,
          workRoot, cfg, new EsSink.FileDocStore(storeDir), pollMs = 100L)
        catch { case e: Throwable => failure2 = e }
      }, "serve-under-test-2")
      server2.start()
      try {
        Files.write(new java.io.File(srcDir, "003.json").toPath,
          Seq(wire("t", 4, "after-restart", 4)).asJava)
        assert(await()(doc(4).exists()), "post-restart feed must be served")
        assert(Seq(1L, 2L, 3L).map(i => doc(i).lastModified()) == before,
          "a restarted server must not re-send already-served documents")
      } finally {
        Files.createFile(java.nio.file.Paths.get(workRoot, "STOP"))
        server2.join(30000)
        assert(!server2.isAlive)
        assert(failure2 == null, s"restarted server failed: $failure2")
      }
    } finally if (server.isAlive) {
      try Files.createFile(java.nio.file.Paths.get(workRoot, "STOP"))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      server.join(30000)
    }
  }

  test("dead-letter replay: drop → conf fix → replay re-injects through the normal path and the store converges to the never-dropped oracle") {
    import graft.streaming.PipelineMetrics
    val confDir = Files.createTempDirectory("graft_rpl_conf_").toFile
    val srcDir = Files.createTempDirectory("graft_rpl_src_").toFile
    val workRoot = Files.createTempDirectory("graft_rpl_work_").toString
    val storeDir = Files.createTempDirectory("graft_rpl_store_").toString
    val dlDir = Files.createTempDirectory("graft_rpl_dl_").toString + "/dl"
    val url = "jdbc:derby:memory:graftservereplay;create=true"
    def conf(hi: Long): Unit =
      Files.write(new java.io.File(confDir, "r.json").toPath, Seq(
        s"""{"name":"r_pipe","databases":["d"],"tables":["r"],"idKey":"id",
           |"schema":"id BIGINT, v STRING",
           |"deadLetterDir":"$dlDir",
           |"metrics":{"url":"$url","table":"rpl_metrics"},
           |"expectations":[{"rule":"in_range","name":"id_cap","column":"id",
           |"lo":0,"hi":$hi,"action":"drop"}]}"""
          .stripMargin.replace("\n", "")).asJava)
    val store = new java.io.File(storeDir)
    def doc(id: Long): java.io.File = new java.io.File(store, s"$id.json")
    val cfg = EsSink.Config("http://graft-local/serve", "", "", "id")
    def serveWhile(body: => Unit): Unit = {
      @volatile var failure: Throwable = null
      val t = new Thread(() => {
        try { Serve.run(spark, confDir.toString, srcDir.toString, workRoot,
          cfg, new EsSink.FileDocStore(storeDir), pollMs = 100L); () }
        catch { case e: Throwable => failure = e }
      }, "serve-replay-under-test")
      t.start()
      try body
      finally {
        try Files.createFile(java.nio.file.Paths.get(workRoot, "STOP"))
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        t.join(30000)
        assert(!t.isAlive, "server must drain on STOP")
        assert(failure == null, s"server failed: $failure")
        Files.delete(java.nio.file.Paths.get(workRoot, "STOP"))
      }
    }
    // phase 1: the rule (id in [0,10]) DROPS doc 50 — it dead-letters,
    // the clean docs serve
    conf(hi = 10)
    Files.write(new java.io.File(srcDir, "000.json").toPath, Seq(
      wire("r", 1, "a", 1), wire("r", 2, "b", 2), wire("r", 50, "c", 3)).asJava)
    serveWhile {
      assert(await()(doc(1).exists() && doc(2).exists()), "clean docs serve")
      assert(await()(PipelineMetrics.expectDeadLetters(spark, dlDir)
        .count() == 1L), "the violating winner dead-letters")
      assert(!doc(50).exists(), "the violating winner is withheld")
    }
    // phase 2 (quarantine lifecycle): the operator FIXES the rule, then
    // re-injects the dead letters through the feed — no side door; the
    // replayed rows flow the normal path under the fixed conf
    conf(hi = 100)
    assert(PipelineMetrics.replayExpectDeadLetters(spark, dlDir, "r_pipe",
      "d", "r", srcDir.toString, tsMs = 50000L) == 1L)
    // epoch idempotence: the same replay is a no-op
    assert(PipelineMetrics.replayExpectDeadLetters(spark, dlDir, "r_pipe",
      "d", "r", srcDir.toString, tsMs = 50000L) == 0L)
    // the verb re-injected ONLY the dropped row (asserted on the feed
    // file itself — a doc-store mtime check would be racy: a STOP that
    // interrupts phase 1 after its sink effects but before the
    // checkpoint commit makes phase 2 legitimately re-send batch 0's
    // keyed upserts)
    val replayFiles = srcDir.listFiles()
      .filter(_.getName == "replay_expect_r_pipe_50000.json")
    val lines = replayFiles.toSeq
      .flatMap(f => java.nio.file.Files.readAllLines(f.toPath).asScala)
      .filter(_.nonEmpty)
    assert(lines.size == 1 && mapper.readTree(lines.head).get("value")
      .asText().contains("\"id\":50"),
      s"exactly the dropped row re-enters the feed: $lines")
    // ...and the consumed dead letters RETIRED (their rows are feed
    // data now — a later epoch must not re-inject stale versions)
    assert(PipelineMetrics.expectDeadLetters(spark, dlDir).count() == 0L)
    serveWhile {
      assert(await()(doc(50).exists()),
        "the replayed row serves — store converges to the never-dropped oracle")
    }
  }

  test("Serve replay verb: kind dispatch, batch filter and arg contract") {
    import graft.streaming.PipelineMetrics
    val dl = Files.createTempDirectory("graft_srv_rpl_dl_").toString + "/dl"
    val feed = Files.createTempDirectory("graft_srv_rpl_feed_").toString
    def seed(subtree: String, batchId: Long, id: Long): Unit =
      Seq(("r", s"""{"id":$id,"v":"x"}""")).toDF("violated", "row_json")
        .write.mode("overwrite")
        .parquet(s"$dl/$subtree/pipeline=cli/batch_id=$batchId")
    seed("_expect", 0L, 1L)
    seed("_expect", 1L, 2L)
    seed("_drift", 0L, 3L)
    // batchIds csv narrows the expect replay to batch 1 only
    assert(Serve.runReplay(spark, Seq("expect", dl, "cli", "d", "t",
      feed, "500", "1")) == 1L)
    assert(PipelineMetrics.expectDeadLetters(spark, dl).count() == 1L,
      "only the filtered batch retired")
    // drift kind routes to the _drift subtree
    assert(Serve.runReplay(spark, Seq("drift", dl, "cli", "d", "t",
      feed, "600")) == 1L)
    assert(PipelineMetrics.driftDeadLetters(spark, dl).count() == 0L)
    val names = new java.io.File(feed).listFiles().map(_.getName).toSet
    assert(names.contains("replay_expect_cli_500.json")
      && names.contains("replay_drift_cli_600.json"), s"got $names")
    val e1 = intercept[IllegalArgumentException](Serve.runReplay(spark,
      Seq("bogus", dl, "cli", "d", "t", feed, "700")))
    assert(e1.getMessage.contains("bogus"))
    val e2 = intercept[IllegalArgumentException](Serve.runReplay(spark,
      Seq("expect")))
    assert(e2.getMessage.contains("usage"))
  }

  test("replay hardening: stale epoch fails loud, malformed tsMs fails as usage, kind markers fence cross-kind replay") {
    val dl = Files.createTempDirectory("graft_srv_hard_dl_").toString + "/dl"
    val feed = Files.createTempDirectory("graft_srv_hard_feed_").toString
    Files.write(new java.io.File(feed, "000.json").toPath,
      Seq(wire("t", 1, "tail", 1000)).asJava)
    Seq(("r", """{"id":7,"v":"x"}""")).toDF("violated", "row_json")
      .write.mode("overwrite").parquet(s"$dl/_expect/pipeline=h/batch_id=0")
    // 1. a stale epoch (≤ the feed tail's ts_ms) would re-inject rows
    // that lose every LWW race — the verb must fail loud, not no-op
    val stale = intercept[IllegalArgumentException](Serve.runReplay(spark,
      Seq("expect", dl, "h", "d", "t", feed, "1000")))
    assert(stale.getMessage.contains("tail"), stale.getMessage)
    assert(graft.streaming.PipelineMetrics.expectDeadLetters(spark, dl)
      .count() == 1L, "a rejected epoch must consume nothing")
    // 2. malformed tsMs fails in the arg-contract require, as usage text
    val bad = intercept[IllegalArgumentException](Serve.runReplay(spark,
      Seq("expect", dl, "h", "d", "t", feed, "now")))
    assert(bad.getMessage.contains("epoch-millis"), bad.getMessage)
    // 3. a kind marker from a non-lww writer fences the lww verb: the
    // dead letters are DERIVED rows, re-injecting them as wire would be
    // silently wrong — the error names the keyed replay instead
    Files.createFile(new java.io.File(
      s"$dl/_expect/pipeline=h", "_KIND_view").toPath)
    val fenced = intercept[IllegalArgumentException](Serve.runReplay(spark,
      Seq("expect", dl, "h", "d", "t", feed, "2000")))
    assert(fenced.getMessage.contains("view")
      && fenced.getMessage.contains("replay-keys"), fenced.getMessage)
    // ...and the marker write path is the enforcement hook itself
    // (kind param) — exercised E2E by q168; here the search kind's
    // frozen-verdict refusal and the arg contract of replay-keys:
    val add = intercept[IllegalArgumentException](Serve.runReplayKeys(spark,
      Seq("search", "/tmp/nc", "s", "/tmp/nw", "d", feed, "2000")))
    assert(add.getMessage.contains("additive"), add.getMessage)
    val unk = intercept[IllegalArgumentException](Serve.runReplayKeys(spark,
      Seq("bogus", "/tmp/nc", "s", "/tmp/nw", "d", feed, "2000")))
    assert(unk.getMessage.contains("bogus"), unk.getMessage)
    val usage = intercept[IllegalArgumentException](Serve.runReplayKeys(spark,
      Seq("view", "/tmp/nc")))
    assert(usage.getMessage.contains("usage"), usage.getMessage)
    val badTs = intercept[IllegalArgumentException](Serve.runReplayKeys(spark,
      Seq("view", "/tmp/nc", "s", "/tmp/nw", "d", feed, "soon")))
    assert(badTs.getMessage.contains("epoch-millis"), badTs.getMessage)
    // an all-digit batch id past Long.MaxValue fails as usage text too
    // (the shared-validator contract), not a raw NumberFormatException
    val ovf = intercept[IllegalArgumentException](Serve.runReplay(spark,
      Seq("expect", dl, "h", "d", "t", feed, "3000",
        "9223372036854775808")))
    assert(ovf.getMessage.contains("batchIds"), ovf.getMessage)
    // 4. the registry tolerates two conf files (mis)sharing a name;
    // the replay verb must not — it resolves ONE registration unit
    val dup = Files.createTempDirectory("graft_srv_dup_").toFile
    def dupConf(fname: String): Unit =
      Files.write(new java.io.File(dup, fname).toPath, Seq(
        ("""{"kind":"dedup","name":"dd","databases":["d"],
           |"table":"documents","idKey":"doc_id","textField":"text",
           |"jdbc":{"url":"jdbc:derby:memory:srvdup;create=true",
           |"clustersTable":"dd_cl"}}""").stripMargin.replace("\n", ""))
        .asJava)
    dupConf("a.json"); dupConf("b.json")
    val two = intercept[IllegalArgumentException](Serve.runReplayKeys(spark,
      Seq("dedup", dup.toString, "dd", "/tmp/nw", "d", feed, "4000")))
    assert(two.getMessage.contains("2 dedup confs")
      && two.getMessage.contains("'dd'"), two.getMessage)
  }

  test("rebuild verb: a quarantined search store rebuilds under the evolved conf; non-search kinds refuse toward replay") {
    import graft.streaming.PipelineMetrics
    import org.apache.spark.sql.functions.col
    val url = "jdbc:derby:memory:graftrebuild;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE rb_post ("token" VARCHAR(256) NOT NULL,
        | "doc_id" BIGINT NOT NULL, "tf" BIGINT,
        | PRIMARY KEY ("token", "doc_id"))""".stripMargin.replace("\n", ""))
    c0.createStatement().execute(
      """CREATE TABLE rb_lens ("doc_id" BIGINT NOT NULL PRIMARY KEY,
        | "len" BIGINT)""".stripMargin.replace("\n", ""))
    c0.close()
    val dl = Files.createTempDirectory("graft_srv_rb_dl_").toString + "/dl"
    val confDir = Files.createTempDirectory("graft_srv_rb_conf_").toFile
    def conf(hi: Long): Unit =
      Files.write(new java.io.File(confDir, "s.json").toPath, Seq(
        s"""{"kind":"search","name":"rb","databases":["d"],
           |"table":"documents","idKey":"doc_id","textField":"text",
           |"jdbc":{"url":"$url","postingsTable":"rb_post",
           |"lensTable":"rb_lens"},
           |"metrics":{"url":"$url","table":"rb_metrics"},
           |"deadLetterDir":"$dl",
           |"expectations":[{"rule":"in_range","name":"doc_cap",
           |"column":"doc_id","lo":0,"hi":$hi,"action":"drop"}]}"""
          .stripMargin.replace("\n", "")).asJava)
    def docEv(id: Long, text: String, off: Long): String = {
      val ev = s"""{"payload":{"before":null,"after":{"doc_id":$id,""" +
        s""""text":"$text"},"source":{"db":"d","table":"documents",""" +
        s""""ts_ms":$off},"op":"c","ts_ms":$off}}"""
      s"""{"value":${mapper.writeValueAsString(ev)},"offset":$off}"""
    }
    val feed = Files.createTempDirectory("graft_srv_rb_feed_").toString
    Files.write(new java.io.File(feed, "000.json").toPath, Seq(
      docEv(1, "alpha beta", 1),
      docEv(2, "beta gamma", 2),
      docEv(5, "gamma delta", 3)).asJava)
    val work = Files.createTempDirectory("graft_srv_rb_work_").toString
    // strict conf (cap 2): doc 5's contributions quarantine
    conf(hi = 2L)
    val strict = registered[graft.streaming.SearchServingPipeline](
      confDir.toString).head
    strict.runOnce(spark, feed, work)
    def servedDocs(): Set[Long] = strict.servedPostings(spark)
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(servedDocs() == Set(1L, 2L), s"strict store, got ${servedDocs()}")
    assert(PipelineMetrics.expectDeadLetters(spark, dl).count() > 0L)
    // evolve the conf (widen the cap), rebuild through the VERB: the
    // frozen verdicts clear, the store truncates and re-derives, the
    // quarantine retires
    conf(hi = 1000L)
    assert(Serve.runRebuild(spark, Seq("search", confDir.toString, "rb",
      work, feed)) >= 1L)
    assert(servedDocs() == Set(1L, 2L, 5L),
      s"rebuilt store must hold the full corpus, got ${servedDocs()}")
    assert(PipelineMetrics.expectDeadLetters(spark, dl).count() == 0L,
      "the rebuild closes the quarantine")
    // the additive fold must not double-count across the rebuild
    val tf = strict.servedPostings(spark)
      .filter(col("token") === "beta" && col("doc_id") === 1L)
      .select(col("tf")).collect().map(_.getLong(0)).toSeq
    assert(tf == Seq(1L), s"rebuild must not double-count, got $tf")
    // --online: the zero-downtime variant through the same verb — the
    // next version builds beside, the pointer flips, the old tables
    // retire, and the served surface reads THROUGH the pointer
    val widened = registered[graft.streaming.SearchServingPipeline](
      confDir.toString).head
    assert(Serve.runRebuild(spark, Seq("search", confDir.toString, "rb",
      work, feed, "--online")) >= 0L)
    assert(widened.currentVersion() == 1, "the verb must flip the pointer")
    assert(servedDocs() == Set(1L, 2L, 5L),
      s"online-rebuilt store must hold the full corpus, got ${servedDocs()}")
    assert(scala.util.Try(spark.read.jdbc(url, "rb_post",
        new java.util.Properties()).count()).isFailure,
      "the superseded v0 tables must retire")
    val tf2 = strict.servedPostings(spark)
      .filter(col("token") === "beta" && col("doc_id") === 1L)
      .select(col("tf")).collect().map(_.getLong(0)).toSeq
    assert(tf2 == Seq(1L), s"online rebuild must not double-count, got $tf2")
    // refusals: the keyed kinds repair by replay, not rebuild
    val lww = intercept[IllegalArgumentException](Serve.runRebuild(spark,
      Seq("lww", confDir.toString, "rb", work, feed)))
    assert(lww.getMessage.contains("replay"), lww.getMessage)
    val usage = intercept[IllegalArgumentException](Serve.runRebuild(spark,
      Seq("search", confDir.toString)))
    assert(usage.getMessage.contains("usage"), usage.getMessage)
    // a typo'd flag must fail loud, never silently run the OFFLINE
    // (store-truncating) rebuild the operator asked to avoid
    val typo = intercept[IllegalArgumentException](Serve.runRebuild(spark,
      Seq("search", confDir.toString, "rb", work, feed, "--onlien")))
    assert(typo.getMessage.contains("--onlien"), typo.getMessage)
    val none = intercept[IllegalArgumentException](Serve.runRebuild(spark,
      Seq("search", confDir.toString, "nope", work, feed)))
    assert(none.getMessage.contains("nope"), none.getMessage)
  }

  test("soak: one Serve process over all five kinds, stopped in flight and restarted — no resend, contiguous metrics, maintenance compacted") {
    import graft.streaming.PipelineMetrics
    import org.apache.spark.sql.functions.col
    val url = "jdbc:derby:memory:graftsoak;create=true"
    def exec(ddl: String): Unit = {
      val c = java.sql.DriverManager.getConnection(url)
      try { c.createStatement().execute(ddl); () } finally c.close()
    }
    exec("""CREATE TABLE soak_enriched ("o_id" BIGINT NOT NULL PRIMARY KEY,
      | "c_id" BIGINT, "val" DOUBLE, "cc_id" BIGINT, "name" VARCHAR(64))"""
      .stripMargin.replace("\n", ""))
    exec("""CREATE TABLE soak_clusters ("doc_id" BIGINT NOT NULL PRIMARY KEY,
      | "cluster_id" BIGINT, "is_canonical" INTEGER)"""
      .stripMargin.replace("\n", ""))
    exec("""CREATE TABLE soak_postings ("vec_id" BIGINT NOT NULL PRIMARY KEY,
      | "cell" INTEGER, "emb_json" VARCHAR(32000))"""
      .stripMargin.replace("\n", ""))
    exec("""CREATE TABLE soak_spost ("token" VARCHAR(256) NOT NULL,
      | "doc_id" BIGINT NOT NULL, "tf" BIGINT,
      | PRIMARY KEY ("token", "doc_id"))""".stripMargin.replace("\n", ""))
    exec("""CREATE TABLE soak_slens ("doc_id" BIGINT NOT NULL PRIMARY KEY,
      | "len" BIGINT)""".stripMargin.replace("\n", ""))

    val confDir = Files.createTempDirectory("graft_soak_conf_").toFile
    def conf(fname: String, body: String): Unit =
      Files.write(new java.io.File(confDir, fname).toPath,
        Seq(body.stripMargin.replace("\n", "")).asJava)
    val mx = s""""metrics":{"url":"$url","table":"soak_metrics""" + "\"}"
    conf("lww.json",
      s"""{"name":"soak_lww","databases":["d"],"tables":["t"],
         |"idKey":"id","schema":"id BIGINT, v STRING",$mx}""")
    conf("view.json",
      s"""{"kind":"view","name":"soak_view","databases":["d"],
         |"fact":{"table":"orders","idKey":"o_id","joinKey":"c_id",
         |"schema":"o_id BIGINT, c_id BIGINT, val DOUBLE"},
         |"dim":{"table":"customer","idKey":"cc_id","joinKey":"cc_id",
         |"schema":"cc_id BIGINT, name STRING"},
         |"leftOuter":true,
         |"jdbc":{"url":"$url","table":"soak_enriched",
         |"stagingColumnTypes":"name VARCHAR(64)"},$mx}""")
    conf("dedup.json",
      s"""{"kind":"dedup","name":"soak_dedup","databases":["d"],
         |"table":"documents","idKey":"doc_id","textField":"text",
         |"jdbc":{"url":"$url","clustersTable":"soak_clusters"},$mx}""")
    conf("ann.json",
      s"""{"kind":"ann","name":"soak_ann","databases":["d"],
         |"table":"embeddings","idKey":"vec_id","vectorField":"embedding",
         |"centroids":[[1.0,0.0],[-1.0,0.0]],
         |"jdbc":{"url":"$url","postingsTable":"soak_postings"},$mx}""")
    conf("search.json",
      s"""{"kind":"search","name":"soak_search","databases":["d"],
         |"table":"documents","idKey":"doc_id","textField":"text",
         |"jdbc":{"url":"$url","postingsTable":"soak_spost",
         |"lensTable":"soak_slens"},$mx}""")

    val srcDir = Files.createTempDirectory("graft_soak_src_").toFile
    def docEv(id: Long, text: String, off: Long): String = {
      val ev = s"""{"payload":{"before":null,"after":{"doc_id":$id,"text":"$text"},""" +
        s""""source":{"db":"d","table":"documents","ts_ms":$off},"op":"c","ts_ms":$off}}"""
      s"""{"value":${mapper.writeValueAsString(ev)},"offset":$off}"""
    }
    def rawEv(table: String, after: String, off: Long): String = {
      val ev = s"""{"payload":{"before":null,"after":$after,""" +
        s""""source":{"db":"d","table":"$table","ts_ms":$off},"op":"c","ts_ms":$off}}"""
      s"""{"value":${mapper.writeValueAsString(ev)},"offset":$off}"""
    }
    val A = "alpha beta gamma delta epsilon zeta eta theta"
    Files.write(new java.io.File(srcDir, "000.json").toPath, Seq(
      wire("t", 1, "boot", 1),
      rawEv("orders", """{"o_id":10,"c_id":1,"val":5.0}""", 2),
      rawEv("customer", """{"cc_id":1,"name":"A"}""", 3),
      docEv(1, A, 4), docEv(2, A, 5),
      rawEv("embeddings", """{"vec_id":0,"embedding":[1.0,0.1]}""", 6),
      rawEv("embeddings", """{"vec_id":1,"embedding":[-1.0,0.1]}""", 7)).asJava)

    // scoped warehouse + a seeded LWW-shaped log over the compaction
    // threshold: maintenance on the watcher tick must compact it
    val wh = Files.createTempDirectory("graft_soak_wh_").toString
    val prevWh = spark.conf.getOption("spark.graft.warehouse")
    spark.conf.set("spark.graft.warehouse", wh)
    val seeded = s"$wh/soak_log/fp0"
    (0L to 2L).flatMap(b => Seq((1L, "upsert", s"""{"id":1,"b":$b}""",
        null: String, b), (2L, "upsert", s"""{"id":2,"b":$b}""",
        null: String, b)))
      .toDF("key", "action", "rowJson", "prevJson", "batch_id")
      .write.partitionBy("batch_id").mode("overwrite")
      .parquet(s"$seeded/data")
    Files.createFile(java.nio.file.Paths.get(s"$seeded/_GRAFT_DONE"))

    val workRoot = Files.createTempDirectory("graft_soak_work_").toString
    val storeDir = Files.createTempDirectory("graft_soak_store_").toString
    val cfg = EsSink.Config("http://graft-local/soak", "", "", "id")
    def doc(id: Long) = new java.io.File(storeDir, s"$id.json")
    def jdbcCount(table: String, where: String = "1=1"): Long = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement()
          .executeQuery(s"SELECT count(*) FROM $table WHERE $where")
        rs.next(); rs.getLong(1)
      } finally c.close()
    }
    def serveOnce(body: => Unit): Unit = {
      Files.deleteIfExists(java.nio.file.Paths.get(workRoot, "STOP"))
      @volatile var failure: Throwable = null
      val th = new Thread(() => {
        try Serve.run(spark, confDir.toString, srcDir.toString, workRoot,
          cfg, new EsSink.FileDocStore(storeDir), pollMs = 100L,
          maintainEveryMs = 300L, maintainMaxBatches = 2)
        catch { case e: Throwable => failure = e }
      }, "soak-serve")
      th.start()
      try body
      finally {
        try Files.createFile(java.nio.file.Paths.get(workRoot, "STOP"))
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        th.join(60000)
        assert(!th.isAlive, "soak server must drain on STOP")
        assert(failure == null, s"soak server failed: $failure")
      }
    }
    try {
      serveOnce {
        // every kind serves the boot wave
        assert(await()(doc(1).exists()), "lww serves")
        assert(await()(jdbcCount("soak_enriched") == 1L), "view serves")
        assert(await()(jdbcCount("soak_clusters") == 2L), "dedup serves")
        assert(await()(jdbcCount("soak_postings") == 2L), "ann serves")
        assert(await()(jdbcCount("soak_spost") >= 8L), "search serves")
        // mid-run wave 2 flows with no conf touch
        Files.write(new java.io.File(srcDir, "001.json").toPath, Seq(
          wire("t", 2, "live", 8),
          rawEv("orders", """{"o_id":11,"c_id":1,"val":7.0}""", 9)).asJava)
        assert(await()(doc(2).exists()), "lww follows the live feed")
        assert(await()(jdbcCount("soak_enriched") == 2L), "view follows")
        // maintenance ticked: the seeded over-threshold log compacted
        // (CURRENT repointed at a compact generation)
        assert(await()(Files.exists(
          java.nio.file.Paths.get(s"$seeded/CURRENT"))),
          "watcher-tick maintenance must compact the seeded log")
        // the no-resend claim below holds for COMMITTED batches only:
        // the doc-file write happens inside foreachBatch, seconds
        // before the offset/commit log lands under load, and a stop in
        // that window legitimately REPLAYS the batch (at-least-once
        // with idempotent overwrite — the engine contract). Wait for
        // the lww stream's checkpoint to commit the wave-2 batch
        // before staging the deliberately-in-flight wave 3.
        def lwwCommitted(batch: Long): Boolean = {
          def walk(f: java.io.File): Seq[java.io.File] =
            if (f.isDirectory)
              Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
                .toSeq.flatMap(walk)
            else Seq(f)
          walk(new java.io.File(s"$workRoot/ckpt/lww")).exists(f =>
            f.getParentFile.getName == "commits"
              && f.getName == batch.toString)
        }
        assert(await()(lwwCommitted(1L)),
          "wave-2 batch must commit before the in-flight wave lands")
        // wave 3 lands right before the stop — the restart must finish
        // serving it without re-sending waves 1–2
        Files.write(new java.io.File(srcDir, "002.json").toPath, Seq(
          wire("t", 3, "inflight", 10)).asJava)
      }
      val mtimes = Seq(1L, 2L).map(i => doc(i).lastModified())
      serveOnce {
        // the in-flight wave completes after the restart
        assert(await()(doc(3).exists()), "in-flight wave serves post-restart")
        // post-restart wave proves every kind is live again
        Files.write(new java.io.File(srcDir, "003.json").toPath, Seq(
          wire("t", 4, "post", 11),
          rawEv("embeddings", """{"vec_id":2,"embedding":[0.9,0.2]}""", 12)).asJava)
        assert(await()(doc(4).exists()), "lww live post-restart")
        assert(await()(jdbcCount("soak_postings") == 3L), "ann live post-restart")
        // no resend: waves 1–2's served documents untouched by the restart
        assert(Seq(1L, 2L).map(i => doc(i).lastModified()) == mtimes,
          "restart must not re-send already-served documents")
      }
      // metrics contiguity: for every pipeline that recorded, the batch
      // ids are exactly 0..max — no gap at the stop/restart boundary,
      // no duplicate from a replayed batch (DELETE+INSERT overwrites)
      val t = PipelineMetrics.Target(url, "soak_metrics")
      val byPipe = PipelineMetrics.rows(spark, t)
        .select(col("pipeline"), col("batch_id"))
        .as[(String, Long)].collect().groupBy(_._1)
      assert(byPipe.nonEmpty, "metrics recorded")
      byPipe.foreach { case (p, rows) =>
        val ids = rows.map(_._2).sorted.toSeq
        assert(ids == (0L to ids.max).toSeq,
          s"$p: batch ids contiguous across the restart, got $ids")
      }
    } finally {
      prevWh match {
        case Some(w) => spark.conf.set("spark.graft.warehouse", w)
        case None => spark.conf.unset("spark.graft.warehouse")
      }
    }
  }
}
