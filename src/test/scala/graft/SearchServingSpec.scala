package graft

import graft.ops.CorpusOps
import graft.streaming.SearchServingPipeline
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Streaming search-index serving E2E: a documents CDC feed maintains
  * term-posting and doc-length tables through additive exactly-once
  * MERGEs, and BM25 served from the STORE alone equals the batch scorer
  * over the current corpus after every churn wave.
  */
class SearchServingSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def wire(after: String, before: String, op: String,
      ts: Long, off: Long): String = {
    val ev = s"""{"payload":{"before":${Option(before).getOrElse("null")},""" +
      s""""after":${Option(after).getOrElse("null")},""" +
      s""""source":{"db":"shop","table":"documents","ts_ms":$ts},"op":"$op","ts_ms":$ts}}"""
    s"""{"value":${mapper.writeValueAsString(ev)},"offset":$off}"""
  }
  private def d(id: Long, text: String): String =
    mapper.writeValueAsString(java.util.Map.of(
      "doc_id", java.lang.Long.valueOf(id), "text", text))

  test("E2E: churn maintains the served index; BM25 from the store equals the batch scorer; replay is a no-op") {
    val url = "jdbc:derby:memory:graftsearch;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE postings ("token" VARCHAR(256) NOT NULL,
        | "doc_id" BIGINT NOT NULL, "tf" BIGINT,
        | PRIMARY KEY ("token", "doc_id"))""".stripMargin.replace("\n", ""))
    c0.createStatement().execute(
      """CREATE TABLE doclens ("doc_id" BIGINT NOT NULL PRIMARY KEY,
        | "len" BIGINT)""".stripMargin.replace("\n", ""))
    c0.close()

    val pipeline = SearchServingPipeline(
      name = "srch", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      jdbcUrl = url, postingsTable = "postings", lensTable = "doclens")
    val feedDir = Files.createTempDirectory("graft_search_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_search_work_").toString
    val qTokens = Seq("vector", "stream")

    def check(corpus: Seq[(Long, String)], label: String): Unit = {
      val served = pipeline.servedBm25(spark, qTokens)
        .as[(Long, Double)].collect().toMap
      val batch = CorpusOps.bm25(corpus.toDF("doc_id", "text"),
        "doc_id", "text", qTokens).as[(Long, Double)].collect().toMap
      assert(served.keySet == batch.keySet,
        s"$label: served ${served.keySet} vs batch ${batch.keySet}")
      served.foreach { case (id, s) =>
        assert(math.abs(s - batch(id)) < 1e-9, s"$label doc $id: $s vs ${batch(id)}")
      }
    }

    // wave 0: three docs, two containing query terms
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire(d(1, "vector search over stream data"), null, "c", 10, 1),
      wire(d(2, "stream join semantics"), null, "c", 10, 2),
      wire(d(3, "unrelated words here"), null, "c", 10, 3)).asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    check(Seq(1L -> "vector search over stream data",
      2L -> "stream join semantics", 3L -> "unrelated words here"), "wave 0")

    // wave 1: doc 1 revised (loses 'stream', keeps 'vector'), doc 2
    // deleted — postings must retract (zero-guard) and stats must move
    Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
      wire(d(1, "vector index only"), d(1, "vector search over stream data"),
        "u", 20, 4),
      wire(null, d(2, "stream join semantics"), "d", 21, 5)).asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    check(Seq(1L -> "vector index only", 3L -> "unrelated words here"),
      "wave 1")
    // the deleted doc's rows are GONE from the store, not zeroed
    assert(pipeline.servedPostings(spark).filter($"doc_id" === 2L).isEmpty)
    assert(pipeline.servedLens(spark).filter($"doc_id" === 2L).isEmpty)

    // no new feed data → re-drain is a no-op (exactly-once additive
    // merges must not double-apply)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    check(Seq(1L -> "vector index only", 3L -> "unrelated words here"),
      "re-drain")

    // REBUILD: fresh work dir + truncated store. Batch ids restart at
    // 0, so the progress markers from the first run would cover every
    // replayed batch — without the fresh-work-dir marker clear, the
    // rebuilt store stays silently EMPTY forever
    val rebuilt = Files.createTempDirectory("graft_search_work2_").toString
    val c1 = java.sql.DriverManager.getConnection(url)
    c1.createStatement().execute("DELETE FROM postings")
    c1.createStatement().execute("DELETE FROM doclens")
    c1.close()
    pipeline.runOnce(spark, feedDir.toString, rebuilt)
    check(Seq(1L -> "vector index only", 3L -> "unrelated words here"),
      "rebuild")
  }

  test("conf-declared search pipeline: watcher add starts serving, delete stops and preserves checkpoints") {
    import graft.streaming.{PipelineRegistry, PipelineWatcher}
    val url = "jdbc:derby:memory:graftsearchconf;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE postings2 ("token" VARCHAR(256) NOT NULL,
        | "doc_id" BIGINT NOT NULL, "tf" BIGINT,
        | PRIMARY KEY ("token", "doc_id"))""".stripMargin.replace("\n", ""))
    c0.createStatement().execute(
      """CREATE TABLE doclens2 ("doc_id" BIGINT NOT NULL PRIMARY KEY,
        | "len" BIGINT)""".stripMargin.replace("\n", ""))
    c0.close()

    val confDir = Files.createTempDirectory("graft_searchconf_").toFile
    val feedDir = Files.createTempDirectory("graft_searchconf_feed_").toFile
    val ckptRoot = Files.createTempDirectory("graft_searchconf_ckpt_").toString
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire(d(1, "vector stream"), null, "c", 10, 1)).asJava)

    val cfg = graft.sinks.EsSink.Config("http://es:9200/idx", "u", "p", "id")
    val watcher = new PipelineWatcher(spark, confDir.toString,
      feedDir.toString, ckptRoot, cfg, new SinkSpec.Recorder,
      viewTriggerInterval = "200 milliseconds")
    try {
      assert(watcher.startPipelines().isEmpty)
      val conf = new java.io.File(confDir, "srch.json")
      Files.write(conf.toPath, Seq(
        s"""{"kind":"search","name":"srch2","databases":["shop"],
           |"table":"documents","idKey":"doc_id","textField":"text",
           |"jdbc":{"url":"$url","postingsTable":"postings2",
           |        "lensTable":"doclens2"}}"""
          .stripMargin.replace("\n", "")).asJava)
      assert(watcher.pollOnce() == Seq("srch2"))
      assert(watcher.activeQueries("srch2").size == 2)
      def served(): Set[(String, Long, Long)] =
        spark.read.jdbc(url, "postings2", new java.util.Properties())
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .toSet
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (served().size < 2 && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(served() == Set(("vector", 1L, 1L), ("stream", 1L, 1L)),
        s"conf-declared search must serve, got ${served()}")

      val live = watcher.activeQueries("srch2")
      assert(conf.delete())
      assert(watcher.pollOnce().isEmpty)
      assert(live.forall(!_.isActive) && watcher.activeQueries.isEmpty)
      val workDir = s"$ckptRoot/${PipelineRegistry.ckptKey(conf.getAbsolutePath)}"
      assert(new java.io.File(s"$workDir/ckpt_index").exists(),
        "deregistration preserves checkpoints")
    } finally watcher.stop()
  }

  test("live Halt gate: a mid-stream drift breach freezes the store at the pre-breach batch; conf evolve + restart resumes") {
    import graft.streaming.{CdcPipeline, PipelineMetrics, SearchServingPipeline}
    import org.apache.spark.sql.functions.col
    val url = "jdbc:derby:memory:graftsearchhalt;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE hl_post ("token" VARCHAR(256) NOT NULL,
        | "doc_id" BIGINT NOT NULL, "tf" BIGINT,
        | PRIMARY KEY ("token", "doc_id"))""".stripMargin.replace("\n", ""))
    c0.createStatement().execute(
      """CREATE TABLE hl_lens ("doc_id" BIGINT NOT NULL PRIMARY KEY,
        | "len" BIGINT)""".stripMargin.replace("\n", ""))
    c0.close()
    val target = PipelineMetrics.Target(url, "hl_metrics")
    PipelineMetrics.ensureTable(target)
    PipelineMetrics.ensureDriftTable(target)
    def pipe(budget: Long) = SearchServingPipeline(
      name = "hl", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      jdbcUrl = url, postingsTable = "hl_post", lensTable = "hl_lens",
      metrics = Some(target),
      driftPolicy = Some(CdcPipeline.DriftPolicy(newColsBudget = budget,
        action = graft.ops.Profile.Halt)))
    val feedDir = Files.createTempDirectory("graft_search_halt_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_search_halt_work_").toString
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire(d(1, "alpha beta"), null, "c", 10, 1),
      wire(d(2, "beta gamma"), null, "c", 10, 2)).asJava)
    def servedDocs(): Set[Long] =
      spark.read.jdbc(url, "hl_post", new java.util.Properties())
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    def await(deadlineMs: Long = 60000L)(cond: => Boolean): Boolean = {
      val end = System.currentTimeMillis() + deadlineMs
      while (!cond && System.currentTimeMillis() < end) Thread.sleep(200)
      cond
    }
    // LIVE deployment: gate + log + index stages run CONCURRENTLY on a
    // processing-time trigger — the concurrent path runOnce never
    // exercises
    val strict = pipe(budget = 0L)
    val queries = strict.start(spark, feedDir.toString, workRoot,
      interval = "200 milliseconds")
    val gate = queries.find(_.name == "driftgate_hl").get
    try {
      assert(await()(servedDocs() == Set(1L, 2L)),
        s"clean wave serves live, got ${servedDocs()}")
      // the breach arrives MID-STREAM: an undeclared field over budget
      Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
        wire("""{"doc_id":3,"text":"gamma delta","note":"n"}""",
          null, "c", 20, 3)).asJava)
      assert(await()(gate.exception.isDefined),
        "the gate query must quarantine on the breach")
      // the verdict recorded BEFORE the halt: the breach is observable
      val verdicts = PipelineMetrics.driftRows(spark, target)
        .filter(col("pipeline") === "hl" && col("new_cols") > 0L).count()
      assert(verdicts >= 1L, "the breach batch's verdict must land first")
      // post-breach traffic: the log/index stages still RUN, but only
      // against the judged log, which froze at the pre-breach batch —
      // neither the drifted doc nor anything behind it reaches the store
      Files.write(new java.io.File(feedDir, "002.json").toPath, Seq(
        wire(d(4, "delta epsilon"), null, "c", 30, 4)).asJava)
      Thread.sleep(2000) // give a live (unfrozen) pipeline time to leak
      assert(servedDocs() == Set(1L, 2L),
        s"the store must freeze pre-breach, got ${servedDocs()}")
    } finally queries.foreach(q => if (q.isActive) q.stop())
    // conf fix (budget raise) + restart from the shared checkpoints:
    // the quarantined batch re-drains tolerated, the queue behind it
    // follows — the expectation-Halt lifecycle, gate edition
    pipe(budget = 1L).runOnce(spark, feedDir.toString, workRoot)
    assert(servedDocs() == Set(1L, 2L, 3L, 4L),
      s"the evolved conf resumes the frozen queue, got ${servedDocs()}")
  }

  test("online rebuild: old store serves BM25 throughout, the pointer flip is atomic, the new store is exact, runOnce continues at the new version") {
    import graft.ops.Profile
    import graft.streaming.PipelineMetrics
    import org.apache.spark.sql.functions.col
    val url = "jdbc:derby:memory:graftsearchol;create=true"
    // v0 tables under the conf's DECLARED names — a pre-versioning
    // deployment; the verb must carry it to _v1 without downtime
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE postings_ol ("token" VARCHAR(256) NOT NULL,
        | "doc_id" BIGINT NOT NULL, "tf" BIGINT,
        | PRIMARY KEY ("token", "doc_id"))""".stripMargin.replace("\n", ""))
    c0.createStatement().execute(
      """CREATE TABLE doclens_ol ("doc_id" BIGINT NOT NULL PRIMARY KEY,
        | "len" BIGINT)""".stripMargin.replace("\n", ""))
    c0.close()
    val target = PipelineMetrics.Target(url, "metrics_ol")
    PipelineMetrics.ensureTable(target)
    PipelineMetrics.ensureExpectTable(target)
    val dead = Files.createTempDirectory("graft_srchol_dead_").toString
    def pipe(hi: Double) = SearchServingPipeline(
      name = "srchol", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      jdbcUrl = url, postingsTable = "postings_ol", lensTable = "doclens_ol",
      metrics = Some(target), deadLetterDir = Some(dead),
      expectations = Seq(Profile.InRange("doc_cap", "doc_id", 0.0, hi,
        action = Profile.Drop)))
    val feedDir = Files.createTempDirectory("graft_srchol_feed_").toFile
    val work = Files.createTempDirectory("graft_srchol_work_").toString + "/w"
    val qTokens = Seq("vector", "stream")
    val corpus = Seq(1L -> "vector search over stream data",
      2L -> "stream join semantics", 3L -> "unrelated words here",
      50L -> "vector stores at scale")
    Files.write(new java.io.File(feedDir, "000.json").toPath,
      corpus.zipWithIndex.map { case ((id, t), i) =>
        wire(d(id, t), null, "c", 10, i + 1L) }.asJava)

    // drive 1 under a strict cap: doc 50's contributions quarantine
    pipe(hi = 10.0).runOnce(spark, feedDir.toString, work)
    assert(!PipelineMetrics.expectDeadLetters(spark, dead)
        .filter(col("pipeline") === "srchol").isEmpty,
      "the strict cap must actually quarantine")
    def scores(p: SearchServingPipeline): Map[Long, Double] =
      p.servedBm25(spark, qTokens).as[(Long, Double)].collect().toMap
    val oldScores = scores(pipe(10.0))
    assert(!oldScores.contains(50L) && oldScores.contains(1L))

    // concurrent reader sampling BM25 while the rebuild runs: every
    // sample must be the OLD answer or the NEW one — an empty or
    // blended result means the serving surface was touched mid-build
    // or a read straddled the flip
    val widened = pipe(hi = 1e9)
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Map[Long, Double]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() =>
      while (!stop.get()) {
        // a read in flight exactly when the OLD tables retire fails
        // loud (documented single-process semantics) — that is not a
        // stale or mixed read, so it does not sample
        try { samples.add(scores(widened)); () } catch { case _: Exception => () }
      }, "srchol-reader")
    samples.add(scores(widened)) // guaranteed pre-build observation
    reader.start()
    try widened.rebuildStoreOnline(spark, feedDir.toString, work)
    finally { stop.set(true); reader.join(30000) }

    assert(widened.currentVersion() == 1)
    val newScores = scores(widened)
    assert(newScores.contains(50L), s"the widened cap admits doc 50: $newScores")
    // exactness: the swapped store equals the batch scorer over the
    // full corpus — a double-counted or lost contribution breaks this
    val batch = CorpusOps.bm25(corpus.toDF("doc_id", "text"),
      "doc_id", "text", qTokens).as[(Long, Double)].collect().toMap
    assert(newScores.keySet == batch.keySet)
    newScores.foreach { case (id, s) =>
      assert(math.abs(s - batch(id)) < 1e-9, s"doc $id: $s vs ${batch(id)}") }
    // serving throughout + atomic flip: old answer until the flip, new
    // answer after, nothing else ever observed
    val obs = samples.asScala.toSeq
    assert(obs.head == oldScores, "the pre-build read serves the old store")
    assert(obs.forall(o => o == oldScores || o == newScores),
      s"mixed/partial observation during online rebuild: ${obs.distinct}")
    // quarantine closed: nothing violates the widened cap
    assert(PipelineMetrics.expectDeadLetters(spark, dead)
      .filter(col("pipeline") === "srchol").isEmpty)
    // old version retired: tables dropped, v0 work root gone, v1 lives
    val eOld = intercept[Exception](
      spark.read.jdbc(url, "postings_ol", new java.util.Properties()).count())
    assert(eOld != null)
    assert(!Files.exists(java.nio.file.Paths.get(work)) &&
      Files.exists(java.nio.file.Paths.get(work + "_v1")))

    // catch-up: feed traffic after the build drains through the conf's
    // NORMAL runOnce, which resolves to v1 and continues from the
    // build's checkpoints — exactly once (a re-drain changes nothing)
    Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
      wire(d(4, "vector stream fusion"), null, "c", 20, 10)).asJava)
    widened.runOnce(spark, feedDir.toString, work)
    widened.runOnce(spark, feedDir.toString, work) // no double count
    val after = scores(widened)
    val corpus2 = corpus :+ (4L -> "vector stream fusion")
    val batch2 = CorpusOps.bm25(corpus2.toDF("doc_id", "text"),
      "doc_id", "text", qTokens).as[(Long, Double)].collect().toMap
    assert(after.keySet == batch2.keySet, s"$after vs $batch2")
    after.foreach { case (id, s) =>
      assert(math.abs(s - batch2(id)) < 1e-9, s"doc $id: $s vs ${batch2(id)}") }

    // crash-retry hygiene: simulate a previous attempt at the NEXT
    // version that died mid-build — its tables hold garbage rows, its
    // work dir a half-built checkpoint — the pointer never flipped, so
    // nothing served from them, and the retry must drop and rebuild
    // them from scratch rather than merge into the wreckage
    val c2 = java.sql.DriverManager.getConnection(url)
    c2.createStatement().execute(
      """CREATE TABLE postings_ol_v2 ("token" VARCHAR(256) NOT NULL,
        | "doc_id" BIGINT NOT NULL, "tf" BIGINT,
        | PRIMARY KEY ("token", "doc_id"))""".stripMargin.replace("\n", ""))
    c2.createStatement().execute(
      """INSERT INTO postings_ol_v2 VALUES ('garbage', 999, 42)""")
    // ...and an ORPHANED pre-flip version (a crash between a flip and
    // its retirement sweep): the next verb's sweep must still catch it
    c2.createStatement().execute(
      """CREATE TABLE postings_ol ("token" VARCHAR(256) NOT NULL,
        | "doc_id" BIGINT NOT NULL, "tf" BIGINT,
        | PRIMARY KEY ("token", "doc_id"))""".stripMargin.replace("\n", ""))
    c2.close()
    Files.createDirectories(java.nio.file.Paths.get(work + "_v2/ckpt_index"))

    // the pointer iterates: a second online rebuild lands at v2, still
    // exact (no garbage survives the retry hygiene), and v1 retires
    widened.rebuildStoreOnline(spark, feedDir.toString, work)
    assert(widened.currentVersion() == 2)
    assert(!Files.exists(java.nio.file.Paths.get(work + "_v1")) &&
      Files.exists(java.nio.file.Paths.get(work + "_v2")))
    val v2 = scores(widened)
    assert(v2.keySet == batch2.keySet)
    v2.foreach { case (id, s) =>
      assert(math.abs(s - batch2(id)) < 1e-9, s"doc $id: $s vs ${batch2(id)}") }
    assert(widened.servedPostings(spark)
      .filter($"doc_id" === 999L).isEmpty,
      "a crashed prior attempt's rows must not survive the retry")
    assert(scala.util.Try(spark.read.jdbc(url, "postings_ol",
        new java.util.Properties()).count()).isFailure,
      "the sweep retires EVERY superseded version, orphans included")
  }

  test("a FAILED online rebuild leaves the serving store AND its quarantine intact; the retry swaps both") {
    import graft.ops.Profile
    import graft.streaming.PipelineMetrics
    import org.apache.spark.sql.functions.col
    val url = "jdbc:derby:memory:graftsearchfb;create=true"
    val target = PipelineMetrics.Target(url, "metrics_fb")
    PipelineMetrics.ensureTable(target)
    PipelineMetrics.ensureExpectTable(target)
    val dead = Files.createTempDirectory("graft_srchfb_dead_").toString
    def pipe(rules: Seq[Profile.Rule]) = SearchServingPipeline(
      name = "srchfb", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      jdbcUrl = url, postingsTable = "postings_fb", lensTable = "doclens_fb",
      metrics = Some(target), deadLetterDir = Some(dead),
      expectations = rules)
    pipe(Nil).ensureStoreTables()
    val feedDir = Files.createTempDirectory("graft_srchfb_feed_").toFile
    val work = Files.createTempDirectory("graft_srchfb_work_").toString + "/w"
    val qTokens = Seq("vector", "stream")
    val corpus = Seq(1L -> "vector search over stream data",
      2L -> "stream join semantics", 50L -> "vector stores at scale")
    Files.write(new java.io.File(feedDir, "000.json").toPath,
      corpus.zipWithIndex.map { case ((id, t), i) =>
        wire(d(id, t), null, "c", 10, i + 1L) }.asJava)
    val cap = Seq(Profile.InRange("doc_cap", "doc_id", 0.0, 10.0,
      action = Profile.Drop))

    // drive 1 under a strict cap: doc 50 quarantines
    pipe(cap).runOnce(spark, feedDir.toString, work)
    def letters(): Long = PipelineMetrics.expectDeadLetters(spark, dead)
      .filter(col("pipeline") === "srchfb").count()
    val lettersBefore = letters()
    assert(lettersBefore > 0L, "the strict cap must actually quarantine")
    def scores(p: SearchServingPipeline): Map[Long, Double] =
      p.servedBm25(spark, qTokens).as[(Long, Double)].collect().toMap
    val oldScores = scores(pipe(cap))
    assert(!oldScores.contains(50L))

    // a rebuild whose evolved conf HALTS during the build: the verb
    // fails, and — the r15 review's operator-visible window — the old
    // store must keep serving WITH its quarantine fully listed (the
    // build quarantined into the staged root, never the live tree)
    val halting = pipe(cap :+ Profile.InRange("tf_halt", "tf", 0.0, 0.5,
      action = Profile.Halt)) // every posting has tf >= 1: trips at once
    intercept[Exception](
      halting.rebuildStoreOnline(spark, feedDir.toString, work))
    assert(halting.currentVersion() == 0,
      "a failed build must never flip the pointer")
    assert(letters() == lettersBefore,
      "a failed build must not retire or dilute the serving quarantine")
    assert(scores(pipe(cap)) == oldScores,
      "the old store keeps serving through a failed build")

    // the retry under a good widened conf succeeds: pointer flips, the
    // quarantine swaps to the new store's (empty — nothing violates)
    val widened = pipe(Seq(Profile.InRange("doc_cap", "doc_id", 0.0, 1e9,
      action = Profile.Drop)))
    widened.rebuildStoreOnline(spark, feedDir.toString, work)
    assert(widened.currentVersion() == 1)
    assert(letters() == 0L, "the successful swap adopts the staged " +
      "(clean) quarantine in place of the old letters")
    val newScores = scores(widened)
    assert(newScores.contains(50L))
    val batch = CorpusOps.bm25(corpus.toDF("doc_id", "text"),
      "doc_id", "text", qTokens).as[(Long, Double)].collect().toMap
    assert(newScores.keySet == batch.keySet)
    newScores.foreach { case (id, s) =>
      assert(math.abs(s - batch(id)) < 1e-9) }
    // no staging residue under the dead-letter dir
    assert(!Files.exists(java.nio.file.Paths.get(s"$dead/_rebuild_v1")),
      "the adopted staging root must not linger")
  }

  test("retireAfterMs grace: superseded versions stay readable until the sweep's clock elapses; the sweep self-heals a lost clock") {
    import graft.streaming.PipelineMetrics
    val url = "jdbc:derby:memory:graftsearchgr;create=true"
    val target = PipelineMetrics.Target(url, "metrics_gr")
    PipelineMetrics.ensureTable(target)
    val graceMs = 300000L
    def pipe() = SearchServingPipeline(
      name = "srchgr", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      jdbcUrl = url, postingsTable = "postings_gr", lensTable = "doclens_gr",
      metrics = Some(target), retireAfterMs = graceMs)
    pipe().ensureStoreTables()
    val feedDir = Files.createTempDirectory("graft_srchgr_feed_").toFile
    val work = Files.createTempDirectory("graft_srchgr_work_").toString + "/w"
    val qTokens = Seq("vector", "stream")
    val corpus = Seq(1L -> "vector search over stream data",
      2L -> "stream join semantics")
    Files.write(new java.io.File(feedDir, "000.json").toPath,
      corpus.zipWithIndex.map { case ((id, t), i) =>
        wire(d(id, t), null, "c", 10, i + 1L) }.asJava)
    val p = pipe()
    p.runOnce(spark, feedDir.toString, work)
    val oldScores = p.servedBm25(spark, qTokens)
      .as[(Long, Double)].collect().toMap
    assert(oldScores.nonEmpty)

    // online rebuild under the grace conf: the flip happens, but v0's
    // tables and work root SURVIVE it — a reader in another driver
    // that resolved the pointer pre-flip keeps answering from them
    p.rebuildStoreOnline(spark, feedDir.toString, work)
    assert(p.currentVersion() == 1)
    def v0Readable(): Boolean = scala.util.Try(
      spark.read.jdbc(url, "postings_gr",
        new java.util.Properties()).count()).isSuccess
    assert(v0Readable(), "grace must leave the superseded tables readable")
    assert(Files.exists(java.nio.file.Paths.get(work)),
      "grace must leave the superseded work root")
    // the pinned reader's answer is the OLD store's, byte-equal
    val pinned = CorpusOps.bm25FromIndex(
      spark.read.jdbc(url, "postings_gr", new java.util.Properties())
        .selectExpr("token", "CAST(doc_id AS LONG) doc_id",
          "CAST(tf AS LONG) tf"),
      spark.read.jdbc(url, "doclens_gr", new java.util.Properties())
        .selectExpr("CAST(doc_id AS LONG) doc_id", "CAST(len AS LONG) len"),
      qTokens).as[(Long, Double)].collect().toMap
    assert(pinned.keySet == oldScores.keySet)
    pinned.foreach { case (id, s) =>
      assert(math.abs(s - oldScores(id)) < 1e-9) }

    // the sweep before the window elapses is a no-op
    val now = System.currentTimeMillis()
    assert(p.sweepSupersededVersions(spark, work, now) == 0)
    assert(v0Readable())
    // self-healing: a crash between flip and schedule loses the clock
    // row — the sweep conservatively RESTARTS it instead of retiring
    val c = java.sql.DriverManager.getConnection(url)
    c.createStatement().executeUpdate("DELETE FROM postings_gr_retire")
    c.close()
    assert(p.sweepSupersededVersions(spark, work, now) == 0)
    assert(v0Readable(), "a lost clock must restart the window, not retire")
    // past the (restarted) window: the sweep retires v0 wholesale
    assert(p.sweepSupersededVersions(spark, work,
      now + graceMs + 60000L) == 1)
    assert(!v0Readable() && !Files.exists(java.nio.file.Paths.get(work)),
      "the due sweep retires tables and work root")
    // idempotent: nothing pending afterwards
    assert(p.sweepSupersededVersions(spark, work,
      now + graceMs + 60000L) == 0)
    // the new version serves unchanged throughout
    val after = p.servedBm25(spark, qTokens)
      .as[(Long, Double)].collect().toMap
    assert(after.keySet == oldScores.keySet)
    after.foreach { case (id, s) =>
      assert(math.abs(s - oldScores(id)) < 1e-9) }
  }
}
