package graft

import graft.cdc.Subscription
import graft.sinks.EsSink
import graft.streaming._
import org.apache.spark.sql.types.StructType
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Per-pipeline metrics contract (S6's serving-side observability):
  * every kind's SERVING stage writes exactly one (pipeline, batch_id)
  * row per drained micro-batch to the conf-declared JDBC table, with
  * dead-letter counts matching the frames, and a replayed batch
  * overwrites its own row rather than duplicating it.
  */
class MetricsSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def wire(table: String, after: String, before: String, op: String,
      ts: Long, off: Long): String = {
    val ev = s"""{"payload":{"before":${Option(before).getOrElse("null")},""" +
      s""""after":${Option(after).getOrElse("null")},""" +
      s""""source":{"db":"shop","table":"$table","ts_ms":$ts},"op":"$op","ts_ms":$ts}}"""
    s"""{"value":${mapper.writeValueAsString(ev)},"offset":$off}"""
  }
  private def doc(id: Long, text: String): String =
    s"""{"doc_id":$id,"text":"$text"}"""

  private val url = "jdbc:derby:memory:graftmetrics;create=true"
  private val target = PipelineMetrics.Target(url, "pipe_metrics")
  PipelineMetrics.ensureTable(target)

  private def rowsFor(pipeline: String): Seq[(String, Long, Long, Long, Long)] =
    PipelineMetrics.rows(spark, target)
      .filter($"pipeline" === pipeline)
      .select($"kind", $"batch_id", $"rows_in", $"dead_letters", $"state_rows")
      .as[(String, Long, Long, Long, Long)]
      .collect().sortBy(_._2).toSeq

  private def exec(ddl: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try { c.createStatement().execute(ddl); () } finally c.close()
  }

  test("ensureTable is idempotent and record overwrites its (pipeline, batch) row on replay") {
    PipelineMetrics.ensureTable(target) // second call: X0Y32 swallowed
    PipelineMetrics.record(target, "p0", "lww", 3L, 10L, 1L, 0L, 5L)
    PipelineMetrics.record(target, "p0", "lww", 3L, 10L, 2L, 0L, 6L) // replay
    assert(rowsFor("p0") == Seq(("lww", 3L, 10L, 2L, 0L)),
      "replayed batch overwrites, never duplicates")
    // a down metrics store only logs — the caller survives
    PipelineMetrics.record(
      PipelineMetrics.Target("jdbc:derby:memory:nosuchdb", "t"),
      "p0", "lww", 0L, 0L, 0L, 0L, 0L)
  }

  test("lww: one row per drained batch; dead-letter count matches the frames when the sink fails hard") {
    val feedDir = Files.createTempDirectory("graft_mx_lww_feed_").toFile
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire("documents", doc(1, "a"), null, "c", 10, 1),
      wire("documents", doc(2, "b"), null, "c", 10, 2)).asJava)
    val pipeline = CdcPipeline(
      name = "mx_lww", subscription = Subscription(Set("shop"), Set("documents")),
      rowSchema = StructType.fromDDL("doc_id BIGINT, text STRING"),
      idKey = "doc_id", metrics = Some(target))
    val cfg = EsSink.Config("http://es/idx", "u", "p", "doc_id",
      maxRetries = 0)
    // every send fails PERMANENTLY (HTTP 400): all records dead-letter
    val failing = new EsSink.Transport {
      def send(req: EsSink.Request): Int = 400
    }
    pipeline.start(spark, feedDir.toString,
      Files.createTempDirectory("graft_mx_lww_ckpt_").toString,
      cfg, failing).awaitTermination()
    val rows = rowsFor("mx_lww")
    assert(rows.map(r => (r._1, r._3, r._4)) == Seq(("lww", 2L, 2L)),
      s"2 keyed effects, both dead-lettered, got $rows")
  }

  test("view (jdbc): one row per drained view batch, zero dead letters") {
    exec("""CREATE TABLE mx_enriched ("o_orderkey" BIGINT NOT NULL PRIMARY KEY,
      | "o_custkey" BIGINT, "o_total" DOUBLE,
      | "c_custkey" BIGINT, "c_name" VARCHAR(64))"""
      .stripMargin.replace("\n", ""))
    val feedDir = Files.createTempDirectory("graft_mx_view_feed_").toFile
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire("customer", """{"c_custkey":1,"c_name":"A"}""", null, "c", 10, 1),
      wire("orders", """{"o_orderkey":10,"o_custkey":1,"o_total":5.0}""",
        null, "c", 10, 2)).asJava)
    val pipeline = ViewPipeline(
      name = "mx_view", databases = Set("shop"),
      factTable = "orders",
      factSchema = StructType.fromDDL(
        "o_orderkey BIGINT, o_custkey BIGINT, o_total DOUBLE"),
      factIdField = "o_orderkey", factJoinField = "o_custkey",
      dimTable = "customer",
      dimSchema = StructType.fromDDL("c_custkey BIGINT, c_name STRING"),
      dimIdField = "c_custkey", dimJoinField = "c_custkey",
      leftOuter = true,
      target = JdbcTarget(url, "mx_enriched",
        Some("c_name VARCHAR(64)")),
      metrics = Some(target))
    pipeline.runOnce(spark, feedDir.toString,
      Files.createTempDirectory("graft_mx_view_work_").toString)
    val rows = rowsFor("mx_view")
    assert(rows.nonEmpty && rows.forall(_._1 == "view"))
    assert(rows.map(_._2) == rows.map(_._2).distinct,
      "one row per batch id")
    assert(rows.map(_._3).sum >= 1L, "enriched deltas counted")
    assert(rows.forall(_._4 == 0L), "jdbc target: no dead letters")
  }

  test("dedup: one row per drained cluster batch; state_rows is the net pair churn") {
    exec("""CREATE TABLE mx_clusters ("doc_id" BIGINT NOT NULL PRIMARY KEY,
      | "cluster_id" BIGINT, "is_canonical" INTEGER)"""
      .stripMargin.replace("\n", ""))
    val A = "alpha beta gamma delta epsilon zeta eta theta"
    val feedDir = Files.createTempDirectory("graft_mx_dedup_feed_").toFile
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire("documents", doc(1, A), null, "c", 10, 1),
      wire("documents", doc(2, A), null, "c", 10, 2)).asJava)
    val pipeline = DedupClusterPipeline(
      name = "mx_dedup", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      target = JdbcTarget(url, "mx_clusters"), metrics = Some(target))
    pipeline.runOnce(spark, feedDir.toString,
      Files.createTempDirectory("graft_mx_dedup_work_").toString)
    val rows = rowsFor("mx_dedup")
    assert(rows.nonEmpty && rows.forall(_._1 == "dedup"))
    assert(rows.map(_._5).sum >= 1L,
      s"identical texts must produce net pair support, got $rows")
  }

  test("ann: one row per drained index batch; info carries the quantizer generation") {
    exec("""CREATE TABLE mx_postings ("vec_id" BIGINT NOT NULL PRIMARY KEY,
      | "cell" INTEGER, "emb_json" VARCHAR(32000))"""
      .stripMargin.replace("\n", ""))
    val feedDir = Files.createTempDirectory("graft_mx_ann_feed_").toFile
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire("embeddings", """{"vec_id":0,"embedding":[1.0,0.1]}""", null, "c", 10, 1),
      wire("embeddings", """{"vec_id":1,"embedding":[-1.0,0.1]}""", null, "c", 10, 2)).asJava)
    val pipeline = AnnServingPipeline(
      name = "mx_ann", databases = Set("shop"), table = "embeddings",
      idField = "vec_id", vectorField = "embedding",
      cents = Array(Array(1f, 0f), Array(-1f, 0f)),
      jdbcUrl = url, postingsTable = "mx_postings", metrics = Some(target))
    pipeline.runOnce(spark, feedDir.toString,
      Files.createTempDirectory("graft_mx_ann_work_").toString)
    val rows = rowsFor("mx_ann")
    assert(rows.nonEmpty && rows.forall(_._1 == "ann"))
    assert(rows.map(_._3).sum == 2L, s"two posting actions, got $rows")
    val info = PipelineMetrics.rows(spark, target)
      .filter($"pipeline" === "mx_ann").select($"info")
      .as[String].collect().head
    assert(info.contains("gen_0"), s"generation recorded, got $info")
  }

  test("search: one row per drained index batch; state_rows covers posting and length churn") {
    exec("""CREATE TABLE mx_spost ("token" VARCHAR(256) NOT NULL,
      | "doc_id" BIGINT NOT NULL, "tf" BIGINT,
      | PRIMARY KEY ("token", "doc_id"))""".stripMargin.replace("\n", ""))
    exec("""CREATE TABLE mx_slens ("doc_id" BIGINT NOT NULL PRIMARY KEY,
      | "len" BIGINT)""".stripMargin.replace("\n", ""))
    val feedDir = Files.createTempDirectory("graft_mx_search_feed_").toFile
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire("documents", doc(1, "vector stream"), null, "c", 10, 1)).asJava)
    val pipeline = SearchServingPipeline(
      name = "mx_search", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      jdbcUrl = url, postingsTable = "mx_spost", lensTable = "mx_slens",
      metrics = Some(target))
    val workRoot = Files.createTempDirectory("graft_mx_search_work_").toString
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    val rows = rowsFor("mx_search")
    assert(rows.nonEmpty && rows.forall(_._1 == "search"))
    // 2 postings (vector, stream) + 1 length row
    assert(rows.map(_._5).sum == 3L, s"posting+len churn, got $rows")
    // a second feed wave records a NEW batch row — one per drained batch
    Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
      wire("documents", doc(2, "join"), null, "c", 20, 2)).asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    val rows2 = rowsFor("mx_search")
    assert(rows2.size == rows.size + 1,
      s"new drained batch, new metrics row: $rows2")
  }

  test("registry: a metrics conf node reaches the pipeline; an unreachable store fails registration naming the file") {
    val confDir = Files.createTempDirectory("graft_mx_conf_").toFile
    Files.write(new java.io.File(confDir, "m.json").toPath, Seq(
      s"""{"name":"mreg","databases":["shop"],"tables":["documents"],
         |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
         |"metrics":{"url":"$url","table":"pipe_metrics"}}"""
        .stripMargin.replace("\n", "")).asJava)
    val loaded = PipelineRegistry.load(confDir.toString)
    assert(loaded.head.pipeline.metrics == Some(target))
    // bad metrics store → boot fail-fast, naming the conf file
    val badDir = Files.createTempDirectory("graft_mx_badconf_").toFile
    Files.write(new java.io.File(badDir, "bad.json").toPath, Seq(
      """{"name":"mbad","databases":["shop"],"tables":["documents"],
        |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
        |"metrics":{"url":"jdbc:derby:/nonexistent/denied/db","table":"t"}}"""
        .stripMargin.replace("\n", "")).asJava)
    val err = intercept[IllegalArgumentException](
      PipelineRegistry.load(badDir.toString))
    assert(err.getMessage.contains("bad.json")
      && err.getMessage.contains("metrics store unreachable"),
      s"got: ${err.getMessage}")
  }

  test("expectations: one verdict row per (batch, rule) with exact counts; replay overwrites") {
    import graft.ops.Profile
    val feedDir = Files.createTempDirectory("graft_mx_exp_feed_").toFile
    // doc 3 carries a NULL text (NotNull violation) and an id outside
    // [1, 2] (InRange violation); ids are unique
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire("documents", doc(1, "a"), null, "c", 10, 1),
      wire("documents", doc(2, "b"), null, "c", 10, 2),
      wire("documents", """{"doc_id":3,"text":null}""", null, "c", 10, 3))
      .asJava)
    val pipeline = CdcPipeline(
      name = "mx_exp", subscription = Subscription(Set("shop"), Set("documents")),
      rowSchema = StructType.fromDDL("doc_id BIGINT, text STRING"),
      idKey = "doc_id", metrics = Some(target),
      expectations = Seq(
        Profile.NotNull("text_set", "text"),
        Profile.Unique("id_unique", "doc_id"),
        Profile.InRange("id_1_2", "doc_id", 1.0, 2.0, budget = 1L)))
    PipelineMetrics.ensureExpectTable(target)
    val ok = new EsSink.Transport { def send(req: EsSink.Request): Int = 200 }
    pipeline.start(spark, feedDir.toString,
      Files.createTempDirectory("graft_mx_exp_ckpt_").toString,
      EsSink.Config("http://es/idx", "u", "p", "doc_id"), ok)
      .awaitTermination()
    def verdicts(): Map[String, (Long, Long, Boolean)] =
      PipelineMetrics.expectRows(spark, target)
        .filter($"pipeline" === "mx_exp").filter($"batch_id" === 0L)
        .select($"rule", $"violations", $"budget", $"pass")
        .as[(String, Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val v = verdicts()
    assert(v("text_set") == ((1L, 0L, false)), s"got $v")
    assert(v("id_unique") == ((0L, 0L, true)), s"got $v")
    assert(v("id_1_2") == ((1L, 1L, true)), s"within budget, got $v")
    // replay: same (pipeline, batch) re-records, never duplicates
    PipelineMetrics.recordExpectations(target, "mx_exp", 0L, Seq(
      PipelineMetrics.Verdict("text_set", 9L, 0L, false),
      PipelineMetrics.Verdict("id_unique", 0L, 0L, true),
      PipelineMetrics.Verdict("id_1_2", 0L, 1L, true)))
    val v2 = verdicts()
    assert(v2.size == 3 && v2("text_set") == ((9L, 0L, false)), s"got $v2")
  }

  test("expectations across the other four kinds: each serving frame gets exact verdicts") {
    import graft.ops.Profile
    PipelineMetrics.ensureExpectTable(target)
    def verdicts(p: String): Map[String, (Long, Boolean)] =
      PipelineMetrics.expectRows(spark, target).filter($"pipeline" === p)
        .select($"rule", $"violations", $"pass")
        .as[(String, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    // VIEW: verdicts over the flattened upsert serving rows
    exec("""CREATE TABLE ex_enriched ("o_orderkey" BIGINT NOT NULL PRIMARY KEY,
      | "o_custkey" BIGINT, "o_total" DOUBLE,
      | "c_custkey" BIGINT, "c_name" VARCHAR(64))"""
      .stripMargin.replace("\n", ""))
    val vFeed = Files.createTempDirectory("graft_ex_view_feed_").toFile
    Files.write(new java.io.File(vFeed, "000.json").toPath, Seq(
      wire("customer", """{"c_custkey":1,"c_name":"A"}""", null, "c", 10, 1),
      wire("orders", """{"o_orderkey":10,"o_custkey":1,"o_total":5.0}""",
        null, "c", 10, 2)).asJava)
    ViewPipeline(
      name = "ex_view", databases = Set("shop"),
      factTable = "orders",
      factSchema = StructType.fromDDL(
        "o_orderkey BIGINT, o_custkey BIGINT, o_total DOUBLE"),
      factIdField = "o_orderkey", factJoinField = "o_custkey",
      dimTable = "customer",
      dimSchema = StructType.fromDDL("c_custkey BIGINT, c_name STRING"),
      dimIdField = "c_custkey", dimJoinField = "c_custkey",
      leftOuter = true,
      target = JdbcTarget(url, "ex_enriched", Some("c_name VARCHAR(64)")),
      metrics = Some(target),
      expectations = Seq(
        Profile.InRange("total_0_4", "o_total", 0.0, 4.0),  // 5.0 violates
        Profile.NotNull("name_set", "c_name")))
      .runOnce(spark, vFeed.toString,
        Files.createTempDirectory("graft_ex_view_work_").toString)
    val vv = verdicts("ex_view")
    assert(vv("total_0_4") == ((1L, false)), s"got $vv")
    assert(vv("name_set") == ((0L, true)), s"got $vv")
    // DEDUP: verdicts over the changed cluster rows under the conf id
    exec("""CREATE TABLE ex_clusters ("doc_id" BIGINT NOT NULL PRIMARY KEY,
      | "cluster_id" BIGINT, "is_canonical" INTEGER)"""
      .stripMargin.replace("\n", ""))
    val A = "alpha beta gamma delta epsilon zeta eta theta"
    val dFeed = Files.createTempDirectory("graft_ex_dedup_feed_").toFile
    Files.write(new java.io.File(dFeed, "000.json").toPath, Seq(
      wire("documents", doc(1, A), null, "c", 10, 1),
      wire("documents", doc(2, A), null, "c", 10, 2)).asJava)
    DedupClusterPipeline(
      name = "ex_dedup", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      target = JdbcTarget(url, "ex_clusters"), metrics = Some(target),
      expectations = Seq(
        Profile.NotNull("cluster_set", "cluster_id"),
        Profile.Unique("doc_unique", "doc_id")))
      .runOnce(spark, dFeed.toString,
        Files.createTempDirectory("graft_ex_dedup_work_").toString)
    val dv = verdicts("ex_dedup")
    assert(dv("cluster_set") == ((0L, true)), s"got $dv")
    assert(dv("doc_unique") == ((0L, true)), s"got $dv")
    // ANN: verdicts over the upsert posting actions (id + cell)
    exec("""CREATE TABLE ex_postings ("vec_id" BIGINT NOT NULL PRIMARY KEY,
      | "cell" INTEGER, "emb_json" VARCHAR(32000))"""
      .stripMargin.replace("\n", ""))
    val aFeed = Files.createTempDirectory("graft_ex_ann_feed_").toFile
    Files.write(new java.io.File(aFeed, "000.json").toPath, Seq(
      wire("embeddings", """{"vec_id":0,"embedding":[1.0,0.1]}""", null, "c", 10, 1),
      wire("embeddings", """{"vec_id":1,"embedding":[-1.0,0.1]}""", null, "c", 10, 2)).asJava)
    AnnServingPipeline(
      name = "ex_ann", databases = Set("shop"), table = "embeddings",
      idField = "vec_id", vectorField = "embedding",
      cents = Array(Array(1f, 0f), Array(-1f, 0f)),
      jdbcUrl = url, postingsTable = "ex_postings", metrics = Some(target),
      expectations = Seq(
        Profile.InRange("cell_domain", "cell", 0.0, 1.0),
        Profile.Unique("vec_unique", "vec_id")))
      .runOnce(spark, aFeed.toString,
        Files.createTempDirectory("graft_ex_ann_work_").toString)
    val av = verdicts("ex_ann")
    assert(av("cell_domain") == ((0L, true)), s"got $av")
    assert(av("vec_unique") == ((0L, true)), s"got $av")
    // SEARCH: verdicts over the ± posting contributions
    exec("""CREATE TABLE ex_spost ("token" VARCHAR(256) NOT NULL,
      | "doc_id" BIGINT NOT NULL, "tf" BIGINT,
      | PRIMARY KEY ("token", "doc_id"))""".stripMargin.replace("\n", ""))
    exec("""CREATE TABLE ex_slens ("doc_id" BIGINT NOT NULL PRIMARY KEY,
      | "len" BIGINT)""".stripMargin.replace("\n", ""))
    val sFeed = Files.createTempDirectory("graft_ex_search_feed_").toFile
    Files.write(new java.io.File(sFeed, "000.json").toPath, Seq(
      wire("documents", doc(1, "vector stream"), null, "c", 10, 1)).asJava)
    SearchServingPipeline(
      name = "ex_search", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      jdbcUrl = url, postingsTable = "ex_spost", lensTable = "ex_slens",
      metrics = Some(target),
      expectations = Seq(
        Profile.NotNull("token_set", "token"),
        // both contributions are +1; a >=2 floor catches them exactly
        Profile.InRange("tf_2_plus", "tf", 2.0, 1e9)))
      .runOnce(spark, sFeed.toString,
        Files.createTempDirectory("graft_ex_search_work_").toString)
    val sv = verdicts("ex_search")
    assert(sv("token_set") == ((0L, true)), s"got $sv")
    assert(sv("tf_2_plus") == ((2L, false)), s"got $sv")
    // registry-side: a wrong column fails each kind's own schema domain
    val badAnn = Files.createTempDirectory("graft_ex_badann_").toFile
    Files.write(new java.io.File(badAnn, "a.json").toPath, Seq(
      s"""{"kind":"ann","name":"exbad","databases":["shop"],
         |"table":"embeddings","idKey":"vec_id","vectorField":"embedding",
         |"centroids":[[1.0,0.0],[-1.0,0.0]],
         |"jdbc":{"url":"$url","postingsTable":"ex_postings"},
         |"metrics":{"url":"$url","table":"pipe_metrics"},
         |"expectations":[{"rule":"not_null","name":"e","column":"embedding"}]}"""
        .stripMargin.replace("\n", "")).asJava)
    val e = intercept[IllegalArgumentException](
      PipelineRegistry.loadAnn(badAnn.toString))
    assert(e.getMessage.contains("a.json")
      && e.getMessage.contains("embedding"), s"got: ${e.getMessage}")
  }

  test("schema drift: per-batch verdicts record undeclared fields and type failures exactly; clean batches record zeros") {
    import org.apache.spark.sql.functions.col
    PipelineMetrics.ensureDriftTable(target)
    val pipeline = CdcPipeline(
      name = "mx_drift", subscription = Subscription(Set("shop"), Set("documents")),
      rowSchema = StructType.fromDDL("doc_id BIGINT, text STRING, score DOUBLE"),
      idKey = "doc_id", metrics = Some(target), driftCheck = true)
    val ok = new EsSink.Transport { def send(req: EsSink.Request): Int = 200 }
    val cfg = EsSink.Config("http://es/idx", "u", "p", "doc_id")
    import spark.implicits._
    def ev(after: String, off: Long): (String, Long) =
      (s"""{"payload":{"before":null,"after":$after,""" +
        s""""source":{"db":"shop","table":"documents","ts_ms":$off},""" +
        s""""op":"c","ts_ms":$off}}""", off)
    // batch 0: one clean row, one row with TWO undeclared fields, one
    // row whose declared DOUBLE arrives as a non-numeric string, one
    // row with both kinds of drift at once
    val drifted = Seq(
      ev("""{"doc_id":1,"text":"a","score":1.5}""", 1),
      ev("""{"doc_id":2,"text":"b","score":2.0,"note":"x","extra":1}""", 2),
      ev("""{"doc_id":3,"text":"c","score":"oops"}""", 3),
      ev("""{"doc_id":4,"text":"d","score":"bad","note":"y"}""", 4))
      .toDF("value", "offset")
    pipeline.applyBatch(pipeline.changeRows(drifted), cfg, ok, batchId = 0L)
    // batch 1: clean — the healthy-heartbeat zeros
    val clean = Seq(ev("""{"doc_id":5,"text":"e","score":0.5}""", 5))
      .toDF("value", "offset")
    pipeline.applyBatch(pipeline.changeRows(clean), cfg, ok, batchId = 1L)
    val rows = PipelineMetrics.driftRows(spark, target)
      .filter(col("pipeline") === "mx_drift")
      .select($"batch_id", $"new_cols", $"type_changes", $"rows_new",
        $"rows_badtype", $"new_col_names", $"changed_names")
      .as[(Long, Long, Long, Long, Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      (0L, 2L, 1L, 2L, 2L, "extra,note", "score"),
      (1L, 0L, 0L, 0L, 0L, "", "")), s"got $rows")
    // conf side: driftCheck parses; without metrics it dies at boot
    val confDir = Files.createTempDirectory("graft_mx_drift_conf_").toFile
    Files.write(new java.io.File(confDir, "d.json").toPath, Seq(
      s"""{"name":"mdrift","databases":["shop"],"tables":["documents"],
         |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
         |"metrics":{"url":"$url","table":"pipe_metrics"},
         |"driftCheck":true}""".stripMargin.replace("\n", "")).asJava)
    assert(PipelineRegistry.load(confDir.toString).head.pipeline.driftCheck)
    val bad = Files.createTempDirectory("graft_mx_drift_bad_").toFile
    Files.write(new java.io.File(bad, "b.json").toPath, Seq(
      """{"name":"mdriftb","databases":["shop"],"tables":["documents"],
        |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
        |"driftCheck":true}""".stripMargin.replace("\n", "")).asJava)
    val e = intercept[IllegalArgumentException](
      PipelineRegistry.load(bad.toString))
    assert(e.getMessage.contains("b.json")
      && e.getMessage.contains("driftCheck"), s"got: ${e.getMessage}")
  }

  test("schema drift: a row-sized undeclared-name wire records exact counts with a capped, flagged name sample") {
    import org.apache.spark.sql.functions._
    PipelineMetrics.ensureDriftTable(target)
    // the pathological wire the monitor exists to catch: ids serialized
    // as field names — 10k rows, each carrying a UNIQUE undeclared
    // field, so the distinct-name set is row-sized, not schema-sized
    val n = 10000L
    val wire = spark.range(n).select(concat(
      lit("""{"payload":{"before":null,"after":{"doc_id":"""),
      col("id"), lit(""","text":"t","f"""), col("id"),
      lit("""":1},"source":{"db":"shop","table":"documents","ts_ms":"""),
      col("id"), lit("""},"op":"c","ts_ms":"""), col("id"),
      lit("}}")).as("value"))
    val v = graft.streaming.Drift.recordSchemaDrift(wire,
      StructType.fromDDL("doc_id BIGINT, text STRING"),
      "mx_drift_rowsized", batchId = 0L, target)
    // counts stay EXACT — only the recorded name sample is capped
    assert(v.newCols == n && v.rowsNew == n, s"got $v")
    val row = PipelineMetrics.driftRows(spark, target)
      .filter(col("pipeline") === "mx_drift_rowsized")
      .select(col("new_cols"), col("new_col_names"),
        col("names_truncated"))
      .collect().head
    assert(row.getLong(0) == n)
    val sample = row.getString(1).split(",").toSeq
    assert(sample.size == graft.streaming.Drift.maxRecordedNames,
      s"sample must cap at ${graft.streaming.Drift.maxRecordedNames}, " +
        s"got ${sample.size}")
    assert(sample.forall(_.startsWith("f")), s"got $sample")
    assert(row.getInt(2) == 1, "a capped sample must flag names_truncated")
    // the schema-sized case stays unflagged with the full name list
    val small = spark.range(3).select(concat(
      lit("""{"payload":{"before":null,"after":{"doc_id":"""),
      col("id"),
      lit(""","text":"t","note":"x"},"source":{"db":"shop",""" +
        """"table":"documents","ts_ms":1},"op":"c","ts_ms":1}}"""))
      .as("value")).toDF("value")
    graft.streaming.Drift.recordSchemaDrift(small,
      StructType.fromDDL("doc_id BIGINT, text STRING"),
      "mx_drift_rowsized", batchId = 1L, target)
    val clean = PipelineMetrics.driftRows(spark, target)
      .filter(col("pipeline") === "mx_drift_rowsized"
        && col("batch_id") === 1L)
      .select(col("new_cols"), col("new_col_names"),
        col("names_truncated")).collect().head
    assert(clean.getLong(0) == 1L && clean.getString(1) == "note"
      && clean.getInt(2) == 0, s"got $clean")
    // the CHAR-capped case: fewer than maxRecordedNames distinct
    // names, but long enough that the stored VARCHAR(1024) cuts the
    // list — the row must still read as truncated, never as complete
    val longNames = spark.range(40).select(concat(
      lit("""{"payload":{"before":null,"after":{"doc_id":"""),
      col("id"), lit(""","text":"t","f_"""),
      lit("x" * 35), lit("_"), col("id"),
      lit("""":1},"source":{"db":"shop","table":"documents","ts_ms":1},""" +
        """"op":"c","ts_ms":1}}""")).as("value"))
    graft.streaming.Drift.recordSchemaDrift(longNames,
      StructType.fromDDL("doc_id BIGINT, text STRING"),
      "mx_drift_rowsized", batchId = 2L, target)
    val charCapped = PipelineMetrics.driftRows(spark, target)
      .filter(col("pipeline") === "mx_drift_rowsized"
        && col("batch_id") === 2L)
      .select(col("new_cols"), col("names_truncated")).collect().head
    assert(charCapped.getLong(0) == 40L && charCapped.getInt(1) == 1,
      s"a VARCHAR-cut name list must flag names_truncated, got $charCapped")
  }

  test("dead-letter retention: aged partitions and sink files retire; young rows, markers and underscore files stay") {
    import spark.implicits._
    import java.nio.file.attribute.FileTime
    val dl = Files.createTempDirectory("graft_dlret_").toString + "/dl"
    def seed(subtree: String, batchId: Long): java.nio.file.Path = {
      Seq(("r", """{"id":1}""")).toDF("violated", "row_json")
        .write.mode("overwrite")
        .parquet(s"$dl/$subtree/pipeline=r/batch_id=$batchId")
      java.nio.file.Paths.get(s"$dl/$subtree/pipeline=r/batch_id=$batchId")
    }
    val now = System.currentTimeMillis()
    def age(p: java.nio.file.Path): Unit = {
      Files.setLastModifiedTime(p, FileTime.fromMillis(now - 10000L)); ()
    }
    age(seed("_expect", 0L)) // aged -> retires
    seed("_expect", 1L)      // young -> stays
    age(seed("_drift", 0L))  // aged -> retires
    val marker = java.nio.file.Paths.get(s"$dl/_expect/pipeline=r/_KIND_lww")
    Files.createFile(marker); age(marker) // markers never retire
    val sinkFile = java.nio.file.Paths.get(s"$dl/old_rows.parquet")
    Files.write(sinkFile, "x".getBytes); age(sinkFile) // aged -> retires
    val youngFile = java.nio.file.Paths.get(s"$dl/new_rows.parquet")
    Files.write(youngFile, "x".getBytes) // young -> stays
    // a NEIGHBOR pipeline sharing the dir: its aged partitions are on
    // its own conf's clock — pipeline "r"'s sweep must not touch them
    Seq(("r", """{"id":9}""")).toDF("violated", "row_json")
      .write.mode("overwrite")
      .parquet(s"$dl/_expect/pipeline=other/batch_id=0")
    age(java.nio.file.Paths.get(s"$dl/_expect/pipeline=other/batch_id=0"))
    // age the FILES too — retention keys on the newest file inside a
    // partition (object-store dirs have meaningless mtimes)
    def ageTree(dir: String): Unit =
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
        .asScala.foreach(age)
    // a neighbor whose NAME EXTENDS this conf's ("r.archive", names
    // allow dots) — exact ownership, never a prefix match: r's sweep
    // must not delete it even aged
    Seq(("r", """{"id":8}""")).toDF("violated", "row_json")
      .write.mode("overwrite")
      .parquet(s"$dl/_expect/pipeline=r.archive/batch_id=0")
    // the view gate's side tags under _drift ARE owned by conf "r" —
    // identified by the kind marker the gate always writes beside them
    Seq(("drift_newcols", """{"id":7}""")).toDF("violated", "row_json")
      .write.mode("overwrite")
      .parquet(s"$dl/_drift/pipeline=r.fact/batch_id=0")
    Files.createFile(java.nio.file.Paths.get(
      s"$dl/_drift/pipeline=r.fact/_KIND_view"))
    // a NEIGHBOR conf literally NAMED "r.dim" (dots are legal) of a
    // non-view kind: same dir name a view side tag would use, but its
    // own kind marker says ann — r's clock must never retire it
    Seq(("drift_newcols", """{"id":6}""")).toDF("violated", "row_json")
      .write.mode("overwrite")
      .parquet(s"$dl/_drift/pipeline=r.dim/batch_id=0")
    Files.createFile(java.nio.file.Paths.get(
      s"$dl/_drift/pipeline=r.dim/_KIND_ann"))
    ageTree(s"$dl/_expect/pipeline=r/batch_id=0")
    ageTree(s"$dl/_expect/pipeline=other/batch_id=0")
    ageTree(s"$dl/_expect/pipeline=r.archive/batch_id=0")
    ageTree(s"$dl/_drift/pipeline=r/batch_id=0")
    ageTree(s"$dl/_drift/pipeline=r.fact/batch_id=0")
    ageTree(s"$dl/_drift/pipeline=r.dim/batch_id=0")
    val n = PipelineMetrics.retireAgedDeadLetters(spark, dl,
      retentionMs = 5000L, pipeline = "r", includeRootFiles = true,
      nowMs = now)
    assert(n == 4L, s"retired $n")
    assert(Files.exists(java.nio.file.Paths.get(
      s"$dl/_expect/pipeline=other/batch_id=0")),
      "a shared-dir neighbor's quarantine is never swept by this conf")
    assert(Files.exists(java.nio.file.Paths.get(
      s"$dl/_expect/pipeline=r.archive/batch_id=0")),
      "a dot-extension neighbor is NOT this conf's side tag — exact " +
        "ownership, never startsWith")
    assert(!Files.exists(java.nio.file.Paths.get(
      s"$dl/_drift/pipeline=r.fact/batch_id=0")),
      "the view gate's own side tag retires on this conf's clock")
    assert(Files.exists(java.nio.file.Paths.get(
      s"$dl/_drift/pipeline=r.dim/batch_id=0")),
      "a non-view neighbor literally named like a side tag keeps its " +
        "own clock — the kind marker is the ownership proof")
    assert(PipelineMetrics.expectDeadLetters(spark, dl).count() == 3L,
      "the young expect partition, the neighbor's and the " +
        "dot-extension neighbor's remain")
    assert(PipelineMetrics.driftDeadLetters(spark, dl).count() == 1L,
      "only the ann neighbor's drift letters remain")
    assert(Files.exists(marker) && Files.exists(youngFile)
      && !Files.exists(sinkFile))
    // the ctor invariant: retention without a landing place is a typo
    val e = intercept[IllegalArgumentException](CdcPipeline(
      name = "ret_bad", subscription = Subscription(Set("d"), Set("t")),
      rowSchema = StructType.fromDDL("id BIGINT"), idKey = "id",
      deadLetterRetentionMs = 5000L))
    assert(e.getMessage.contains("deadLetterDir"), e.getMessage)
    // conf: the field parses through the registry (any kind)
    val confDir = Files.createTempDirectory("graft_dlret_conf_").toFile
    Files.write(new java.io.File(confDir, "r.json").toPath, Seq(
      s"""{"name":"retp","databases":["d"],"tables":["t"],"idKey":"id",
         |"schema":"id BIGINT","deadLetterDir":"$dl",
         |"deadLetterRetentionMs":123456}"""
        .stripMargin.replace("\n", "")).asJava)
    assert(PipelineRegistry.load(confDir.toString)
      .head.pipeline.deadLetterRetentionMs == 123456L)
  }

  test("ownership backfill: a pre-marker drift quarantine gains its gate's kind marker at boot, so side-tag retention still works") {
    import spark.implicits._
    import java.nio.file.attribute.FileTime
    val dl = Files.createTempDirectory("graft_dlbf_").toString + "/dl"
    // pre-upgrade state: an aged side-tag quarantine with NO kind
    // marker (written before markers existed) — without the backfill
    // the marker-gated sweep would never retire it again
    Seq(("drift_newcols", """{"id":1}""")).toDF("violated", "row_json")
      .write.mode("overwrite")
      .parquet(s"$dl/_drift/pipeline=bf.fact/batch_id=0")
    val now = System.currentTimeMillis()
    java.nio.file.Files.walk(
      java.nio.file.Paths.get(s"$dl/_drift/pipeline=bf.fact"))
      .iterator().asScala.foreach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(now - 10000L)))
    val marker = java.nio.file.Paths.get(
      s"$dl/_drift/pipeline=bf.fact/_KIND_view")
    assert(!Files.exists(marker))
    // the gate is the subtree's declared owner: booting it claims the
    // unmarked dir
    val gate = graft.streaming.DriftGate("bf.fact", "view", Set("d"), "t",
      StructType.fromDDL("id BIGINT"), idField = "id", driftCheck = false,
      policy = Some(CdcPipeline.DriftPolicy(newColsBudget = 0L,
        action = graft.ops.Profile.Drop)),
      metrics = Some(target), deadLetterDir = Some(dl))
    val feed = Files.createTempDirectory("graft_dlbf_feed_").toString
    val judged = Files.createTempDirectory("graft_dlbf_judged_").toString
    val ckpt = Files.createTempDirectory("graft_dlbf_ckpt_").toString
    gate.drainOnce(spark, feed, judged, ckpt)
    assert(Files.exists(marker),
      "boot must backfill the owner's kind marker on an unmarked dir")
    // ...and the marker-gated retention sweep can now retire the tag
    val n = PipelineMetrics.retireAgedDeadLetters(spark, dl,
      retentionMs = 5000L, pipeline = "bf", nowMs = now)
    assert(n == 1L, s"retired $n")
    assert(!Files.exists(java.nio.file.Paths.get(
      s"$dl/_drift/pipeline=bf.fact/batch_id=0")))
    // a dir already marked by ANOTHER kind is never re-claimed
    Seq(("drift_newcols", """{"id":2}""")).toDF("violated", "row_json")
      .write.mode("overwrite")
      .parquet(s"$dl/_drift/pipeline=bf2/batch_id=0")
    Files.createFile(java.nio.file.Paths.get(
      s"$dl/_drift/pipeline=bf2/_KIND_ann"))
    val gate2 = gate.copy(tag = "bf2")
    gate2.drainOnce(spark, feed,
      Files.createTempDirectory("graft_dlbf_j2_").toString,
      Files.createTempDirectory("graft_dlbf_c2_").toString)
    assert(!Files.exists(java.nio.file.Paths.get(
      s"$dl/_drift/pipeline=bf2/_KIND_view")),
      "an already-marked dir keeps its original owner's kind")
  }

  test("kind-marker ownership conflicts fail loud: a second kind cannot claim a marked subtree; ambiguous markers refuse retention") {
    import spark.implicits._
    val dl = Files.createTempDirectory("graft_dlconflict_").toString + "/dl"
    // a subtree already owned by an ann conf — a conf of ANOTHER kind
    // whose sanitized name collides must fail at its first write, not
    // leave two markers for retention/replay to resolve by listing order
    Files.createDirectories(
      java.nio.file.Paths.get(s"$dl/_expect/pipeline=clash"))
    Files.createFile(
      java.nio.file.Paths.get(s"$dl/_expect/pipeline=clash/_KIND_ann"))
    val rows = Seq((1L, null: String)).toDF("doc_id", "text")
    val rules: Seq[graft.ops.Profile.Rule] = Seq(
      graft.ops.Profile.NotNull("text_set", "text",
        action = graft.ops.Profile.Drop))
    val e = intercept[IllegalStateException] {
      PipelineMetrics.enforceBatchExpectations(None, "clash", 0L, rules,
        rows, Seq("doc_id"), Some(dl), kind = "lww")
    }
    assert(e.getMessage.contains("'ann'") && e.getMessage.contains("'lww'"),
      e.getMessage)
    // the OWNING kind stays idempotent — no throw, exactly one marker
    PipelineMetrics.enforceBatchExpectations(None, "clash", 0L, rules,
      rows, Seq("doc_id"), Some(dl), kind = "ann")
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$dl/_expect/pipeline=clash")).iterator()
      .asScala.count(_.getFileName.toString.startsWith("_KIND_")) == 1)
    // a side tag carrying TWO markers (pre-fix writers could leave
    // both): the retention sweep refuses rather than retiring on
    // whichever conf's clock the listing happened to surface first
    Seq(("drift_newcols", """{"id":1}""")).toDF("violated", "row_json")
      .write.mode("overwrite")
      .parquet(s"$dl/_drift/pipeline=amb.fact/batch_id=0")
    Files.createFile(java.nio.file.Paths.get(
      s"$dl/_drift/pipeline=amb.fact/_KIND_view"))
    Files.createFile(java.nio.file.Paths.get(
      s"$dl/_drift/pipeline=amb.fact/_KIND_ann"))
    val e2 = intercept[IllegalArgumentException] {
      PipelineMetrics.retireAgedDeadLetters(spark, dl,
        retentionMs = 5000L, pipeline = "amb")
    }
    assert(e2.getMessage.contains("conflicting"), e2.getMessage)
  }

  test("expectations conf: registration-time validation names file + field; verdicts need a metrics target") {
    def conf(dir: java.io.File, fname: String, body: String): Unit =
      Files.write(new java.io.File(dir, fname).toPath,
        Seq(body.stripMargin.replace("\n", "")).asJava)
    val good = Files.createTempDirectory("graft_exp_conf_").toFile
    conf(good, "e.json",
      s"""{"name":"ereg","databases":["shop"],"tables":["documents"],
         |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
         |"metrics":{"url":"$url","table":"pipe_metrics"},
         |"expectations":[{"rule":"not_null","name":"t","column":"text"},
         |{"rule":"in_range","name":"r","column":"doc_id","lo":0,"hi":9,"budget":2}]}""")
    val loaded = PipelineRegistry.load(good.toString)
    assert(loaded.head.pipeline.expectations.size == 2)
    // a typo'd column dies at REGISTRATION naming file + column
    val typo = Files.createTempDirectory("graft_exp_typo_").toFile
    conf(typo, "typo.json",
      s"""{"name":"etypo","databases":["shop"],"tables":["documents"],
         |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
         |"metrics":{"url":"$url","table":"pipe_metrics"},
         |"expectations":[{"rule":"not_null","name":"t","column":"texxt"}]}""")
    val e1 = intercept[IllegalArgumentException](
      PipelineRegistry.load(typo.toString))
    assert(e1.getMessage.contains("typo.json")
      && e1.getMessage.contains("texxt"), s"got: ${e1.getMessage}")
    // an unknown rule kind dies at registration
    val unk = Files.createTempDirectory("graft_exp_unk_").toFile
    conf(unk, "unk.json",
      s"""{"name":"eunk","databases":["shop"],"tables":["documents"],
         |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
         |"metrics":{"url":"$url","table":"pipe_metrics"},
         |"expectations":[{"rule":"regexp","name":"t","column":"text"}]}""")
    val e2 = intercept[IllegalArgumentException](
      PipelineRegistry.load(unk.toString))
    assert(e2.getMessage.contains("unk.json")
      && e2.getMessage.contains("unknown expectation rule"), s"got: ${e2.getMessage}")
    // expectations without a metrics target die at registration
    val nomx = Files.createTempDirectory("graft_exp_nomx_").toFile
    conf(nomx, "nomx.json",
      """{"name":"enomx","databases":["shop"],"tables":["documents"],
        |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
        |"expectations":[{"rule":"not_null","name":"t","column":"text"}]}""")
    val e3 = intercept[IllegalArgumentException](
      PipelineRegistry.load(nomx.toString))
    assert(e3.getMessage.contains("nomx.json")
      && e3.getMessage.contains("metrics target"), s"got: ${e3.getMessage}")
  }
}
