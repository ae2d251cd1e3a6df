package graft

import graft.cdc.Subscription
import graft.ops.Profile
import graft.sinks.EsSink
import graft.streaming._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.Files
import java.util.Collections
import scala.jdk.CollectionConverters._

/** Expectation ENFORCEMENT contract (the r10 verdict's top task): a
  * conf-declared per-rule action decides what a breach DOES —
  *   warn  record the verdict row only (pure monitoring);
  *   drop  violating rows dead-letter BEFORE the serving write, every
  *         one withheld regardless of budget;
  *   halt  violations beyond budget quarantine the pipeline
  *         ([[Profile.HaltException]] fails the micro-batch; the store
  *         keeps its pre-batch state).
  * The matrix test pins the SAME semantics across all five conf kinds —
  * a sixth kind wired through
  * [[PipelineMetrics.enforceBatchExpectations]] earns them for free.
  */
class EnforceSpec extends SparkSpec {
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

  private val url = "jdbc:derby:memory:graftenforce;create=true"
  private val target = PipelineMetrics.Target(url, "enf_metrics")
  PipelineMetrics.ensureTable(target)
  PipelineMetrics.ensureExpectTable(target)

  private def exec(ddl: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try { c.createStatement().execute(ddl); () } finally c.close()
  }

  private def verdicts(p: String): Map[String, (Long, Long, Boolean)] =
    PipelineMetrics.expectRows(spark, target).filter($"pipeline" === p)
      .select($"rule", $"violations", $"budget", $"pass")
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  private def deadRows(dir: String): Seq[(String, String)] =
    PipelineMetrics.expectDeadLetters(spark, dir)
      .select($"violated", $"row_json").as[(String, String)]
      .collect().toSeq

  test("tagViolations: per-row tag counts equal expectations' aggregate verdicts for every rule kind") {
    val dimPath = Files.createTempDirectory("graft_enf_dim_").toString + "/dim"
    Seq(1L, 2L, 3L).toDF("k").write.parquet(dimPath)
    val df = Seq(
      (Some(1L), Some(5.0), Some(1L)),   // clean
      (Some(1L), Some(5.0), Some(2L)),   // dup of k=1
      (None, Some(50.0), Some(3L)),      // null k, v out of range
      (Some(4L), None, Some(9L)),        // fk = 9 misses dim {1,2,3}
      (Some(2L), Some(-1.0), None)       // v out of range low
    ).toDF("k", "v", "fk")
    val rules: Seq[Profile.Rule] = Seq(
      Profile.NotNull("k_set", "k", action = Profile.Drop),
      Profile.Unique("k_uniq", "k", action = Profile.Drop),
      Profile.InRange("v_0_10", "v", 0.0, 10.0, action = Profile.Drop),
      Profile.RefIntegrityPath("fk_dim", "fk", dimPath, "k",
        action = Profile.Drop))
    val agg = Profile.expectations(df, rules)
      .select($"rule", $"violations").as[(String, Long)].collect().toMap
    val tagged = Profile.tagViolations(df, rules, Seq("fk"))
    val perRow = rules.map(r => r.name ->
      tagged.filter(array_contains($"violated", r.name)).count()).toMap
    assert(perRow == agg, s"per-row $perRow vs aggregate $agg")
    // the tagged frame preserves every input row and the original columns
    assert(tagged.count() == df.count())
    assert(tagged.columns.toSeq == df.columns.toSeq :+ "violated")
  }

  test("lww drop: violating documents are withheld from the sink and dead-lettered with rule tags; verdicts record the counts") {
    EnforceSpec.recorded.clear()
    val recorded = EnforceSpec.recorded
    val dlDir = Files.createTempDirectory("graft_enf_lww_dl_").toString + "/dl"
    val pipe = CdcPipeline("enf_lww",
      Subscription(Set("shop"), Set("documents")),
      StructType.fromDDL("doc_id BIGINT, text STRING"), "doc_id",
      deadLetterDir = Some(dlDir), metrics = Some(target),
      expectations = Seq(
        Profile.NotNull("text_set", "text", action = Profile.Drop),
        Profile.InRange("id_small", "doc_id", 0.0, 10.0, budget = 99L,
          action = Profile.Drop)))
    val feed = Seq(
      (wireRow("documents", doc(1, "a"), "c", 10, 1)),
      (wireRow("documents", """{"doc_id":2,"text":null}""", "c", 10, 2)),
      (wireRow("documents", doc(99, "big"), "c", 10, 3))
    ).toDF("value", "offset")
    pipe.applyBatch(pipe.changeRows(feed),
      EsSink.Config("http://es/idx", "u", "p", "doc_id"),
      new EnforceSpec.Rec, batchId = 7L)
    // only doc 1 reaches the sink — the null-text doc AND the
    // out-of-range doc are withheld even though id_small's budget (99)
    // tolerates the failure: budget governs the verdict, never serving
    val sent = recorded.asScala.map(r => r.url + "\n" + r.body).mkString
    assert(sent.contains("\"doc_id\":1"))
    assert(!sent.contains("\"doc_id\":2") && !sent.contains("\"doc_id\":99"),
      s"violating docs must not reach the sink: $sent")
    val v = verdicts("enf_lww")
    assert(v("text_set") == ((1L, 0L, false)), s"got $v")
    assert(v("id_small") == ((1L, 99L, true)), s"within budget, got $v")
    val dead = deadRows(dlDir)
    assert(dead.size == 2, s"got $dead")
    assert(dead.exists(d => d._1 == "text_set" && d._2.contains("\"doc_id\":2")))
    assert(dead.exists(d => d._1 == "id_small" && d._2.contains("\"doc_id\":99")))
  }

  private def wireRow(table: String, after: String, op: String, ts: Long,
      off: Long): (String, Long) = {
    val ev = s"""{"payload":{"before":null,"after":$after,""" +
      s""""source":{"db":"shop","table":"$table","ts_ms":$ts},"op":"$op","ts_ms":$ts}}"""
    (ev, off)
  }

  test("lww documents keep every row column, an `action` column too, and a delete keeps its wire key when a transform retypes the id") {
    EnforceSpec.recorded.clear()
    val dlDir = Files.createTempDirectory("graft_enf_lww_cols_dl_").toString + "/dl"
    // the transform turns the STRING wire id into a BIGINT document id; a
    // delete carries only its pre-transform key ("007")
    val pipe = CdcPipeline("enf_lww_cols",
      Subscription(Set("shop"), Set("documents")),
      StructType.fromDDL("doc_id STRING, action STRING, text STRING"),
      "doc_id", deadLetterDir = Some(dlDir), metrics = Some(target),
      exprTransform = Some(ExprTransform(
        sets = Seq(("doc_id", "cast(row.doc_id as bigint)")))),
      expectations = Seq(Profile.InRange("id_small", "doc_id", 0.0, 10.0,
        action = Profile.Drop)))
    def ev(after: String, before: String, op: String, off: Long) =
      (s"""{"payload":{"before":$before,"after":$after,""" +
        s""""source":{"db":"shop","table":"documents","ts_ms":10},""" +
        s""""op":"$op","ts_ms":10}}""", off)
    val feed = Seq(
      ev("""{"doc_id":"1","action":"refund","text":"a"}""", "null", "c", 1),
      ev("""{"doc_id":"99","action":"sale","text":"b"}""", "null", "c", 2),
      ev("null", """{"doc_id":"007","action":"sale","text":"c"}""", "d", 3)
    ).toDF("value", "offset")
    pipe.applyBatch(pipe.changeRows(feed),
      EsSink.Config("http://es/idx", "u", "p", "doc_id"),
      new EnforceSpec.Rec, batchId = 1L)
    val reqs = EnforceSpec.recorded.asScala.toSeq
    assert(reqs.exists(r => r.method == "PUT" &&
      r.url.endsWith("/_doc/1") &&
      r.body == """{"doc_id":1,"action":"refund","text":"a"}"""),
      s"the upsert document keeps its action column: $reqs")
    assert(reqs.exists(r => r.method == "DELETE" &&
      r.url.endsWith("/_doc/007")), s"the delete keys by its wire id: $reqs")
    assert(!reqs.exists(r => r.url.endsWith("/_doc/99") ||
      r.body.contains("\"doc_id\":99")), s"the violator is withheld: $reqs")
    assert(deadRows(dlDir).exists(d =>
      d._1 == "id_small" && d._2.contains("\"doc_id\":99")))
  }

  test("lww halt: a breach beyond budget fails the batch BEFORE any sink effect; within budget serves normally") {
    EnforceSpec.recorded.clear()
    val recorded = EnforceSpec.recorded
    val pipe = CdcPipeline("enf_halt",
      Subscription(Set("shop"), Set("documents")),
      StructType.fromDDL("doc_id BIGINT, text STRING"), "doc_id",
      metrics = Some(target),
      expectations = Seq(
        Profile.NotNull("text_set", "text", budget = 1L,
          action = Profile.Halt)))
    val cfg = EsSink.Config("http://es/idx", "u", "p", "doc_id")
    // one null text = within budget 1 → serves
    val okFeed = Seq(
      wireRow("documents", doc(1, "a"), "c", 10, 1),
      wireRow("documents", """{"doc_id":2,"text":null}""", "c", 10, 2))
      .toDF("value", "offset")
    pipe.applyBatch(pipe.changeRows(okFeed), cfg, new EnforceSpec.Rec,
      batchId = 0L)
    assert(recorded.asScala.nonEmpty, "within-budget batch serves")
    assert(verdicts("enf_halt")("text_set") == ((1L, 1L, true)))
    // two null texts = beyond budget → HaltException, zero sink effects
    recorded.clear()
    val badFeed = Seq(
      wireRow("documents", """{"doc_id":3,"text":null}""", "c", 20, 3),
      wireRow("documents", """{"doc_id":4,"text":null}""", "c", 20, 4))
      .toDF("value", "offset")
    val e = intercept[Profile.HaltException](
      pipe.applyBatch(pipe.changeRows(badFeed), cfg, new EnforceSpec.Rec,
        batchId = 1L))
    assert(e.rule == "text_set" && e.violations == 2L && e.budget == 1L)
    assert(recorded.isEmpty, "halt fires before any sink effect")
    // the breach is still observable: the verdict row recorded first
    val v = PipelineMetrics.expectRows(spark, target)
      .filter($"pipeline" === "enf_halt" && $"batch_id" === 1L)
      .select($"violations", $"pass").as[(Long, Boolean)].collect()
    assert(v.toSeq == Seq((2L, false)), s"got ${v.toSeq}")
  }

  test("action matrix: a drop rule withholds the violating serving row from every kind's store and dead-letters it") {
    // ---- view (jdbc target): o_total out of range drops that order
    exec("""CREATE TABLE enf_enriched ("o_orderkey" BIGINT NOT NULL PRIMARY KEY,
      | "o_custkey" BIGINT, "o_total" DOUBLE,
      | "c_custkey" BIGINT, "c_name" VARCHAR(64))"""
      .stripMargin.replace("\n", ""))
    val vDl = Files.createTempDirectory("graft_enf_vdl_").toString + "/dl"
    val vFeed = Files.createTempDirectory("graft_enf_view_feed_").toFile
    Files.write(new java.io.File(vFeed, "000.json").toPath, Seq(
      wire("customer", """{"c_custkey":1,"c_name":"A"}""", null, "c", 10, 1),
      wire("orders", """{"o_orderkey":10,"o_custkey":1,"o_total":5.0}""",
        null, "c", 10, 2),
      wire("orders", """{"o_orderkey":11,"o_custkey":1,"o_total":99.0}""",
        null, "c", 10, 3)).asJava)
    ViewPipeline(
      name = "enf_view", databases = Set("shop"),
      factTable = "orders",
      factSchema = StructType.fromDDL(
        "o_orderkey BIGINT, o_custkey BIGINT, o_total DOUBLE"),
      factIdField = "o_orderkey", factJoinField = "o_custkey",
      dimTable = "customer",
      dimSchema = StructType.fromDDL("c_custkey BIGINT, c_name STRING"),
      dimIdField = "c_custkey", dimJoinField = "c_custkey",
      leftOuter = true,
      target = JdbcTarget(url, "enf_enriched", Some("c_name VARCHAR(64)")),
      deadLetterDir = Some(vDl), metrics = Some(target),
      expectations = Seq(Profile.InRange("total_cap", "o_total", 0.0, 50.0,
        action = Profile.Drop)))
      .runOnce(spark, vFeed.toString,
        Files.createTempDirectory("graft_enf_view_work_").toString)
    val served = spark.read.jdbc(url, "enf_enriched", new java.util.Properties())
      .select(col("o_orderkey").cast("long")).as[Long].collect().sorted.toSeq
    assert(served == Seq(10L), s"order 11 withheld, got $served")
    assert(deadRows(vDl).exists(d =>
      d._1 == "total_cap" && d._2.contains("\"o_orderkey\":11")))
    assert(verdicts("enf_view")("total_cap")._1 == 1L)
    // ---- dedup (jdbc target): cluster rows for out-of-range ids drop
    exec("""CREATE TABLE enf_clusters ("doc_id" BIGINT NOT NULL PRIMARY KEY,
      | "cluster_id" BIGINT, "is_canonical" INTEGER)"""
      .stripMargin.replace("\n", ""))
    val A = "alpha beta gamma delta epsilon zeta eta theta"
    val B = "one two three four five six seven eight nine ten"
    val dDl = Files.createTempDirectory("graft_enf_ddl_").toString + "/dl"
    val dFeed = Files.createTempDirectory("graft_enf_dedup_feed_").toFile
    Files.write(new java.io.File(dFeed, "000.json").toPath, Seq(
      wire("documents", doc(1, A), null, "c", 10, 1),
      wire("documents", doc(2, A), null, "c", 10, 2),
      wire("documents", doc(98, B), null, "c", 10, 3),
      wire("documents", doc(99, B), null, "c", 10, 4)).asJava)
    DedupClusterPipeline(
      name = "enf_dedup", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      target = JdbcTarget(url, "enf_clusters"),
      deadLetterDir = Some(dDl), metrics = Some(target),
      expectations = Seq(Profile.InRange("id_cap", "doc_id", 0.0, 50.0,
        action = Profile.Drop)))
      .runOnce(spark, dFeed.toString,
        Files.createTempDirectory("graft_enf_dedup_work_").toString)
    val clusters = spark.read.jdbc(url, "enf_clusters", new java.util.Properties())
      .select(col("doc_id").cast("long")).as[Long].collect().sorted.toSeq
    assert(clusters == Seq(1L, 2L), s"98/99 cluster rows withheld, got $clusters")
    assert(deadRows(dDl).size == 2)
    // ---- ann (jdbc postings): out-of-range vec ids never reach the index
    exec("""CREATE TABLE enf_postings ("vec_id" BIGINT NOT NULL PRIMARY KEY,
      | "cell" INTEGER, "emb_json" VARCHAR(32000))"""
      .stripMargin.replace("\n", ""))
    val aDl = Files.createTempDirectory("graft_enf_adl_").toString + "/dl"
    val aFeed = Files.createTempDirectory("graft_enf_ann_feed_").toFile
    Files.write(new java.io.File(aFeed, "000.json").toPath, Seq(
      wire("embeddings", """{"vec_id":0,"embedding":[1.0,0.1]}""", null, "c", 10, 1),
      wire("embeddings", """{"vec_id":77,"embedding":[-1.0,0.1]}""", null, "c", 10, 2)).asJava)
    AnnServingPipeline(
      name = "enf_ann", databases = Set("shop"), table = "embeddings",
      idField = "vec_id", vectorField = "embedding",
      cents = Array(Array(1f, 0f), Array(-1f, 0f)),
      jdbcUrl = url, postingsTable = "enf_postings",
      deadLetterDir = Some(aDl), metrics = Some(target),
      expectations = Seq(Profile.InRange("vec_cap", "vec_id", 0.0, 50.0,
        action = Profile.Drop)))
      .runOnce(spark, aFeed.toString,
        Files.createTempDirectory("graft_enf_ann_work_").toString)
    val postings = spark.read.jdbc(url, "enf_postings", new java.util.Properties())
      .select(col("vec_id").cast("long")).as[Long].collect().toSeq
    assert(postings == Seq(0L), s"vec 77 withheld from the index, got $postings")
    assert(deadRows(aDl).exists(_._2.contains("\"vec_id\":77")))
    // ---- search (jdbc postings): contributions for a banned doc drop
    exec("""CREATE TABLE enf_spost ("token" VARCHAR(256) NOT NULL,
      | "doc_id" BIGINT NOT NULL, "tf" BIGINT,
      | PRIMARY KEY ("token", "doc_id"))""".stripMargin.replace("\n", ""))
    exec("""CREATE TABLE enf_slens ("doc_id" BIGINT NOT NULL PRIMARY KEY,
      | "len" BIGINT)""".stripMargin.replace("\n", ""))
    val sDl = Files.createTempDirectory("graft_enf_sdl_").toString + "/dl"
    val sFeed = Files.createTempDirectory("graft_enf_search_feed_").toFile
    Files.write(new java.io.File(sFeed, "000.json").toPath, Seq(
      wire("documents", doc(1, "vector stream"), null, "c", 10, 1),
      wire("documents", doc(88, "vector join"), null, "c", 10, 2)).asJava)
    SearchServingPipeline(
      name = "enf_search", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      jdbcUrl = url, postingsTable = "enf_spost", lensTable = "enf_slens",
      deadLetterDir = Some(sDl), metrics = Some(target),
      expectations = Seq(Profile.InRange("doc_cap", "doc_id", 0.0, 50.0,
        action = Profile.Drop)))
      .runOnce(spark, sFeed.toString,
        Files.createTempDirectory("graft_enf_search_work_").toString)
    val sPostings = spark.read.jdbc(url, "enf_spost", new java.util.Properties())
      .select(col("doc_id").cast("long")).distinct().as[Long]
      .collect().toSeq
    assert(sPostings == Seq(1L), s"doc 88 postings withheld, got $sPostings")
    assert(deadRows(sDl).size == 2, "both of doc 88's posting rows dead-letter")
    // store coherence: the fully-withheld doc's LENGTH contribution is
    // withheld too — a stale len row would skew BM25's corpus stats
    val sLens = spark.read.jdbc(url, "enf_slens", new java.util.Properties())
      .select(col("doc_id").cast("long")).as[Long].collect().toSeq
    assert(sLens == Seq(1L), s"doc 88's len row withheld with it, got $sLens")
    // (lww is the drop test above — all five kinds share the hook)
  }

  test("keyed serving write matrix (lww, view, ann, dedup over ES): a drop violator is never sent, a clean delete in its batch is, a 400 dead-letters that id under the pipeline's name, and a re-applied delivered batch sends nothing") {
    exec("""CREATE TABLE enf_kw_postings ("vec_id" BIGINT NOT NULL PRIMARY KEY,
      | "cell" INTEGER, "emb_json" VARCHAR(32000))"""
      .stripMargin.replace("\n", ""))
    val A = "alpha beta gamma delta epsilon zeta eta theta"
    val B = "one two three four five six seven eight nine ten"
    val C = "red orange yellow green blue indigo violet black"
    def vec(id: Long, x: Double): String =
      s"""{"vec_id":$id,"embedding":[$x,0.1]}"""
    def order(id: Long, total: Double): String =
      s"""{"o_orderkey":$id,"o_custkey":1,"o_total":$total}"""
    def cap(column: String) = Seq(
      Profile.InRange("id_cap", column, 0.0, 50.0, action = Profile.Drop))
    def es(index: String) = EsTarget(s"http://es/$index", "u", "p")
    // one row per kind: how its pipeline drains a feed into a work dir,
    // the serving stage's checkpoint, its two waves (wave 2 carries the
    // violator, the delete and the failing id), the ids, and whether a
    // re-applied batch is marker-covered (lww stays marker-free)
    final case class Kind(name: String, idField: String,
        run: (String, String, Option[String], EsSink.Transport) => Unit,
        servingCkpt: String, wave1: Seq[String], wave2: Seq[String],
        violator: String, deleted: String, failing: String, marked: Boolean)
    val kinds = Seq(
      Kind("enf_kw_lww", "doc_id", (feed, work, dl, t) =>
        CdcPipeline("enf_kw_lww", Subscription(Set("shop"), Set("documents")),
          StructType.fromDDL("doc_id BIGINT, text STRING"), "doc_id",
          deadLetterDir = dl, metrics = Some(target),
          expectations = cap("doc_id"))
          .startDsv2(spark, feed, s"$work/ckpt",
            EsSink.Config("http://es/enf_kw_lww", "u", "p", "doc_id"), t)
          .awaitTermination(),
        "ckpt",
        Seq(wire("documents", doc(3, "x"), null, "c", 10, 1)),
        Seq(wire("documents", doc(99, "y"), null, "c", 20, 2),
          wire("documents", null, doc(3, "x"), "d", 20, 3),
          wire("documents", doc(5, "z"), null, "c", 20, 4)),
        "99", "3", "5", marked = false),
      Kind("enf_kw_view", "o_orderkey", (feed, work, dl, t) =>
        ViewPipeline(
          name = "enf_kw_view", databases = Set("shop"),
          factTable = "orders",
          factSchema = StructType.fromDDL(
            "o_orderkey BIGINT, o_custkey BIGINT, o_total DOUBLE"),
          factIdField = "o_orderkey", factJoinField = "o_custkey",
          dimTable = "customer",
          dimSchema = StructType.fromDDL("c_custkey BIGINT, c_name STRING"),
          dimIdField = "c_custkey", dimJoinField = "c_custkey",
          leftOuter = true, target = es("enf_kw_view"),
          deadLetterDir = dl, metrics = Some(target),
          expectations = Seq(Profile.InRange("id_cap", "o_total", 0.0, 50.0,
            action = Profile.Drop)))
          .runOnce(spark, feed, work, t),
        "ckpt_view",
        Seq(wire("customer", """{"c_custkey":1,"c_name":"A"}""", null, "c", 10, 1),
          wire("orders", order(3, 5.0), null, "c", 10, 2)),
        Seq(wire("orders", order(99, 99.0), null, "c", 20, 3),
          wire("orders", null, order(3, 5.0), "d", 20, 4),
          wire("orders", order(5, 7.0), null, "c", 20, 5)),
        "99", "3", "5", marked = true),
      Kind("enf_kw_ann", "vec_id", (feed, work, dl, t) =>
        AnnServingPipeline(
          name = "enf_kw_ann", databases = Set("shop"), table = "embeddings",
          idField = "vec_id", vectorField = "embedding",
          cents = Array(Array(1f, 0f), Array(-1f, 0f)),
          jdbcUrl = url, postingsTable = "enf_kw_postings",
          esMirror = Some(es("enf_kw_ann")),
          deadLetterDir = dl, metrics = Some(target),
          expectations = cap("vec_id"))
          .runOnce(spark, feed, work, t),
        "ckpt_index",
        Seq(wire("embeddings", vec(3, 1.0), null, "c", 10, 1)),
        Seq(wire("embeddings", vec(99, -1.0), null, "c", 20, 2),
          wire("embeddings", null, vec(3, 1.0), "d", 20, 3),
          wire("embeddings", vec(5, 1.0), null, "c", 20, 4)),
        "99", "3", "5", marked = true),
      Kind("enf_kw_dedup", "doc_id", (feed, work, dl, t) =>
        DedupClusterPipeline(
          name = "enf_kw_dedup", databases = Set("shop"), table = "documents",
          idField = "doc_id", textField = "text", target = es("enf_kw_dedup"),
          deadLetterDir = dl, metrics = Some(target),
          expectations = cap("doc_id"))
          .runOnce(spark, feed, work, t),
        "ckpt_clusters",
        Seq(wire("documents", doc(3, A), null, "c", 10, 1),
          wire("documents", doc(4, A), null, "c", 10, 2)),
        Seq(wire("documents", doc(98, B), null, "c", 20, 3),
          wire("documents", doc(99, B), null, "c", 20, 4),
          wire("documents", null, doc(3, A), "d", 20, 5),
          wire("documents", doc(5, C), null, "c", 20, 6),
          wire("documents", doc(6, C), null, "c", 20, 7)),
        "99", "3", "5", marked = true))
    // (id, is-upsert) of every document request, both wire shapes
    def ops(reqs: Seq[EsSink.Request]): Seq[(String, Boolean)] =
      reqs.filterNot(_.url.contains("_graft_progress")).flatMap { r =>
        r.method match {
          case "PUT" => Seq(r.url.split("/_doc/").last -> true)
          case "DELETE" => Seq(r.url.split("/_doc/").last -> false)
          case _ => r.body.split("\n").toSeq.map(l => mapper.readTree(l))
            .flatMap(n =>
              Option(n.get("index")).map(_.get("_id").asText -> true) ++
                Option(n.get("delete")).map(_.get("_id").asText -> false))
        }
      }
    kinds.foreach { k =>
      val dl = Files.createTempDirectory("graft_enf_kw_dl_").toString + "/dl"
      val feed = Files.createTempDirectory("graft_enf_kw_feed_").toFile
      val work = Files.createTempDirectory("graft_enf_kw_work_").toString
      val store = Files.createTempDirectory("graft_enf_kw_store_").toString
      val t = new EnforceSpec.FailingStore(store, Set(k.failing))
      def drain(): Seq[EsSink.Request] = {
        EnforceSpec.recorded.clear()
        k.run(feed.toString, work, Some(dl), t)
        EnforceSpec.recorded.asScala.toSeq
      }
      Files.write(new java.io.File(feed, "000.json").toPath, k.wave1.asJava)
      drain()
      Files.write(new java.io.File(feed, "001.json").toPath, k.wave2.asJava)
      val sent = drain()
      val sentOps = ops(sent)
      assert(!sentOps.exists(_._1 == k.violator),
        s"${k.name}: the drop violator must never be sent: $sentOps")
      assert(sentOps.contains(k.deleted -> false),
        s"${k.name}: the clean delete in the violator's batch is sent: $sentOps")
      assert(deadRows(dl).exists(d => d._1 == "id_cap" &&
        d._2.contains(s""""${k.idField}":${k.violator}""")),
        s"${k.name}: the violator dead-letters under _expect: ${deadRows(dl)}")
      val sinkDead = spark.read.parquet(dl).filter(col("id") === k.failing)
        .select(col("pipeline")).as[String].collect().toSeq
      assert(sinkDead.nonEmpty && sinkDead.forall(_ == k.name),
        s"${k.name}: the 400'd id lands in the sink dead letters: $sinkDead")
      // re-apply the delivered batch: drop the serving stage's last
      // commit, as a crash between the sink and the commit leaves it
      val commits = new java.io.File(s"$work/${k.servingCkpt}/commits")
      val last = commits.listFiles().map(_.getName)
        .filterNot(_.startsWith(".")).maxBy(_.toLong)
      Seq(last, s".$last.crc").foreach(n => new java.io.File(commits, n).delete())
      val resent = ops(drain())
      if (k.marked)
        assert(resent.isEmpty, s"${k.name}: the marker covers it: $resent")
      else
        assert(resent.sorted == sentOps.sorted,
          s"${k.name}: marker-free, the batch re-sends as-is: $resent")
    }
  }

  test("registry: action parses per rule; drop requires a deadLetterDir; unknown action fails naming the file") {
    def conf(dir: java.io.File, fname: String, body: String): Unit =
      Files.write(new java.io.File(dir, fname).toPath,
        Seq(body.stripMargin.replace("\n", "")).asJava)
    val good = Files.createTempDirectory("graft_enf_conf_").toFile
    conf(good, "g.json",
      s"""{"name":"enfreg","databases":["shop"],"tables":["documents"],
         |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
         |"deadLetterDir":"/tmp/graft_enf_reg_dl",
         |"metrics":{"url":"$url","table":"enf_metrics"},
         |"expectations":[
         |{"rule":"not_null","name":"t","column":"text","action":"drop"},
         |{"rule":"in_range","name":"r","column":"doc_id","lo":0,"hi":9,
         |"action":"halt"},
         |{"rule":"unique","name":"u","column":"doc_id"}]}""")
    val loaded = registered[CdcPipeline](good.toString)
    val acts = loaded.head.expectations.map(r => r.name -> r.action).toMap
    assert(acts == Map("t" -> Profile.Drop, "r" -> Profile.Halt,
      "u" -> Profile.Warn))
    // drop without a deadLetterDir dies at registration
    val nodl = Files.createTempDirectory("graft_enf_nodl_").toFile
    conf(nodl, "nodl.json",
      s"""{"name":"enfnodl","databases":["shop"],"tables":["documents"],
         |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
         |"metrics":{"url":"$url","table":"enf_metrics"},
         |"expectations":[{"rule":"not_null","name":"t","column":"text",
         |"action":"drop"}]}""")
    val e1 = intercept[IllegalArgumentException](
      PipelineRegistry.load(nodl.toString))
    assert(e1.getMessage.contains("nodl.json")
      && e1.getMessage.contains("deadLetterDir"), s"got: ${e1.getMessage}")
    // an unknown action dies at registration
    val bad = Files.createTempDirectory("graft_enf_badact_").toFile
    conf(bad, "bad.json",
      s"""{"name":"enfbad","databases":["shop"],"tables":["documents"],
         |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
         |"metrics":{"url":"$url","table":"enf_metrics"},
         |"expectations":[{"rule":"not_null","name":"t","column":"text",
         |"action":"quarantine"}]}""")
    val e2 = intercept[IllegalArgumentException](
      PipelineRegistry.load(bad.toString))
    assert(e2.getMessage.contains("bad.json")
      && e2.getMessage.contains("quarantine"), s"got: ${e2.getMessage}")
  }

  test("registry: ref_integrity declares its dimension as a parquet path — validated at registration naming file + field") {
    def conf(dir: java.io.File, fname: String, body: String): Unit =
      Files.write(new java.io.File(dir, fname).toPath,
        Seq(body.stripMargin.replace("\n", "")).asJava)
    val dimPath = Files.createTempDirectory("graft_enf_refdim_").toString + "/dim"
    Seq(1L, 2L).toDF("c_custkey").write.parquet(dimPath)
    val good = Files.createTempDirectory("graft_enf_refconf_").toFile
    conf(good, "r.json",
      s"""{"name":"enfref","databases":["shop"],"tables":["orders"],
         |"idKey":"o_orderkey",
         |"schema":"o_orderkey BIGINT, o_custkey BIGINT",
         |"metrics":{"url":"$url","table":"enf_metrics"},
         |"expectations":[{"rule":"ref_integrity","name":"cust_known",
         |"column":"o_custkey",
         |"dim":{"path":"$dimPath","keyColumn":"c_custkey"}}]}""")
    val loaded = registered[CdcPipeline](good.toString)
    val rule = loaded.head.expectations.head
      .asInstanceOf[Profile.RefIntegrityPath]
    assert(rule.dimPath == dimPath && rule.dimColumn == "c_custkey")
    // a nonexistent path dies at registration naming file + path
    val badPath = Files.createTempDirectory("graft_enf_refbad_").toFile
    conf(badPath, "bp.json",
      s"""{"name":"enfbp","databases":["shop"],"tables":["orders"],
         |"idKey":"o_orderkey",
         |"schema":"o_orderkey BIGINT, o_custkey BIGINT",
         |"metrics":{"url":"$url","table":"enf_metrics"},
         |"expectations":[{"rule":"ref_integrity","name":"cust_known",
         |"column":"o_custkey",
         |"dim":{"path":"/nonexistent/nowhere.parquet","keyColumn":"k"}}]}""")
    val e1 = intercept[IllegalArgumentException](
      PipelineRegistry.load(badPath.toString))
    assert(e1.getMessage.contains("bp.json")
      && e1.getMessage.contains("/nonexistent/nowhere.parquet"),
      s"got: ${e1.getMessage}")
    // a key column absent from the dimension dies naming the column
    val badCol = Files.createTempDirectory("graft_enf_refbadcol_").toFile
    conf(badCol, "bc.json",
      s"""{"name":"enfbc","databases":["shop"],"tables":["orders"],
         |"idKey":"o_orderkey",
         |"schema":"o_orderkey BIGINT, o_custkey BIGINT",
         |"metrics":{"url":"$url","table":"enf_metrics"},
         |"expectations":[{"rule":"ref_integrity","name":"cust_known",
         |"column":"o_custkey",
         |"dim":{"path":"$dimPath","keyColumn":"no_such_col"}}]}""")
    val e2 = intercept[IllegalArgumentException](
      PipelineRegistry.load(badCol.toString))
    assert(e2.getMessage.contains("bc.json")
      && e2.getMessage.contains("no_such_col"), s"got: ${e2.getMessage}")
  }

  test("registry: expectation columns resolve against the POST-TRANSFORM serving schema (lww and view)") {
    def conf(dir: java.io.File, fname: String, body: String): Unit =
      Files.write(new java.io.File(dir, fname).toPath,
        Seq(body.stripMargin.replace("\n", "")).asJava)
    // a transform-DROPPED declared column referenced by an expectation
    // dies at registration (the r10 advisory: it used to pass boot and
    // then throw AnalysisException in every micro-batch)
    val dropped = Files.createTempDirectory("graft_enf_ptdrop_").toFile
    conf(dropped, "d.json",
      s"""{"name":"enfpt","databases":["shop"],"tables":["documents"],
         |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING, note STRING",
         |"transform":{"drop":["note"]},
         |"metrics":{"url":"$url","table":"enf_metrics"},
         |"expectations":[{"rule":"not_null","name":"n","column":"note"}]}""")
    val e1 = intercept[IllegalArgumentException](
      PipelineRegistry.load(dropped.toString))
    assert(e1.getMessage.contains("d.json") && e1.getMessage.contains("note"),
      s"got: ${e1.getMessage}")
    // a transform-SET (added) column IS a valid expectation target
    val added = Files.createTempDirectory("graft_enf_ptadd_").toFile
    conf(added, "a.json",
      s"""{"name":"enfpta","databases":["shop"],"tables":["documents"],
         |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
         |"transform":{"set":[{"field":"n_tok",
         |"expr":"size(split(row.text, ' '))"}]},
         |"metrics":{"url":"$url","table":"enf_metrics"},
         |"expectations":[{"rule":"in_range","name":"tok_cap",
         |"column":"n_tok","lo":0,"hi":100}]}""")
    assert(registered[CdcPipeline](added.toString).head
      .expectations.size == 1)
    // same contract for views: a transform-dropped dim column referenced
    // by an expectation dies at registration
    val vdrop = Files.createTempDirectory("graft_enf_ptview_").toFile
    conf(vdrop, "v.json",
      s"""{"kind":"view","name":"enfptv","databases":["shop"],
         |"fact":{"table":"orders","idKey":"o_orderkey",
         |"joinKey":"o_custkey",
         |"schema":"o_orderkey BIGINT, o_custkey BIGINT"},
         |"dim":{"table":"customer","idKey":"c_custkey",
         |"joinKey":"c_custkey","schema":"c_custkey BIGINT, c_name STRING"},
         |"jdbc":{"url":"$url","table":"enf_nope"},
         |"transform":{"drop":["c_name"]},
         |"metrics":{"url":"$url","table":"enf_metrics"},
         |"expectations":[{"rule":"not_null","name":"n","column":"c_name"}]}""")
    val e2 = intercept[IllegalArgumentException](
      PipelineRegistry.load(vdrop.toString))
    assert(e2.getMessage.contains("v.json") && e2.getMessage.contains("c_name"),
      s"got: ${e2.getMessage}")
  }

  test("lww stream path: expectations resolve against the post-transform document and enforce drops") {
    EnforceSpec.recorded.clear()
    val recorded = EnforceSpec.recorded
    val dlDir = Files.createTempDirectory("graft_enf_inc_dl_").toString + "/dl"
    val feedDir = Files.createTempDirectory("graft_enf_inc_feed_").toFile
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire("documents", doc(1, "short"), null, "c", 10, 1),
      wire("documents", doc(2, "a much longer text with many tokens here"),
        null, "c", 10, 2)).asJava)
    // the transform DROPS a declared column and ADDS a derived one; the
    // expectation references the ADDED column — resolvable only against
    // the post-transform schema (the r10 advisory's other half)
    val pipe = CdcPipeline("enf_inc",
      Subscription(Set("shop"), Set("documents")),
      StructType.fromDDL("doc_id BIGINT, text STRING"), "doc_id",
      deadLetterDir = Some(dlDir),
      exprTransform = Some(ExprTransform(
        sets = Seq(("n_tok", "size(split(row.text, ' '))")),
        drops = Seq("text"))),
      metrics = Some(target),
      expectations = Seq(Profile.InRange("tok_cap", "n_tok", 0.0, 3.0,
        action = Profile.Drop)))
    pipe.startDsv2(spark, feedDir.toString,
      Files.createTempDirectory("graft_enf_inc_ckpt_").toString,
      EsSink.Config("http://es/idx", "u", "p", "doc_id"),
      new EnforceSpec.Rec).awaitTermination()
    val sent = recorded.asScala.map(r => r.url + "\n" + r.body).mkString
    assert(sent.contains("\"doc_id\":1"), s"doc 1 (1 token) serves: $sent")
    assert(!sent.contains("\"doc_id\":2"), s"doc 2 (8 tokens) withheld: $sent")
    assert(deadRows(dlDir).exists(d =>
      d._1 == "tok_cap" && d._2.contains("\"doc_id\":2")))
    assert(verdicts("enf_inc")("tok_cap") == ((1L, 0L, false)))
  }

  test("halt lifecycle: a breached stream quarantines with the store pre-batch; a conf fix restarts it from the checkpoint and the replayed batch serves") {
    EnforceSpec.recorded.clear()
    val confDir = Files.createTempDirectory("graft_enf_hl_conf_").toFile
    def writeConf(budget: Long): Unit =
      Files.write(new java.io.File(confDir, "h.json").toPath, Seq(
        s"""{"name":"enf_hl","databases":["shop"],"tables":["documents"],
           |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
           |"metrics":{"url":"$url","table":"enf_metrics"},
           |"expectations":[{"rule":"not_null","name":"text_set",
           |"column":"text","budget":$budget,"action":"halt"}]}"""
          .stripMargin.replace("\n", "")).asJava)
    writeConf(budget = 0L)
    val feedDir = Files.createTempDirectory("graft_enf_hl_feed_").toFile
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire("documents", doc(1, "fine"), null, "c", 10, 1),
      wire("documents", """{"doc_id":2,"text":null}""", null, "c", 10, 2))
      .asJava)
    val ckptRoot = Files.createTempDirectory("graft_enf_hl_ckpt_").toString
    val watcher = new PipelineWatcher(spark, confDir.toString,
      feedDir.toString, ckptRoot,
      EsSink.Config("http://es/idx", "u", "p", "doc_id"),
      new EnforceSpec.Rec, pollMs = 100L)
    try {
      val Seq(q) = watcher.startPipelines()
      // the halt breach fails the micro-batch: the query dies with the
      // HaltException as its cause and NOTHING reached the sink
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.awaitTermination())
      def rootCause(t: Throwable): Throwable =
        if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
      assert(rootCause(e).isInstanceOf[graft.ops.Profile.HaltException],
        s"got: ${rootCause(e)}")
      assert(EnforceSpec.recorded.isEmpty, "store keeps its pre-batch state")
      // ...but the breach IS observable: the verdict row landed first
      assert(verdicts("enf_hl")("text_set") == ((1L, 0L, false)))
      // the operator fixes the rule (budget raised) and the watcher's
      // reload path restarts the pipeline from its checkpoint; the
      // halted batch — never committed — replays and now serves
      Thread.sleep(1100) // mtime granularity: the edit must be visible
      writeConf(budget = 1L)
      val restarted = watcher.pollOnce()
      assert(restarted.nonEmpty, "conf edit restarts the quarantined pipeline")
      watcher.activeQueries.values.flatten.foreach(_.awaitTermination())
      val sent = EnforceSpec.recorded.asScala.map(r => r.url + "\n" + r.body)
        .mkString
      assert(sent.contains("\"doc_id\":1") && sent.contains("\"doc_id\":2"),
        s"replayed batch serves under the raised budget: $sent")
      assert(verdicts("enf_hl")("text_set") == ((1L, 1L, true)),
        "the replayed batch's verdict overwrites with the new budget")
    } finally watcher.stop()
  }

  test("drift policy: drop withholds bad-typed winners always and new-col winners beyond budget; halt quarantines after the verdict records") {
    import graft.streaming.CdcPipeline.DriftPolicy
    PipelineMetrics.ensureDriftTable(target)
    val dlDir = Files.createTempDirectory("graft_enf_drift_dl_").toString + "/dl"
    def mkPipe(nm: String, p: DriftPolicy) = CdcPipeline(nm,
      Subscription(Set("shop"), Set("documents")),
      StructType.fromDDL("doc_id BIGINT, score DOUBLE"), "doc_id",
      deadLetterDir = Some(dlDir), metrics = Some(target), driftPolicy = Some(p))
    val cfg = EsSink.Config("http://es/idx", "u", "p", "doc_id")
    // feed: doc 1 clean; doc 2's declared DOUBLE arrives as a string
    // (bad type — the typed struct would silently null it); doc 3
    // carries an undeclared field (schema evolution)
    val feed = Seq(
      wireRow("documents", """{"doc_id":1,"score":1.5}""", "c", 10, 1),
      wireRow("documents", """{"doc_id":2,"score":"oops"}""", "c", 10, 2),
      wireRow("documents", """{"doc_id":3,"score":2.5,"note":"n"}""", "c", 10, 3))
      .toDF("value", "offset")
    // DROP with newColsBudget=0: both drift kinds withheld, tagged
    EnforceSpec.recorded.clear()
    val drop0 = mkPipe("enf_drift0", DriftPolicy(newColsBudget = 0L,
      action = Profile.Drop))
    drop0.applyBatch(drop0.changeRows(feed), cfg, new EnforceSpec.Rec, 0L)
    val sent0 = EnforceSpec.recorded.asScala.map(r => r.url + "\n" + r.body)
      .mkString
    assert(sent0.contains("\"doc_id\":1") && !sent0.contains("\"doc_id\":2")
      && !sent0.contains("\"doc_id\":3"), s"only the clean doc serves: $sent0")
    val dead = PipelineMetrics.driftDeadLetters(spark, dlDir)
      .filter($"pipeline" === "enf_drift0")
      .select($"violated", $"row_json").as[(String, String)].collect().toMap
    assert(dead.size == 2
      && dead.exists(d => d._1 == "drift_badtype" && d._2.contains("\"doc_id\":2"))
      && dead.exists(d => d._1 == "drift_newcols" && d._2.contains("\"doc_id\":3")),
      s"both drift kinds dead-letter with their tags: $dead")
    // ...and the monitor's verdict row recorded the counts regardless
    val v = PipelineMetrics.driftRows(spark, target)
      .filter($"pipeline" === "enf_drift0")
      .select($"new_cols", $"rows_badtype").as[(Long, Long)].collect()
    assert(v.toSeq == Seq((1L, 1L)), s"verdict recorded: ${v.toSeq}")
    // DROP with newColsBudget=1: the evolution is TOLERATED — new-col
    // rows serve; the known-bad typed row is still withheld (budgets
    // never license serving a bad row)
    EnforceSpec.recorded.clear()
    val drop1 = mkPipe("enf_drift1", DriftPolicy(newColsBudget = 1L,
      action = Profile.Drop))
    drop1.applyBatch(drop1.changeRows(feed), cfg, new EnforceSpec.Rec, 0L)
    val sent1 = EnforceSpec.recorded.asScala.map(r => r.url + "\n" + r.body)
      .mkString
    assert(sent1.contains("\"doc_id\":1") && sent1.contains("\"doc_id\":3")
      && !sent1.contains("\"doc_id\":2"),
      s"tolerated evolution serves, bad type never does: $sent1")
    // HALT on bad type: verdict records FIRST, then the batch fails
    // with zero sink effects — the expectation Halt lifecycle
    EnforceSpec.recorded.clear()
    val halt = mkPipe("enf_drifth", DriftPolicy(badTypeRowsBudget = 0L,
      action = Profile.Halt))
    val e = intercept[Profile.HaltException](
      halt.applyBatch(halt.changeRows(feed), cfg, new EnforceSpec.Rec, 5L))
    assert(e.rule == "drift_badtype" && e.violations == 1L && e.budget == 0L)
    assert(EnforceSpec.recorded.isEmpty, "halt fires before any sink effect")
    val vh = PipelineMetrics.driftRows(spark, target)
      .filter($"pipeline" === "enf_drifth" && $"batch_id" === 5L)
      .select($"rows_badtype").as[Long].collect()
    assert(vh.toSeq == Seq(1L), "the breach is observable: verdict landed first")
  }

  test("drift replay: after the schema evolves, the RAW dead letters re-enter the feed and parse clean") {
    import graft.streaming.CdcPipeline.DriftPolicy
    PipelineMetrics.ensureDriftTable(target)
    val dl = Files.createTempDirectory("graft_enf_devo_dl_").toString + "/dl"
    val feedDir = Files.createTempDirectory("graft_enf_devo_feed_").toString
    val cfg = EsSink.Config("http://es/idx", "u", "p", "doc_id")
    def pipe(schema: String) = CdcPipeline("enf_devo",
      Subscription(Set("shop"), Set("documents")),
      StructType.fromDDL(schema), "doc_id",
      deadLetterDir = Some(dl), metrics = Some(target),
      driftPolicy = Some(DriftPolicy(newColsBudget = 0L,
        action = Profile.Drop)))
    // v1 schema has no `note`: doc 3's undeclared field drops it, the
    // dead letter keeping the RAW payload (note included)
    EnforceSpec.recorded.clear()
    val v1 = pipe("doc_id BIGINT, score DOUBLE")
    val feed = Seq(
      wireRow("documents", """{"doc_id":1,"score":1.5}""", "c", 10, 1),
      wireRow("documents", """{"doc_id":3,"score":2.5,"note":"n"}""", "c",
        10, 2)).toDF("value", "offset")
    v1.applyBatch(v1.changeRows(feed), cfg, new EnforceSpec.Rec, 0L)
    assert(!EnforceSpec.recorded.asScala.exists(_.body.contains("\"doc_id\":3")),
      "the drifted doc is withheld under the v1 schema")
    // the conf EVOLVES (note declared); the same bytes re-enter the
    // feed and now parse clean through the normal path
    assert(PipelineMetrics.replayDriftDeadLetters(spark, dl, "enf_devo",
      "shop", "documents", feedDir, tsMs = 999L) == 1L)
    // the consumed _drift partition retired with the publication
    assert(PipelineMetrics.driftDeadLetters(spark, dl).count() == 0L)
    EnforceSpec.recorded.clear()
    val v2 = pipe("doc_id BIGINT, score DOUBLE, note STRING")
    val replayRaw = spark.read.schema(StructType.fromDDL(
      "value STRING, offset BIGINT"))
      .json(s"$feedDir/replay_drift_enf_devo_999.json")
    v2.applyBatch(v2.changeRows(replayRaw), cfg, new EnforceSpec.Rec, 1L)
    val sent = EnforceSpec.recorded.asScala.map(_.body).mkString
    assert(sent.contains("\"doc_id\":3") && sent.contains("\"note\":\"n\""),
      s"the evolved schema serves the replayed doc with its new field: $sent")
  }

  test("replay epoch semantics: DONE gates a used epoch even when NEW dead letters exist; retirement precedes the marker") {
    val dl = Files.createTempDirectory("graft_enf_epoch_dl_").toString + "/dl"
    val feed = Files.createTempDirectory("graft_enf_epoch_feed_").toString
    def seed(batchId: Long, docId: Long): Unit =
      Seq(("rule_x", s"""{"doc_id":$docId,"text":"t"}"""))
        .toDF("violated", "row_json")
        .write.mode("overwrite")
        .parquet(s"$dl/_expect/pipeline=ep/batch_id=$batchId")
    def feedFiles(): Seq[String] =
      new java.io.File(feed).listFiles().map(_.getName).toSeq.sorted
    seed(0L, 7L)
    // first replay at epoch 100: publishes, RETIRES the consumed
    // partition, then marks DONE
    assert(PipelineMetrics.replayExpectDeadLetters(spark, dl, "ep",
      "shop", "documents", feed, tsMs = 100L) == 1L)
    assert(PipelineMetrics.expectDeadLetters(spark, dl).count() == 0L,
      "consumed partition retired")
    assert(feedFiles().exists(_.endsWith("_DONE")), "publication marked")
    // NEW dead letters arrive (a later batch re-drops) — the USED epoch
    // must refuse them (DONE gate, not the empty-frame early return):
    // re-injecting at an old epoch could stamp stale ts over newer truth
    seed(1L, 8L)
    assert(PipelineMetrics.replayExpectDeadLetters(spark, dl, "ep",
      "shop", "documents", feed, tsMs = 100L) == 0L,
      "a used epoch is DONE — even with fresh dead letters pending")
    assert(PipelineMetrics.expectDeadLetters(spark, dl).count() == 1L,
      "the refused partition is NOT retired")
    // a FRESH epoch replays the new letters and retires them
    assert(PipelineMetrics.replayExpectDeadLetters(spark, dl, "ep",
      "shop", "documents", feed, tsMs = 200L) == 1L)
    assert(PipelineMetrics.expectDeadLetters(spark, dl).count() == 0L)
    // the two publications coexist under distinct epoch-named files
    assert(feedFiles().count(f => f.startsWith("replay_expect_ep_")
      && f.endsWith(".json")) == 2, s"got ${feedFiles()}")
    // the transient IDS manifests are gone once their epochs complete
    assert(!feedFiles().exists(_.endsWith("_IDS")), s"got ${feedFiles()}")
  }

  test("registry: driftPolicy parses budgets and action; drop without a deadLetterDir dies naming the file") {
    def conf(dir: java.io.File, fname: String, body: String): Unit =
      Files.write(new java.io.File(dir, fname).toPath,
        Seq(body.stripMargin.replace("\n", "")).asJava)
    val good = Files.createTempDirectory("graft_enf_dpconf_").toFile
    conf(good, "g.json",
      s"""{"name":"enfdp","databases":["shop"],"tables":["documents"],
         |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
         |"deadLetterDir":"/tmp/graft_enf_dp_dl",
         |"metrics":{"url":"$url","table":"enf_metrics"},
         |"driftPolicy":{"newColsBudget":2,"badTypeRowsBudget":0,
         |"action":"drop"}}""")
    val loaded = registered[CdcPipeline](good.toString)
    val p = loaded.head.driftPolicy.get
    assert(p.newColsBudget == 2L && p.badTypeRowsBudget == 0L
      && p.action == Profile.Drop)
    val nodl = Files.createTempDirectory("graft_enf_dpnodl_").toFile
    conf(nodl, "nodl.json",
      s"""{"name":"enfdpn","databases":["shop"],"tables":["documents"],
         |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
         |"metrics":{"url":"$url","table":"enf_metrics"},
         |"driftPolicy":{"action":"drop"}}""")
    val e1 = intercept[IllegalArgumentException](
      PipelineRegistry.load(nodl.toString))
    assert(e1.getMessage.contains("nodl.json")
      && e1.getMessage.contains("deadLetterDir"), s"got: ${e1.getMessage}")
    val bad = Files.createTempDirectory("graft_enf_dpbad_").toFile
    conf(bad, "bad.json",
      s"""{"name":"enfdpb","databases":["shop"],"tables":["documents"],
         |"idKey":"doc_id","schema":"doc_id BIGINT, text STRING",
         |"metrics":{"url":"$url","table":"enf_metrics"},
         |"driftPolicy":{"action":"escalate"}}""")
    val e2 = intercept[IllegalArgumentException](
      PipelineRegistry.load(bad.toString))
    assert(e2.getMessage.contains("bad.json")
      && e2.getMessage.contains("escalate"), s"got: ${e2.getMessage}")
  }

  test("registry: driftPolicy parses for the non-lww kinds too (drift parity); driftCheck without metrics dies naming the file") {
    def conf(dir: java.io.File, fname: String, body: String): Unit =
      Files.write(new java.io.File(dir, fname).toPath,
        Seq(body.stripMargin.replace("\n", "")).asJava)
    val good = Files.createTempDirectory("graft_enf_dpann_").toFile
    conf(good, "a.json",
      s"""{"kind":"ann","name":"dpann","databases":["shop"],
         |"table":"embeddings","idKey":"vec_id","vectorField":"embedding",
         |"centroids":[[1.0,0.0],[-1.0,0.0]],
         |"jdbc":{"url":"$url","postingsTable":"dp_post"},
         |"deadLetterDir":"/tmp/graft_enf_dpann_dl",
         |"metrics":{"url":"$url","table":"enf_metrics"},
         |"driftPolicy":{"newColsBudget":0,"action":"drop"}}""")
    val ann = registered[AnnServingPipeline](good.toString)
    val ap = ann.head.driftPolicy.get
    assert(ap.newColsBudget == 0L && ap.action == Profile.Drop)
    conf(good, "v.json",
      s"""{"kind":"view","name":"dpview","databases":["shop"],
         |"fact":{"table":"orders","idKey":"o_orderkey","joinKey":"o_custkey",
         |        "schema":"o_orderkey BIGINT, o_custkey BIGINT"},
         |"dim":{"table":"customer","idKey":"c_custkey","joinKey":"c_custkey",
         |       "schema":"c_custkey BIGINT, c_name STRING"},
         |"jdbc":{"url":"$url","table":"dp_enr"},
         |"metrics":{"url":"$url","table":"enf_metrics"},
         |"driftCheck":true}""")
    assert(registered[ViewPipeline](good.toString).head.driftCheck)
    // the shared invariant holds on every kind: a monitor without a
    // verdict store is silent monitoring — boot-time refusal (S3)
    val bad = Files.createTempDirectory("graft_enf_dpdd_").toFile
    conf(bad, "d.json",
      """{"kind":"dedup","name":"dpdd","databases":["shop"],
        |"table":"documents","idKey":"doc_id","textField":"text",
        |"jdbc":{"url":"jdbc:derby:memory:dpdd;create=true",
        |"clustersTable":"dp_cl"},
        |"driftCheck":true}""")
    val e = intercept[IllegalArgumentException](
      PipelineRegistry.load(bad.toString))
    assert(e.getMessage.contains("d.json")
      && e.getMessage.contains("metrics"), s"got: ${e.getMessage}")
  }

  test("view drop: a violating key-move replacement withholds the paired delete too — the store keeps its pre-batch row") {
    exec("""CREATE TABLE enf_kmv ("o_orderkey" BIGINT NOT NULL PRIMARY KEY,
      | "o_custkey" BIGINT, "o_total" DOUBLE,
      | "c_custkey" BIGINT, "c_name" VARCHAR(64))"""
      .stripMargin.replace("\n", ""))
    val dl = Files.createTempDirectory("graft_enf_kmv_dl_").toString + "/dl"
    val feed = Files.createTempDirectory("graft_enf_kmv_feed_").toFile
    val work = Files.createTempDirectory("graft_enf_kmv_work_").toString
    val pipe = ViewPipeline(
      name = "enf_kmv", databases = Set("shop"),
      factTable = "orders",
      factSchema = StructType.fromDDL(
        "o_orderkey BIGINT, o_custkey BIGINT, o_total DOUBLE"),
      factIdField = "o_orderkey", factJoinField = "o_custkey",
      dimTable = "customer",
      dimSchema = StructType.fromDDL("c_custkey BIGINT, c_name STRING"),
      dimIdField = "c_custkey", dimJoinField = "c_custkey",
      leftOuter = true,
      target = JdbcTarget(url, "enf_kmv", Some("c_name VARCHAR(64)")),
      deadLetterDir = Some(dl), metrics = Some(target),
      expectations = Seq(Profile.InRange("total_cap", "o_total", 0.0, 50.0,
        action = Profile.Drop)))
    // wave 1: clean order 10 under customer 1
    Files.write(new java.io.File(feed, "000.json").toPath, Seq(
      wire("customer", """{"c_custkey":1,"c_name":"A"}""", null, "c", 10, 1),
      wire("customer", """{"c_custkey":2,"c_name":"B"}""", null, "c", 10, 2),
      wire("orders", """{"o_orderkey":10,"o_custkey":1,"o_total":5.0}""",
        null, "c", 10, 3)).asJava)
    pipe.runOnce(spark, feed.toString, work)
    // wave 2: join-key move 1→2 whose replacement row VIOLATES — the
    // incremental join emits a (delete, upsert) pair for fact 10; the
    // upsert is withheld, and the paired delete must be withheld WITH
    // it, or the key vanishes from the store instead of keeping its
    // pre-batch row (the uniform Drop contract)
    Files.write(new java.io.File(feed, "001.json").toPath, Seq(
      wire("orders", """{"o_orderkey":10,"o_custkey":2,"o_total":99.0}""",
        """{"o_orderkey":10,"o_custkey":1,"o_total":5.0}""", "u", 20, 4))
      .asJava)
    pipe.runOnce(spark, feed.toString, work)
    val served = spark.read.jdbc(url, "enf_kmv", new java.util.Properties())
      .select(col("o_orderkey").cast("long"), col("o_total"), col("c_name"))
      .as[(Long, Double, String)].collect().toSeq
    assert(served == Seq((10L, 5.0, "A")),
      s"pre-batch row stays served, got $served")
    assert(deadRows(dl).exists(dr =>
      dr._1 == "total_cap" && dr._2.contains("\"o_total\":99.0")))
  }

  test("view per-side drift policies: fact-side drop quarantines beside dim-side warn monitoring") {
    PipelineMetrics.ensureDriftTable(target)
    exec("""CREATE TABLE enf_side ("o_orderkey" BIGINT NOT NULL PRIMARY KEY,
      | "o_custkey" BIGINT, "o_total" DOUBLE,
      | "c_custkey" BIGINT, "c_name" VARCHAR(64))"""
      .stripMargin.replace("\n", ""))
    val dl = Files.createTempDirectory("graft_enf_side_dl_").toString + "/dl"
    val feed = Files.createTempDirectory("graft_enf_side_feed_").toFile
    val work = Files.createTempDirectory("graft_enf_side_work_").toString
    val pipe = ViewPipeline(
      name = "enf_side", databases = Set("shop"),
      factTable = "orders",
      factSchema = StructType.fromDDL(
        "o_orderkey BIGINT, o_custkey BIGINT, o_total DOUBLE"),
      factIdField = "o_orderkey", factJoinField = "o_custkey",
      dimTable = "customer",
      dimSchema = StructType.fromDDL("c_custkey BIGINT, c_name STRING"),
      dimIdField = "c_custkey", dimJoinField = "c_custkey",
      leftOuter = false,
      target = JdbcTarget(url, "enf_side", Some("c_name VARCHAR(64)")),
      deadLetterDir = Some(dl), metrics = Some(target),
      factDriftPolicy = Some(CdcPipeline.DriftPolicy(newColsBudget = 0L,
        action = Profile.Drop)),
      dimDriftPolicy = Some(CdcPipeline.DriftPolicy(newColsBudget = 0L,
        action = Profile.Warn)))
    Files.write(new java.io.File(feed, "000.json").toPath, Seq(
      wire("customer", """{"c_custkey":1,"c_name":"A"}""", null, "c", 10, 1),
      // dim drift (undeclared `tier`): the WARN side records a verdict
      // and still serves — monitoring one side must not withhold it
      wire("customer", """{"c_custkey":2,"c_name":"B","tier":"gold"}""",
        null, "c", 10, 2),
      wire("orders", """{"o_orderkey":10,"o_custkey":1,"o_total":5.0}""",
        null, "c", 10, 3),
      // fact drift (undeclared `memo`): the DROP side withholds it
      wire("orders",
        """{"o_orderkey":11,"o_custkey":1,"o_total":7.0,"memo":"m"}""",
        null, "c", 10, 4),
      wire("orders", """{"o_orderkey":12,"o_custkey":2,"o_total":9.0}""",
        null, "c", 10, 5)).asJava)
    pipe.runOnce(spark, feed.toString, work)
    val served = spark.read.jdbc(url, "enf_side", new java.util.Properties())
      .select(col("o_orderkey").cast("long"), col("c_name"))
      .as[(Long, String)].collect().toSeq.sorted
    // 11 quarantined by the fact gate; 12 joins the warn-monitored
    // (drifted, still served) dim row
    assert(served == Seq((10L, "A"), (12L, "B")), s"got $served")
    // per-side verdict tags: each side recorded ITS drift
    val tags = PipelineMetrics.driftRows(spark, target)
      .filter($"pipeline".isin("enf_side.fact", "enf_side.dim"))
      .select($"pipeline", $"rows_new").as[(String, Long)]
      .collect().toMap
    assert(tags == Map("enf_side.fact" -> 1L, "enf_side.dim" -> 1L),
      s"got $tags")
    // the quarantined fact carries the RAW payload under the fact tag
    val dls = PipelineMetrics.driftDeadLetters(spark, dl)
      .select($"pipeline", $"violated", $"row_json")
      .as[(String, String, String)].collect().toSeq
    assert(dls.map(d => (d._1, d._2)) == Seq(("enf_side.fact",
      "drift_newcols")) && dls.head._3.contains("\"memo\":\"m\""),
      s"got $dls")
  }

  test("replayStarted tracks the publication artifacts exactly (manifest, feed file, DONE) with the verb's name sanitization") {
    val feed = Files.createTempDirectory("graft_enf_rps_").toString
    def probe(p: String = "my pipe!", ts: Long = 42L): Boolean =
      PipelineMetrics.replayStarted(spark, feed, "_expect", p, ts)
    assert(!probe(), "fresh feed: nothing started")
    // the sanitized name must match replayWire's artifact naming —
    // 'my pipe!' writes as 'my_pipe_'
    def touch(n: String): java.nio.file.Path =
      Files.createFile(java.nio.file.Paths.get(feed, n))
    val ids = touch("_replay_expect_my_pipe__42_IDS")
    assert(probe(), "a committed manifest marks the epoch started")
    Files.delete(ids)
    val pub = touch("replay_expect_my_pipe__42.json")
    assert(probe(), "a published feed file marks it started")
    Files.delete(pub)
    touch("_replay_expect_my_pipe__42_DONE")
    assert(probe(), "a DONE marker marks it started")
    assert(!probe(ts = 43L), "another epoch is untouched")
    assert(!PipelineMetrics.replayStarted(spark, feed, "_drift",
      "my pipe!", 42L), "another subtree is untouched")
    // and against the REAL writer, not hand-touched files: a completed
    // replayWire publication must read as started — this is the gate
    // that keeps a crash-retried strict drive from re-draining the
    // published replay file (q168/q172), so writer and gate must agree
    // on the artifact names forever
    import spark.implicits._
    val dl = Files.createTempDirectory("graft_enf_rps_dl_").toString
    Seq(("rule", """{"id":1,"v":2}""")).toDF("violated", "row_json")
      .write.parquet(s"$dl/_expect/pipeline=realp/batch_id=0")
    val feed2 = Files.createTempDirectory("graft_enf_rps_feed_").toString
    assert(!PipelineMetrics.replayStarted(spark, feed2, "_expect",
      "realp", 777L))
    assert(PipelineMetrics.replayExpectDeadLetters(spark, dl, "realp",
      "db", "t", feed2, tsMs = 777L) == 1L)
    assert(PipelineMetrics.replayStarted(spark, feed2, "_expect",
      "realp", 777L),
      "a completed publication must register with the retry gate")
  }

  test("registry: per-side view driftPolicy overrides parse; a drop side without a deadLetterDir dies naming the side") {
    def conf(dir: java.io.File, fname: String, body: String): Unit =
      Files.write(new java.io.File(dir, fname).toPath,
        Collections.singletonList(body.stripMargin.replace("\n", "")))
    def viewConf(dlLine: String): String =
      s"""{"kind":"view","name":"vside","databases":["shop"],
         |"fact":{"table":"orders","idKey":"o_orderkey",
         |"joinKey":"o_custkey",
         |"schema":"o_orderkey BIGINT, o_custkey BIGINT",
         |"driftPolicy":{"newColsBudget":0,"action":"drop"}},
         |"dim":{"table":"customer","idKey":"c_custkey",
         |"joinKey":"c_custkey",
         |"schema":"c_custkey BIGINT, c_name STRING",
         |"driftPolicy":{"action":"warn"}},
         |"jdbc":{"url":"$url","table":"vside_t"},
         |"metrics":{"url":"$url","table":"enf_metrics"}$dlLine}"""
    val good = Files.createTempDirectory("graft_enf_vside_").toFile
    conf(good, "v.json",
      viewConf(""","deadLetterDir":"/tmp/graft_vside_dl""""))
    val p = registered[ViewPipeline](good.toString).head
    assert(p.factDriftPolicy.exists(fp => fp.action == Profile.Drop
      && fp.newColsBudget == 0L))
    assert(p.dimDriftPolicy.exists(_.action == Profile.Warn))
    assert(p.driftPolicy.isEmpty && !p.driftCheck)
    // a drop-action SIDE policy without a deadLetterDir dies at boot
    // naming the declaring side key (S3's fail-fast discipline)
    val bad = Files.createTempDirectory("graft_enf_vside_bad_").toFile
    conf(bad, "v.json", viewConf(""))
    val e = intercept[IllegalArgumentException](
      PipelineRegistry.load(bad.toString))
    assert(e.getMessage.contains("fact.driftPolicy")
      && e.getMessage.contains("deadLetterDir"), s"got: ${e.getMessage}")
  }

  test("additive store: drop rules are restricted to the stable doc identity at registration") {
    def mkPipe(rules: Seq[Profile.Rule]): SearchServingPipeline =
      SearchServingPipeline(
        name = "enf_stab", databases = Set("shop"), table = "documents",
        idField = "doc_id", textField = "text",
        jdbcUrl = url, postingsTable = "p_stab", lensTable = "l_stab",
        metrics = Some(target),
        deadLetterDir = Some("/tmp/graft_enf_stab_dl"),
        expectations = rules)
    // a tf-range drop rule would withhold a +5 insert yet pass the -5
    // retraction (tf negative in the store) — rejected at construction
    val e1 = intercept[IllegalArgumentException](mkPipe(Seq(
      Profile.InRange("tf_cap", "tf", 0.0, 5.0, action = Profile.Drop))))
    assert(e1.getMessage.contains("tf_cap")
      && e1.getMessage.contains("doc_id"), s"got: ${e1.getMessage}")
    // a Unique verdict depends on the batch's other rows — never stable
    val e2 = intercept[IllegalArgumentException](mkPipe(Seq(
      Profile.Unique("one_doc", "doc_id", action = Profile.Drop))))
    assert(e2.getMessage.contains("one_doc")
      && e2.getMessage.contains("Unique"), s"got: ${e2.getMessage}")
    // warn-action monitoring over any column stays allowed (it only
    // records verdicts — nothing enters or leaves the fold on it)
    mkPipe(Seq(Profile.InRange("tf_watch", "tf", 0.0, 5.0)))
    // and identity-scoped drop rules construct fine
    mkPipe(Seq(Profile.InRange("id_cap", "doc_id", 0.0, 100.0,
      action = Profile.Drop)))
    ()
  }

  test("additive store: a referential drop rule judges the PINNED dimension — a doc allowed in is always allowed out") {
    exec("""CREATE TABLE enf_pin_p ("token" VARCHAR(256) NOT NULL,
      | "doc_id" BIGINT NOT NULL, "tf" BIGINT,
      | PRIMARY KEY ("token", "doc_id"))""".stripMargin.replace("\n", ""))
    exec("""CREATE TABLE enf_pin_l ("doc_id" BIGINT NOT NULL PRIMARY KEY,
      | "len" BIGINT)""".stripMargin.replace("\n", ""))
    val dimDir = Files.createTempDirectory("graft_enf_pin_dim_").toString + "/dim"
    Seq(1L, 2L).toDF("c_custkey").write.mode("overwrite").parquet(dimDir)
    val dl = Files.createTempDirectory("graft_enf_pin_dl_").toString + "/dl"
    val feed = Files.createTempDirectory("graft_enf_pin_feed_").toFile
    val work = Files.createTempDirectory("graft_enf_pin_work_").toString
    val pipe = SearchServingPipeline(
      name = "enf_pin", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      jdbcUrl = url, postingsTable = "enf_pin_p", lensTable = "enf_pin_l",
      metrics = Some(target), deadLetterDir = Some(dl),
      expectations = Seq(Profile.RefIntegrityPath("doc_in_dim", "doc_id",
        dimDir, "c_custkey", action = Profile.Drop)))
    // wave 1: docs 1 and 2 insert — both in the dimension
    Files.write(new java.io.File(feed, "000.json").toPath, Seq(
      wire("documents", doc(1, "vector stream"), null, "c", 10, 1),
      wire("documents", doc(2, "vector join"), null, "c", 10, 2)).asJava)
    pipe.runOnce(spark, feed.toString, work)
    def storedDocs(): Seq[Long] =
      spark.read.jdbc(url, "enf_pin_p", new java.util.Properties())
        .select(col("doc_id").cast("long")).distinct().as[Long]
        .collect().toSeq.sorted
    assert(storedDocs() == Seq(1L, 2L), s"both docs indexed: ${storedDocs()}")
    // the LIVE dimension then bans doc 2 — but its +postings are
    // already in the running sums, and the verdict that let them in
    // must also let their retraction out
    Seq(1L).toDF("c_custkey").write.mode("overwrite").parquet(dimDir)
    Files.write(new java.io.File(feed, "001.json").toPath, Seq(
      wire("documents", null, doc(2, "vector join"), "d", 20, 3)).asJava)
    pipe.runOnce(spark, feed.toString, work)
    // the retraction judged the SNAPSHOT pinned at the store's birth
    // (allowed) — doc 2's postings and length are GONE; an unpinned
    // per-batch dim re-read would have withheld the -postings, leaving
    // doc 2's contributions stuck in the index forever
    assert(storedDocs() == Seq(1L),
      s"doc 2's contributions retracted cleanly: ${storedDocs()}")
    val lens = spark.read.jdbc(url, "enf_pin_l", new java.util.Properties())
      .select(col("doc_id").cast("long")).as[Long].collect().toSeq.sorted
    assert(lens == Seq(1L), s"doc 2's len row retracted with it: $lens")
  }
}

object EnforceSpec {
  /** Static recorder (SinkSpec's rule): sink closures serialize the
    * transport, so an instance-captured list would be COPIED on
    * deserialization and the test would read an empty original.
    */
  val recorded: java.util.List[graft.sinks.EsSink.Request] =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[graft.sinks.EsSink.Request]())
  class Rec extends graft.sinks.EsSink.Transport {
    def send(req: graft.sinks.EsSink.Request): Int = { recorded.add(req); 200 }
  }
  /** A file-backed store that records every send and answers HTTP 400
    * to any request addressing one of `failIds` (single or bulk shape).
    */
  class FailingStore(dir: String, failIds: Set[String])
      extends graft.sinks.EsSink.Transport {
    private val store = new graft.sinks.EsSink.FileDocStore(dir)
    def send(req: graft.sinks.EsSink.Request): Int = {
      recorded.add(req)
      if (failIds.exists(id => req.url.endsWith(s"/_doc/$id") ||
          req.body.contains(s""""_id":"$id"""))) 400
      else store.send(req)
    }
    override def get(url: String,
        headers: Map[String, String]): (Int, String) = store.get(url, headers)
  }
}
