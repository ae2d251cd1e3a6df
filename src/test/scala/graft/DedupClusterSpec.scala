package graft

import graft.streaming.DedupClusterPipeline
import org.apache.spark.sql.functions.col
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Streaming dedup-cluster serving E2E: a documents CDC feed drives the
  * LSH pair index, pair churn folds into live cluster labels — merge on
  * newly-live pairs, split/dropout on retractions — and the JDBC
  * serving table tracks exactly the from-scratch clustering of the live
  * pair set at every wave.
  */
class DedupClusterSpec extends SparkSpec {

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
      .replace("\"doc_id\"", "\"doc_id\"") // stable key order not required

  private val A = "alpha beta gamma delta epsilon zeta eta theta"
  private val Z = "one two three four five six seven eight nine"
  private val B = "red orange yellow green blue indigo violet crimson"

  test("E2E: merge on shared text, split/dropout on revision, serving tracks from-scratch clustering") {
    val url = "jdbc:derby:memory:graftdedupclu;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE clusters ("doc_id" BIGINT NOT NULL PRIMARY KEY,
        | "cluster_id" BIGINT, "is_canonical" INTEGER)"""
        .stripMargin.replace("\n", ""))
    c0.close()

    // compactEvery=1 forces base-generation compaction between waves, so
    // the fold-over-base path (not just the pure-log path) is exercised
    val pipeline = DedupClusterPipeline(
      name = "clu", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      target = graft.streaming.JdbcTarget(url, "clusters"), compactEvery = 1)

    val feedDir = Files.createTempDirectory("graft_dedupclu_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_dedupclu_work_").toString

    // wave 0: {1,2} share text A; {4,5,6} share text Z (identical texts
    // collide in every band — the pair set is deterministic)
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire(d(1, A), null, "c", 10, 1),
      wire(d(2, A), null, "c", 10, 2),
      wire(d(4, Z), null, "c", 10, 3),
      wire(d(5, Z), null, "c", 10, 4),
      wire(d(6, Z), null, "c", 10, 5)).asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)

    def served(): Map[Long, (Long, Boolean)] =
      pipeline.servedClusters(spark).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(served() == Map(
      1L -> ((1L, true)), 2L -> ((1L, false)),
      4L -> ((4L, true)), 5L -> ((4L, false)), 6L -> ((4L, false))),
      s"wave 0 clusters, got ${served()}")

    // wave 1: doc 3 joins the A-cluster (merge); doc 4 is REVISED to an
    // unrelated text — its pairs retract, {5,6} must re-form WITHOUT it
    // (the split/recompute path) and 4 must leave the serving table
    Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
      wire(d(3, A), null, "c", 20, 6),
      wire(d(4, B), d(4, Z), "u", 20, 7)).asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)

    assert(served() == Map(
      1L -> ((1L, true)), 2L -> ((1L, false)), 3L -> ((1L, false)),
      5L -> ((5L, true)), 6L -> ((5L, false))),
      s"wave 1: merged {1,2,3}, re-canonicalized {5,6}, 4 gone — got ${served()}")

    // no new feed data → re-drain is a no-op
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    assert(served().size == 5)

    // state logs append per batch; compaction published a base
    // generation and pruned the folded-in log dirs
    val labelBase = new java.io.File(s"$workRoot/state_labels")
    assert(new java.io.File(labelBase, "log").isDirectory)
    val cur = java.nio.file.Files.readString(
      labelBase.toPath.resolve("CURRENT")).trim
    assert(cur.startsWith("gen_"),
      s"compaction must have published a base generation, got '$cur'")
  }

  test("ES target: cluster documents serve id-keyed; a dropout becomes a DELETE") {
    val pipeline = DedupClusterPipeline(
      name = "cluEs", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      target = graft.streaming.EsTarget("http://es:9200/clusters", "u", "p"))
    val feedDir = Files.createTempDirectory("graft_dedupes_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_dedupes_work_").toString
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire(d(1, A), null, "c", 10, 1),
      wire(d(2, A), null, "c", 10, 2)).asJava)
    // the sink legally splits single vs /_bulk by partition layout —
    // normalize both forms to (id → payload json or null-for-delete)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def servedOps(): Map[String, Option[String]] =
      SinkSpec.recorded.asScala.toSeq
        .filterNot(_.url.contains("_graft_progress")).flatMap { r =>
        r.method match {
          case "PUT" => Seq(r.url.split("/_doc/").last -> Some(r.body))
          case "DELETE" => Seq(r.url.split("/_doc/").last -> None)
          case "POST" if r.url.endsWith("/_bulk") =>
            val lines = r.body.split("\n").filter(_.nonEmpty)
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(String, Option[String])]
            var i = 0
            while (i < lines.length) {
              val meta = om.readTree(lines(i))
              if (meta.has("index")) {
                out += (meta.get("index").get("_id").asText() ->
                  Some(lines(i + 1))); i += 2
              } else {
                out += (meta.get("delete").get("_id").asText() -> None); i += 1
              }
            }
            out.toSeq
          case _ => Nil
        }
      }.toMap
    SinkSpec.recorded.clear()
    pipeline.runOnce(spark, feedDir.toString, workRoot, new SinkSpec.Recorder)
    val ops0 = servedOps()
    assert(ops0.keySet == Set("1", "2") && ops0.values.forall(_.isDefined),
      s"both docs must upsert, got $ops0")
    val doc = om.readTree(ops0("1").get)
    assert(doc.get("cluster_id").asLong == 1L && doc.get("is_canonical").asInt == 1)

    // doc 2 revised away from the cluster: both docs lose their only
    // pair — served documents are DELETED by id
    Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
      wire(d(2, B), d(2, A), "u", 20, 3)).asJava)
    SinkSpec.recorded.clear()
    pipeline.runOnce(spark, feedDir.toString, workRoot, new SinkSpec.Recorder)
    val ops1 = servedOps()
    assert(ops1.keySet == Set("1", "2") && ops1.values.forall(_.isEmpty),
      s"pairless docs must be deleted from the index, got $ops1")
  }

  test("verifyThreshold gates candidate pairs on exact Jaccard; a revision re-verifies and merges") {
    val url = "jdbc:derby:memory:graftdedupver;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE vclusters ("doc_id" BIGINT NOT NULL PRIMARY KEY,
        | "cluster_id" BIGINT, "is_canonical" INTEGER)"""
        .stripMargin.replace("\n", ""))
    c0.close()
    // rows=1 makes band buckets single-minhash: a ~0.5-Jaccard pair
    // collides in some band w.h.p. — a CANDIDATE the 0.9 verify
    // threshold must reject
    val pipeline = DedupClusterPipeline(
      name = "ver", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      target = graft.streaming.JdbcTarget(url, "vclusters"),
      bands = 16, rows = 1, verifyThreshold = Some(0.9))
    val feedDir = Files.createTempDirectory("graft_dedupver_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_dedupver_work_").toString
    val half = A + " " + Z.split(" ").take(4).mkString(" ") // ~half of A's shingles
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire(d(1, A), null, "c", 10, 1),
      wire(d(2, half), null, "c", 10, 2),
      wire(d(4, Z), null, "c", 10, 3),
      wire(d(5, Z), null, "c", 10, 4)).asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    def served(): Map[Long, Long] =
      pipeline.servedClusters(spark).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // {4,5} identical → verified cluster; {1,2} at sub-threshold
    // Jaccard must NOT merge even when banding nominates them
    assert(served() == Map(4L -> 4L, 5L -> 4L), s"got ${served()}")
    // the CANDIDATE actually existed (this test gated something): the
    // support state holds a 1-2 pair the verifier rejected
    val supportLog = spark.read.parquet(s"$workRoot/state_support/log")
    assert(supportLog.filter(col("id_a") === 1 && col("id_b") === 2)
      .count() > 0, "the sub-threshold pair must have been a candidate")

    // revision: doc 2 becomes identical to doc 1 → the recheck path
    // re-verifies the pair and the cluster forms
    Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
      wire(d(2, A), d(2, half), "u", 20, 5)).asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    assert(served() == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L),
      s"revision must re-verify and merge, got ${served()}")
  }

  test("enabling verifyThreshold over an existing work dir migrates: legacy over-merges retract; pair log carries touch markers") {
    val url = "jdbc:derby:memory:graftdedupmig;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE migclusters ("doc_id" BIGINT NOT NULL PRIMARY KEY,
        | "cluster_id" BIGINT, "is_canonical" INTEGER)"""
        .stripMargin.replace("\n", ""))
    c0.close()
    val feedDir = Files.createTempDirectory("graft_dedupmig_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_dedupmig_work_").toString
    val half = A + " " + Z.split(" ").take(4).mkString(" ")
    // phase 1: UNVERIFIED pipeline — the ~0.5-Jaccard candidate {1,2}
    // merges (rows=1 banding nominates it), as does the true pair {4,5}
    val raw = DedupClusterPipeline(
      name = "mig", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      target = graft.streaming.JdbcTarget(url, "migclusters"),
      bands = 16, rows = 1)
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire(d(1, A), null, "c", 10, 1),
      wire(d(2, half), null, "c", 10, 2),
      wire(d(4, Z), null, "c", 10, 3),
      wire(d(5, Z), null, "c", 10, 4)).asJava)
    raw.runOnce(spark, feedDir.toString, workRoot)
    def served(): Map[Long, Long] =
      raw.servedClusters(spark).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rows=1 banding nominates even the weak cross-text overlaps, so
    // the whole quartet collapses into ONE raw-candidate cluster — the
    // over-merge the migration must undo
    assert(served() == Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 5L -> 1L),
      s"unverified run must over-merge raw candidates, got ${served()}")

    // phase 2: the SAME work dir continues with verification enabled —
    // the next batch is the migration batch: every live pair
    // re-verifies and the legacy below-threshold merge retracts
    val verified = raw.copy(verifyThreshold = Some(0.9))
    Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
      wire(d(9, B), null, "c", 20, 5)).asJava)
    verified.runOnce(spark, feedDir.toString, workRoot)
    assert(served() == Map(4L -> 4L, 5L -> 4L),
      s"migration must retract the sub-threshold legacy merge, got ${served()}")

    // the pair log carries a TOUCH MARKER for doc 9 even though its
    // unique text shared no bucket with anyone (zero pair deltas) —
    // the visibility row the recheck path depends on
    val pairLog = spark.read.parquet(s"$workRoot/log_pairs")
    assert(pairLog.filter(col("id_a") === 9 && col("id_b") === 9
      && col("delta") === 0).count() == 1,
      "every doc delta must leave its (id, id, 0) marker in the pair log")
  }

  test("ES target dead-letters undeliverable cluster rows while the checkpoint advances (S6)") {
    val dlRoot = Files.createTempDirectory("graft_dedup_dl_").toString
    val dlDir = s"$dlRoot/dead"
    val pipeline = DedupClusterPipeline(
      name = "cluDl", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      target = graft.streaming.EsTarget("http://es:9200/clusters", "u", "p"),
      deadLetterDir = Some(dlDir))
    val feedDir = Files.createTempDirectory("graft_dedupdl_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_dedupdl_work_").toString
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire(d(1, A), null, "c", 10, 1),
      wire(d(2, A), null, "c", 10, 2)).asJava)
    // every send is a permanent 4xx → both upserts dead-letter instead
    // of silently vanishing while the cluster checkpoint advances
    SinkSpec.recorded.clear()
    SinkSpec.scriptCalls.set(0)
    SinkSpec.script = Seq(400)
    pipeline.runOnce(spark, feedDir.toString, workRoot, new SinkSpec.Scripted)
    val dead = spark.read.parquet(dlDir).collect()
    assert(dead.nonEmpty, "undeliverable rows must land in the dead-letter dir")
    val deadIds = dead.map(r => r.getString(r.fieldIndex("id"))).toSet
    assert(deadIds == Set("1", "2"), s"both cluster rows dead-letter, got $deadIds")
    assert(dead.forall(_.getString(dead.head.fieldIndex("pipeline")) == "cluDl"))
  }

  test("keyed replay: drop -> conf fix -> replay re-serves the quarantined cluster rows (store reconverges)") {
    import graft.streaming.PipelineMetrics
    val url = "jdbc:derby:memory:graftdeduprp;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE clusters_rp ("doc_id" BIGINT NOT NULL PRIMARY KEY,
        | "cluster_id" BIGINT, "is_canonical" INTEGER)"""
        .stripMargin.replace("\n", ""))
    c0.close()
    val target = PipelineMetrics.Target(url, "clurp_metrics")
    PipelineMetrics.ensureTable(target)
    PipelineMetrics.ensureExpectTable(target)
    val dl = Files.createTempDirectory("graft_dedup_rp_dl_").toString + "/dl"
    def pipe(hi: Double) = DedupClusterPipeline(
      name = "clurp", databases = Set("shop"), table = "documents",
      idField = "doc_id", textField = "text",
      target = graft.streaming.JdbcTarget(url, "clusters_rp"),
      metrics = Some(target), deadLetterDir = Some(dl),
      expectations = Seq(graft.ops.Profile.InRange("id_cap", "doc_id",
        0.0, hi, action = graft.ops.Profile.Drop)))
    val feedDir = Files.createTempDirectory("graft_dedup_rp_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_dedup_rp_work_").toString
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire(d(1, A), null, "c", 10, 1),
      wire(d(2, A), null, "c", 10, 2),
      wire(d(4, Z), null, "c", 10, 3),
      wire(d(5, Z), null, "c", 10, 4)).asJava)
    // strict rule: docs 4 and 5 violate — their cluster rows quarantine
    pipe(hi = 3.0).runOnce(spark, feedDir.toString, workRoot)
    val strictPipe = pipe(hi = 3.0)
    def served(): Map[Long, Long] =
      strictPipe.servedClusters(spark).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served() == Map(1L -> 1L, 2L -> 1L),
      s"strict run must serve only the allowed docs, got ${served()}")
    assert(PipelineMetrics.expectDeadLetters(spark, dl).count() == 2L)
    // conf fix + keyed replay: the dead letters resolve to doc ids, the
    // docs' unchanged truth re-enters the feed, the marker-only batch
    // re-emits their CURRENT labels through the fixed judgment
    val fixed = pipe(hi = 100.0)
    assert(fixed.replayExpectDeadLetters(spark, workRoot,
      feedDir.toString, "shop", tsMs = 9999L) == 2L)
    fixed.runOnce(spark, feedDir.toString, workRoot)
    assert(served() == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L),
      s"replayed docs must re-serve their cluster rows, got ${served()}")
    assert(PipelineMetrics.expectDeadLetters(spark, dl).count() == 0L,
      "consumed dead letters retire")
  }

  test("conf-declared dedup pipeline: watcher add starts serving, delete stops and preserves state") {
    import graft.streaming.{PipelineRegistry, PipelineWatcher}
    val url = "jdbc:derby:memory:graftdedupconf;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE clusters2 ("doc_id" BIGINT NOT NULL PRIMARY KEY,
        | "cluster_id" BIGINT, "is_canonical" INTEGER)"""
        .stripMargin.replace("\n", ""))
    c0.close()

    val confDir = Files.createTempDirectory("graft_dedupconf_").toFile
    val feedDir = Files.createTempDirectory("graft_dedupconf_feed_").toFile
    val ckptRoot = Files.createTempDirectory("graft_dedupconf_ckpt_").toString
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire(d(1, A), null, "c", 10, 1),
      wire(d(2, A), null, "c", 10, 2)).asJava)

    val cfg = graft.sinks.EsSink.Config("http://es:9200/idx", "u", "p", "id")
    val watcher = new PipelineWatcher(spark, confDir.toString,
      feedDir.toString, ckptRoot, cfg, new SinkSpec.Recorder,
      viewTriggerInterval = "200 milliseconds")
    try {
      assert(watcher.startPipelines().isEmpty)
      val conf = new java.io.File(confDir, "docs.json")
      Files.write(conf.toPath, Seq(
        s"""{"kind":"dedup","name":"docs","databases":["shop"],
           |"table":"documents","idKey":"doc_id","textField":"text",
           |"jdbc":{"url":"$url","clustersTable":"clusters2"}}"""
          .stripMargin.replace("\n", "")).asJava)
      assert(watcher.pollOnce() == Seq("docs"))
      assert(watcher.activeQueries("docs").size == 3)
      def served(): Map[Long, Long] =
        spark.read.jdbc(url, "clusters2", new java.util.Properties())
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (served() != Map(1L -> 1L, 2L -> 1L) && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(served() == Map(1L -> 1L, 2L -> 1L), "conf-declared dedup must serve")

      val live = watcher.activeQueries("docs")
      assert(conf.delete())
      assert(watcher.pollOnce().isEmpty)
      assert(live.forall(!_.isActive) && watcher.activeQueries.isEmpty)
      val workDir = s"$ckptRoot/${PipelineRegistry.ckptKey(conf.getAbsolutePath)}"
      assert(new java.io.File(s"$workDir/ckpt_clusters").exists()
        && new java.io.File(s"$workDir/state_labels/log").exists(),
        "deregistration preserves checkpoints and label-state logs")
    } finally watcher.stop()
  }
}
