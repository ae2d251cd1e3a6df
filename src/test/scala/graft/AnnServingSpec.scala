package graft

import graft.ops.VectorSearch
import graft.streaming.AnnServingPipeline
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Streaming ANN serving E2E: an embeddings CDC feed drives ±IVF
  * posting maintenance into a JDBC serving store, the store answers
  * top-k identically to a from-scratch index rebuild over the current
  * corpus, and the online recall certificate rides every batch.
  */
class AnnServingSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def wire(after: String, before: String, op: String,
      ts: Long, off: Long): String = {
    val ev = s"""{"payload":{"before":${Option(before).getOrElse("null")},""" +
      s""""after":${Option(after).getOrElse("null")},""" +
      s""""source":{"db":"shop","table":"embeddings","ts_ms":$ts},"op":"$op","ts_ms":$ts}}"""
    s"""{"value":${mapper.writeValueAsString(ev)},"offset":$off}"""
  }
  private def v(id: Long, x: Double, y: Double): String =
    s"""{"vec_id":$id,"embedding":[$x,$y]}"""

  // four axis-aligned unit cells — assignment is unambiguous for the
  // clustered test vectors
  private val cents = Array(
    Array(1f, 0f), Array(-1f, 0f), Array(0f, 1f), Array(0f, -1f))

  /** From-scratch index rebuild over a (vec_id, embedding) corpus via
    * the public maintenance API: one-shot insert deltas → livePostings.
    */
  private def rebuild(corpus: Seq[(Long, Double, Double)]) = {
    val deltas = corpus.map { case (id, x, y) =>
      (id, v(id, x, y), null.asInstanceOf[String], 0L)
    }.toDF("key", "rowJson", "prevJson", "seq")
    VectorSearch.livePostings(VectorSearch.postingDeltas(deltas, cents))
  }

  private def topk(postings: org.apache.spark.sql.DataFrame) =
    VectorSearch.knnIvfFromPostings(
      postings.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding")),
      postings, 2, cents, nProbe = 2)
      .select(col("q_vec_id"), col("n_vec_id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("E2E: vector churn flows to the serving store; served top-k matches a batch rebuild; certificate rides along") {
    val url = "jdbc:derby:memory:graftann;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE postings ("vec_id" BIGINT NOT NULL PRIMARY KEY,
        | "cell" INTEGER, "emb_json" VARCHAR(32000))""".stripMargin.replace("\n", ""))
    c0.createStatement().execute(
      """CREATE TABLE ann_cert ("pipeline" VARCHAR(64) NOT NULL PRIMARY KEY,
        | "batch_id" BIGINT, "recall" DOUBLE, "recall_ok" INTEGER,
        | "skew" DOUBLE, "drift_ok" INTEGER, "probed" INTEGER)"""
        .stripMargin.replace("\n", ""))
    c0.close()

    val pipeline = AnnServingPipeline(
      name = "ann", databases = Set("shop"), table = "embeddings",
      idField = "vec_id", vectorField = "embedding", cents = cents,
      jdbcUrl = url, postingsTable = "postings",
      certTable = Some("ann_cert"), k = 2, nProbe = 2)

    val feedDir = Files.createTempDirectory("graft_ann_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_ann_work_").toString

    // wave 0: six vectors in three clusters
    val wave0 = Seq(
      (0L, 1.0, 0.1), (1L, 0.95, -0.05),
      (2L, -1.0, 0.05), (3L, -0.9, -0.1),
      (4L, 0.1, 1.0), (5L, 0.05, 0.9))
    Files.write(new java.io.File(feedDir, "000.json").toPath,
      wave0.zipWithIndex.map { case ((id, x, y), i) =>
        wire(v(id, x, y), null, "c", 10, i + 1)
      }.asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)

    val served0 = pipeline.servedPostings(spark).localCheckpoint(true)
    assert(served0.select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      == Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 2))
    assert(topk(served0) == topk(rebuild(wave0)),
      "served top-k must equal a from-scratch rebuild's")
    val cert0 = spark.read.jdbc(url, "ann_cert", new java.util.Properties())
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(cert0.length == 1 && cert0.head._1 == "ann" && cert0.head._4 == 1,
      s"certificate row must exist and pass, got ${cert0.toSeq}")

    // wave 1: vec 1 moves across cells (cell 0 → 1), vec 2 is deleted
    Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
      wire(v(1, -0.9, 0.0), v(1, 0.95, -0.05), "u", 20, 7),
      wire(null, v(2, -1.0, 0.05), "d", 21, 8)).asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)

    val served1 = pipeline.servedPostings(spark).localCheckpoint(true)
    val cells1 = served1.select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells1 == Map(0L -> 0, 1L -> 1, 3L -> 1, 4L -> 2, 5L -> 2),
      s"churn must move vec 1 and delete vec 2, got $cells1")
    val wave1 = Seq(
      (0L, 1.0, 0.1), (1L, -0.9, 0.0), (3L, -0.9, -0.1),
      (4L, 0.1, 1.0), (5L, 0.05, 0.9))
    assert(topk(served1) == topk(rebuild(wave1)),
      "post-churn served top-k must equal the post-churn rebuild's")
    val cert1 = spark.read.jdbc(url, "ann_cert", new java.util.Properties())
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(cert1.length == 1 && cert1.head._2 == 1
      && cert1.head._1 > cert0.head._2,
      s"certificate must advance with the batch and stay green, got ${cert1.toSeq}")

    // idempotent re-drain: no new feed data → store untouched
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    assert(pipeline.servedPostings(spark).collect().length == 5)
  }

  test("certificate probe is id-domain independent: sparse ids still probe, and the probe count is recorded") {
    val url = "jdbc:derby:memory:graftannsparse;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE postings5 ("vec_id" BIGINT NOT NULL PRIMARY KEY,
        | "cell" INTEGER, "emb_json" VARCHAR(32000))""".stripMargin.replace("\n", ""))
    c0.createStatement().execute(
      """CREATE TABLE ann_cert5 ("pipeline" VARCHAR(64) NOT NULL PRIMARY KEY,
        | "batch_id" BIGINT, "recall" DOUBLE, "recall_ok" INTEGER,
        | "skew" DOUBLE, "drift_ok" INTEGER, "probed" INTEGER)"""
        .stripMargin.replace("\n", ""))
    c0.close()
    // ids live FAR above probeLimit — an id-value probe (`vec_id <
    // probeLimit`) would be vacuously empty and the certificate would
    // pass without probing anything
    val pipeline = AnnServingPipeline(
      name = "annSparse", databases = Set("shop"), table = "embeddings",
      idField = "vec_id", vectorField = "embedding", cents = cents,
      jdbcUrl = url, postingsTable = "postings5",
      certTable = Some("ann_cert5"), k = 2, nProbe = 2)
    val feedDir = Files.createTempDirectory("graft_annsp_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_annsp_work_").toString
    val wave = Seq(
      (7000001L, 1.0, 0.1), (7000002L, 0.95, -0.05),
      (7000003L, -1.0, 0.05), (7000004L, 0.1, 1.0))
    Files.write(new java.io.File(feedDir, "000.json").toPath,
      wave.zipWithIndex.map { case ((id, x, y), i) =>
        wire(v(id, x, y), null, "c", 10, i + 1)
      }.asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    val cert = spark.read.jdbc(url, "ann_cert5", new java.util.Properties())
      .collect().map(r => (r.getInt(r.fieldIndex("probed")),
        r.getInt(r.fieldIndex("recall_ok"))))
    assert(cert.length == 1 && cert.head._1 == 4 && cert.head._2 == 1,
      s"all 4 sparse-id vectors must actually be probed, got ${cert.toSeq}")
  }

  test("certificate-age trigger: a stale generation schedules a retrain; the next batch swaps; a fresh one doesn't") {
    val url = "jdbc:derby:memory:graftannage;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE postings6 ("vec_id" BIGINT NOT NULL PRIMARY KEY,
        | "cell" INTEGER, "emb_json" VARCHAR(32000))""".stripMargin.replace("\n", ""))
    c0.close()
    val pipeline = AnnServingPipeline(
      name = "annAge", databases = Set("shop"), table = "embeddings",
      idField = "vec_id", vectorField = "embedding", cents = cents,
      jdbcUrl = url, postingsTable = "postings6", k = 2, nProbe = 2,
      maxGenAgeMs = 60000L)
    val feedDir = Files.createTempDirectory("graft_annage_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_annage_work_").toString
    val wave0 = Seq(
      (0L, 1.0, 0.1), (1L, 0.95, -0.05), (2L, -1.0, 0.05),
      (3L, -0.9, -0.1), (4L, 0.1, 1.0), (5L, 0.05, 0.9))
    Files.write(new java.io.File(feedDir, "000.json").toPath,
      wave0.zipWithIndex.map { case ((id, x, y), i) =>
        wire(v(id, x, y), null, "c", 10, i + 1)
      }.asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    def currentGen(): String = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$workRoot/quantizer/CURRENT")).trim
    assert(currentGen() == "gen_0")
    val due = new java.io.File(s"$workRoot/RETRAIN_DUE")

    // FRESH generation (trained just now): the watcher tick schedules
    // nothing, no marker appears
    assert(!pipeline.scheduleRetrainIfStale(workRoot))
    assert(!due.exists())

    // STALE generation (age alone, certificate never tripped): the tick
    // schedules a retrain via the marker...
    assert(pipeline.scheduleRetrainIfStale(workRoot,
      nowMs = System.currentTimeMillis() + 10 * 60 * 1000L))
    assert(due.exists(), "stale age must leave the RETRAIN_DUE marker")

    // ...and the NEXT micro-batch performs the swap in-stream: the
    // generation advances, the marker clears, serving stays intact
    Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
      wire(v(6, -0.05, -0.95), null, "c", 20, 7)).asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    assert(currentGen() == "gen_1",
      "the scheduled retrain must swap at the next batch boundary")
    assert(!due.exists(), "the honored marker must clear")
    assert(pipeline.servedPostings(spark).count() == 7)

    // TORN generation dir (CURRENT names a dir whose centroids.json is
    // gone): the age tick must answer false, NOT throw — one broken
    // pipeline would otherwise abort the watcher's maintenance pass for
    // every remaining ann conf, forever
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      s"$workRoot/quantizer/gen_1/centroids.json"))
    assert(!pipeline.scheduleRetrainIfStale(workRoot,
      nowMs = System.currentTimeMillis() + 10 * 60 * 1000L),
      "a torn generation dir must not schedule (and must not throw)")
    assert(!due.exists())
  }

  test("quantizer drift trips the certificate; retrain-and-swap restores the recall SLO") {
    val url = "jdbc:derby:memory:graftanndrift;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE postings2 ("vec_id" BIGINT NOT NULL PRIMARY KEY,
        | "cell" INTEGER, "emb_json" VARCHAR(32000))""".stripMargin.replace("\n", ""))
    c0.createStatement().execute(
      """CREATE TABLE ann_cert2 ("pipeline" VARCHAR(64) NOT NULL PRIMARY KEY,
        | "batch_id" BIGINT, "recall" DOUBLE, "recall_ok" INTEGER,
        | "skew" DOUBLE, "drift_ok" INTEGER, "probed" INTEGER)"""
        .stripMargin.replace("\n", ""))
    c0.close()

    // bootstrap quantizer: axis-aligned cells — trained for a corpus
    // this feed's traffic has drifted away from: every vector now sits
    // on a DIAGONAL, so each true cluster straddles two axis cells and
    // single-probe recall collapses (neighbors live across the split)
    val pipeline = AnnServingPipeline(
      name = "drift", databases = Set("shop"), table = "embeddings",
      idField = "vec_id", vectorField = "embedding", cents = cents,
      jdbcUrl = url, postingsTable = "postings2",
      certTable = Some("ann_cert2"), k = 2, nProbe = 1)

    val feedDir = Files.createTempDirectory("graft_anndrift_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_anndrift_work_").toString
    val vecs = Seq( // NE cluster split cell0/cell2; SW split cell1/cell3
      (0L, 0.75, 0.65), (1L, 0.74, 0.66), (2L, 0.66, 0.74), (3L, 0.65, 0.75),
      (4L, -0.75, -0.65), (5L, -0.74, -0.66), (6L, -0.66, -0.74), (7L, -0.65, -0.75))
    Files.write(new java.io.File(feedDir, "000.json").toPath,
      vecs.zipWithIndex.map { case ((id, x, y), i) =>
        wire(v(id, x, y), null, "c", 10, i + 1)
      }.asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)

    // drift certificate TRIPPED: every query's second neighbor is on
    // the other side of its cluster's cell split → recall 0.5 < 0.6
    val Some((_, recall0, ok0, _, _)) = pipeline.certificate(spark)
    assert(!ok0 && recall0 < 0.6,
      s"drifted quantizer must trip the recall certificate, got $recall0")

    // retrain from the served corpus with geometry-appropriate cells;
    // generation advances, CURRENT repoints, postings re-keyed in one
    // MERGE — and the SLO is restored
    pipeline.retrainAndSwap(spark, workRoot, nCells = 2)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$workRoot/quantizer/CURRENT")).trim == "gen_1")
    val Some((_, recall1, ok1, _, _)) = pipeline.certificate(spark)
    assert(ok1 && recall1 >= 0.99,
      s"retrained quantizer must restore recall, got $recall1")
    // each diagonal cluster now lives whole in one cell
    val cellsOf = pipeline.servedPostings(spark)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(Set(0L, 1L, 2L, 3L).map(cellsOf).size == 1
      && Set(4L, 5L, 6L, 7L).map(cellsOf).size == 1
      && cellsOf(0L) != cellsOf(4L),
      s"post-swap cells must follow the clusters, got $cellsOf")
  }

  test("autoRetrain: a tripped certificate heals in-stream — swap lands during the run, SLO restored") {
    val url = "jdbc:derby:memory:graftannauto;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE postings4 ("vec_id" BIGINT NOT NULL PRIMARY KEY,
        | "cell" INTEGER, "emb_json" VARCHAR(32000))""".stripMargin.replace("\n", ""))
    c0.createStatement().execute(
      """CREATE TABLE ann_cert4 ("pipeline" VARCHAR(64) NOT NULL PRIMARY KEY,
        | "batch_id" BIGINT, "recall" DOUBLE, "recall_ok" INTEGER,
        | "skew" DOUBLE, "drift_ok" INTEGER, "probed" INTEGER)"""
        .stripMargin.replace("\n", ""))
    c0.close()

    // bootstrap cells on the Y axis; the corpus's two X-axis clusters
    // each straddle both cells → single-probe recall 0.5, tripped
    val pipeline = AnnServingPipeline(
      name = "auto", databases = Set("shop"), table = "embeddings",
      idField = "vec_id", vectorField = "embedding",
      cents = Array(Array(0f, 1f), Array(0f, -1f)),
      jdbcUrl = url, postingsTable = "postings4",
      certTable = Some("ann_cert4"), k = 2, nProbe = 1, autoRetrain = true)

    val feedDir = Files.createTempDirectory("graft_annauto_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_annauto_work_").toString
    // ids alternate clusters so the retrainer's deterministic first-N
    // seeding starts one seed per true cluster (ids 0 and 1)
    val vecs = Seq(
      (0L, 0.9, 0.05), (1L, -0.9, -0.05), (2L, 0.9, -0.05), (3L, -0.9, 0.05),
      (4L, 0.88, 0.04), (5L, -0.88, -0.04), (6L, 0.88, -0.04), (7L, -0.88, 0.04))
    Files.write(new java.io.File(feedDir, "000.json").toPath,
      vecs.zipWithIndex.map { case ((id, x, y), i) =>
        wire(v(id, x, y), null, "c", 10, i + 1)
      }.asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)

    // the single runOnce already healed: batch applied under gen_0,
    // certificate tripped, retrain swapped gen_1 in-stream, certificate
    // re-recorded the restored SLO
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$workRoot/quantizer/CURRENT")).trim == "gen_1",
      "auto retrain must have published a new generation during the run")
    val Some((_, recall, ok, _, _)) = pipeline.certificate(spark)
    assert(ok && recall >= 0.99,
      s"certificate after self-heal must show the restored SLO, got $recall")
    val cellsOf = pipeline.servedPostings(spark)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(Set(0L, 2L, 4L, 6L).map(cellsOf).size == 1
      && Set(1L, 3L, 5L, 7L).map(cellsOf).size == 1
      && cellsOf(0L) != cellsOf(1L),
      s"post-heal cells must follow the clusters, got $cellsOf")
  }

  test("ES mirror: documents track churn (delete, cell move), agree with the index store, and checkpoint replay sends nothing") {
    val url = "jdbc:derby:memory:graftannmirror;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE postings_m ("vec_id" BIGINT NOT NULL PRIMARY KEY,
        | "cell" INTEGER, "emb_json" VARCHAR(32000))""".stripMargin.replace("\n", ""))
    c0.close()

    val storeDir = Files.createTempDirectory("graft_ann_store_").toString
    // counting wrapper: marker reads ride get(), so sends counts only
    // real document traffic (PUT/DELETE/_bulk)
    val inner = new graft.sinks.EsSink.FileDocStore(storeDir)
    val sends = new java.util.concurrent.atomic.AtomicInteger(0)
    class Counting extends graft.sinks.EsSink.Transport {
      def send(req: graft.sinks.EsSink.Request): Int = {
        sends.incrementAndGet(); inner.send(req)
      }
      override def get(u: String, h: Map[String, String]): (Int, String) =
        inner.get(u, h)
    }

    val pipeline = AnnServingPipeline(
      name = "annmirror", databases = Set("shop"), table = "embeddings",
      idField = "vec_id", vectorField = "embedding", cents = cents,
      jdbcUrl = url, postingsTable = "postings_m",
      esMirror = Some(graft.streaming.EsTarget(
        "http://graft-local/vecs", "u", "p")))

    val feedDir = Files.createTempDirectory("graft_annm_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_annm_work_").toString

    def storeDocs(): Map[Long, (Int, String)] = {
      val d = new java.io.File(storeDir).listFiles()
        .filter(f => f.getName.endsWith(".json")
          && !f.getName.contains("_graft_progress_"))
      d.map { f =>
        val n = mapper.readTree(Files.readString(f.toPath))
        (n.get("vec_id").asLong(),
          (n.get("cell").asInt(), n.get("emb_json").asText()))
      }.toMap
    }

    // wave 0: three vectors across two cells
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire(v(0, 1.0, 0.1), null, "c", 10, 1),
      wire(v(1, 0.95, -0.05), null, "c", 10, 2),
      wire(v(2, -1.0, 0.05), null, "c", 10, 3)).asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot, new Counting)

    val docs0 = storeDocs()
    assert(docs0.view.mapValues(_._1).toMap == Map(0L -> 0, 1L -> 0, 2L -> 1),
      s"mirror must hold one document per served vector, got $docs0")
    // the mirror agrees with the index store row for row
    val served0 = pipeline.servedPostings(spark)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(docs0.view.mapValues(_._1).toMap == served0,
      "mirror cells must equal the JDBC index store's")

    // wave 1: vec 1 moves across cells, vec 2 is deleted
    Files.write(new java.io.File(feedDir, "001.json").toPath, Seq(
      wire(v(1, -0.9, 0.0), v(1, 0.95, -0.05), "u", 20, 4),
      wire(null, v(2, -1.0, 0.05), "d", 21, 5)).asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot, new Counting)

    val docs1 = storeDocs()
    assert(docs1.view.mapValues(_._1).toMap == Map(0L -> 0, 1L -> 1),
      s"churn must delete vec 2's document and move vec 1's cell, got $docs1")
    assert(docs1(1L)._2 == "[-0.9,0.0]",
      s"the moved document must carry the NEW vector, got ${docs1(1L)}")

    // checkpoint replay: wipe the index stage's checkpoint so both log
    // batches re-process — the batch-progress marker must make the
    // replayed batches send ZERO documents
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$workRoot/ckpt_index"))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.delete(p); () })
    sends.set(0)
    pipeline.runOnce(spark, feedDir.toString, workRoot, new Counting)
    assert(sends.get() == 0,
      s"replayed batches must send nothing (marker), got ${sends.get()} sends")
    assert(storeDocs().view.mapValues(_._1).toMap == Map(0L -> 0, 1L -> 1),
      "replay must leave the served documents unchanged")
  }

  test("keyed replay: drop -> conf fix -> replay re-MERGEs the quarantined postings (store reconverges)") {
    import graft.streaming.PipelineMetrics
    val url = "jdbc:derby:memory:graftannrp;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE postings_rp ("vec_id" BIGINT NOT NULL PRIMARY KEY,
        | "cell" INTEGER, "emb_json" VARCHAR(32000))"""
        .stripMargin.replace("\n", ""))
    c0.close()
    val target = PipelineMetrics.Target(url, "annrp_metrics")
    PipelineMetrics.ensureTable(target)
    PipelineMetrics.ensureExpectTable(target)
    val dl = Files.createTempDirectory("graft_ann_rp_dl_").toString + "/dl"
    def pipe(hi: Double) = AnnServingPipeline(
      name = "annrp", databases = Set("shop"), table = "embeddings",
      idField = "vec_id", vectorField = "embedding", cents = cents,
      jdbcUrl = url, postingsTable = "postings_rp",
      metrics = Some(target), deadLetterDir = Some(dl),
      expectations = Seq(graft.ops.Profile.InRange("id_cap", "vec_id",
        0.0, hi, action = graft.ops.Profile.Drop)))
    val feedDir = Files.createTempDirectory("graft_ann_rp_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_ann_rp_work_").toString
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire(v(1, 0.9, 0.1), null, "c", 10, 1),
      wire(v(2, -0.9, 0.1), null, "c", 10, 2),
      wire(v(7, 0.1, 0.9), null, "c", 10, 3),
      wire(v(8, 0.1, -0.9), null, "c", 10, 4)).asJava)
    // strict rule: vectors 7 and 8 violate — their postings quarantine
    pipe(hi = 5.0).runOnce(spark, feedDir.toString, workRoot)
    def servedIds(): Set[Long] =
      pipe(hi = 5.0).servedPostings(spark).select(col("vec_id"))
        .collect().map(_.getLong(0)).toSet
    assert(servedIds() == Set(1L, 2L),
      s"strict run must index only the allowed vectors, got ${servedIds()}")
    assert(PipelineMetrics.expectDeadLetters(spark, dl).count() == 2L)
    // conf fix + keyed replay: dead letters resolve to vector ids, the
    // vectors' unchanged truth re-enters the feed; the index stage
    // re-assigns and key-addressed-MERGEs them under the fixed rule
    val fixed = pipe(hi = 100.0)
    assert(fixed.replayExpectDeadLetters(spark, workRoot,
      feedDir.toString, "shop", tsMs = 9999L) == 2L)
    fixed.runOnce(spark, feedDir.toString, workRoot)
    assert(servedIds() == Set(1L, 2L, 7L, 8L),
      s"replayed vectors must re-index, got ${servedIds()}")
    assert(PipelineMetrics.expectDeadLetters(spark, dl).count() == 0L,
      "consumed dead letters retire")
  }

  test("replay x gate composition: a keyed-replayed wire re-enters THROUGH a Drop-gated conf's judged log, never around it") {
    import graft.streaming.{CdcPipeline, PipelineMetrics}
    val url = "jdbc:derby:memory:graftannrpgate;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE postings_rpg ("vec_id" BIGINT NOT NULL PRIMARY KEY,
        | "cell" INTEGER, "emb_json" VARCHAR(32000))"""
        .stripMargin.replace("\n", ""))
    c0.close()
    val target = PipelineMetrics.Target(url, "rpg_metrics")
    PipelineMetrics.ensureTable(target)
    PipelineMetrics.ensureExpectTable(target)
    PipelineMetrics.ensureDriftTable(target)
    val dl = Files.createTempDirectory("graft_ann_rpg_dl_").toString + "/dl"
    // the conf composes BOTH enforcement layers: a Drop-action drift
    // gate (reroutes the log stage to the judged feed) and a drop
    // expectation on the posting surface
    def pipe(hi: Double) = AnnServingPipeline(
      name = "rpg", databases = Set("shop"), table = "embeddings",
      idField = "vec_id", vectorField = "embedding", cents = cents,
      jdbcUrl = url, postingsTable = "postings_rpg",
      metrics = Some(target), deadLetterDir = Some(dl),
      driftPolicy = Some(CdcPipeline.DriftPolicy(newColsBudget = 0L,
        action = graft.ops.Profile.Drop)),
      expectations = Seq(graft.ops.Profile.InRange("id_cap", "vec_id",
        0.0, hi, action = graft.ops.Profile.Drop)))
    val feedDir = Files.createTempDirectory("graft_ann_rpg_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_ann_rpg_work_").toString
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire(v(1, 0.9, 0.1), null, "c", 10, 1),
      wire(v(7, 0.1, 0.9), null, "c", 10, 2)).asJava)
    // strict cap: vector 7's posting quarantines (the gate passed it —
    // its wire is clean; enforcement dropped it downstream)
    pipe(hi = 5.0).runOnce(spark, feedDir.toString, workRoot)
    def servedIds(): Set[Long] =
      pipe(hi = 5.0).servedPostings(spark).select(col("vec_id"))
        .collect().map(_.getLong(0)).toSet
    assert(servedIds() == Set(1L))
    assert(PipelineMetrics.expectDeadLetters(spark, dl).count() == 1L)
    // conf fix + keyed replay + drain through the STILL-GATED conf
    val fixed = pipe(hi = 100.0)
    assert(fixed.replayExpectDeadLetters(spark, workRoot,
      feedDir.toString, "shop", tsMs = 9999L) == 1L)
    fixed.runOnce(spark, feedDir.toString, workRoot)
    assert(servedIds() == Set(1L, 7L),
      s"the replayed vector must re-serve, got ${servedIds()}")
    // the composition invariant: the re-driven wire is IN the judged
    // log (it entered through the gate's normal path) — a side door
    // would serve the store while leaving the judged feed blind
    val judged = spark.read.parquet(s"$workRoot/judged/log")
      .select(col("value"))
      .filter(col("value").contains("\"ts_ms\":9999")
        && col("value").contains("\"vec_id\":7"))
    assert(judged.count() == 1L,
      "the replayed event must re-enter THROUGH the judged log")
    // and the gate judged the replay batch: a verdict row exists for a
    // batch beyond the original drain (zeros are the heartbeat)
    val verdicts = PipelineMetrics.driftRows(spark, target)
      .filter(col("pipeline") === "rpg").count()
    assert(verdicts >= 2L,
      s"the replay batch must carry its own drift verdict, got $verdicts")
  }

  test("conf-declared ANN pipeline: watcher add starts serving, delete stops and preserves checkpoints") {
    import graft.streaming.{PipelineRegistry, PipelineWatcher}
    val url = "jdbc:derby:memory:graftannconf;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE postings3 ("vec_id" BIGINT NOT NULL PRIMARY KEY,
        | "cell" INTEGER, "emb_json" VARCHAR(32000))""".stripMargin.replace("\n", ""))
    c0.close()

    val confDir = Files.createTempDirectory("graft_annconf_").toFile
    val feedDir = Files.createTempDirectory("graft_annconf_feed_").toFile
    val ckptRoot = Files.createTempDirectory("graft_annconf_ckpt_").toString
    Files.write(new java.io.File(feedDir, "000.json").toPath, Seq(
      wire(v(0, 1.0, 0.1), null, "c", 10, 1),
      wire(v(1, -1.0, 0.05), null, "c", 10, 2)).asJava)

    val cfg = graft.sinks.EsSink.Config("http://es:9200/idx", "u", "p", "id")
    val watcher = new PipelineWatcher(spark, confDir.toString,
      feedDir.toString, ckptRoot, cfg, new SinkSpec.Recorder,
      viewTriggerInterval = "200 milliseconds")
    try {
      assert(watcher.startPipelines().isEmpty)
      val conf = new java.io.File(confDir, "vecs.json")
      Files.write(conf.toPath, Seq(
        s"""{"kind":"ann","name":"vecs","databases":["shop"],
           |"table":"embeddings","idKey":"vec_id","vectorField":"embedding",
           |"centroids":[[1.0,0.0],[-1.0,0.0],[0.0,1.0],[0.0,-1.0]],
           |"jdbc":{"url":"$url","postingsTable":"postings3"}}"""
          .stripMargin.replace("\n", "")).asJava)
      assert(watcher.pollOnce() == Seq("vecs"))
      assert(watcher.activeQueries("vecs").size == 2)
      def served(): Map[Long, Int] =
        spark.read.jdbc(url, "postings3", new java.util.Properties())
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (served() != Map(0L -> 0, 1L -> 1) && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(served() == Map(0L -> 0, 1L -> 1), "conf-declared ANN must serve")

      val live = watcher.activeQueries("vecs")
      assert(conf.delete())
      assert(watcher.pollOnce().isEmpty)
      assert(live.forall(!_.isActive) && watcher.activeQueries.isEmpty)
      val workDir = s"$ckptRoot/${PipelineRegistry.ckptKey(conf.getAbsolutePath)}"
      assert(new java.io.File(s"$workDir/ckpt_index").exists()
        && new java.io.File(s"$workDir/quantizer/CURRENT").exists(),
        "deregistration preserves checkpoints and the quantizer generations")
    } finally watcher.stop()
  }

  test("servedFilteredKnn: pre-filter semantics with selectivity-adaptive probes — broad filters keep the conf width, sharp ones saturate to the exact sliver scan") {
    val url = "jdbc:derby:memory:graftannfilt;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE postings ("vec_id" BIGINT NOT NULL PRIMARY KEY,
        | "cell" INTEGER, "emb_json" VARCHAR(32000))""".stripMargin.replace("\n", ""))
    c0.close()
    val pipeline = AnnServingPipeline(
      name = "annf", databases = Set("shop"), table = "embeddings",
      idField = "vec_id", vectorField = "embedding", cents = cents,
      jdbcUrl = url, postingsTable = "postings", k = 2, nProbe = 1)
    val feedDir = Files.createTempDirectory("graft_annf_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_annf_work_").toString
    // 64 vectors, 16 per axis-aligned cell, deterministic jitter that
    // never flips the cell assignment
    val corpus = (0L until 64L).map { i =>
      val (bx, by) = cents(i.toInt % 4) match {
        case a => (a(0).toDouble, a(1).toDouble)
      }
      val j = 0.002 * (i / 4)
      (i, bx + (if (bx == 0) j else 0.0), by + (if (by == 0) j else 0.0))
    }
    Files.write(new java.io.File(feedDir, "000.json").toPath,
      corpus.zipWithIndex.map { case ((id, x, y), i) =>
        wire(v(id, x, y), null, "c", 10, i + 1)
      }.asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    val served = pipeline.servedPostings(spark).localCheckpoint(true)
    val queries = served.filter(col("vec_id") < 2)
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    // BROAD: all 64 ids allowed -> ceil(8*2*4/64) = 1 = the conf width
    val allIds = (0L until 64L).toDF("vec_id")
    val (_, probesBroad) =
      pipeline.servedFilteredKnn(spark, workRoot, queries, allIds)
    assert(probesBroad == 1, s"broad filter keeps nProbe, got $probesBroad")
    // SHARP: 4 allowed ids -> ceil(64/4) = 16 clamps to nCells = 4, the
    // exact scan of the sliver — so the answer IS the exact filtered
    // top-k
    val sharp = Seq(10L, 21L, 33L, 47L).toDF("vec_id")
    val (res, probesSharp) =
      pipeline.servedFilteredKnn(spark, workRoot, queries, sharp)
    assert(probesSharp == cents.length,
      s"sharp filter saturates to nCells, got $probesSharp")
    val got = res.select(col("q_vec_id"), col("n_vec_id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = VectorSearch.filteredKnnExact(queries,
      served.select(col("vec_id"), col("embedding")), sharp, 2)
      .select(col("q_vec_id"), col("n_vec_id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == exact, s"saturated probe = exact filtered top-k: $got vs $exact")
    assert(got.map(_._2).subsetOf(Set(10L, 21L, 33L, 47L)),
      "pre-filter semantics: only allowed ids can appear")
  }

  test("servedFilteredKnnCertified: the adaptive width rides serving — probes widen as churn shrinks the live allowed set, and each serve overwrites its tag's certificate row") {
    val url = "jdbc:derby:memory:graftanncertf;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE postingsf ("vec_id" BIGINT NOT NULL PRIMARY KEY,
        | "cell" INTEGER, "emb_json" VARCHAR(32000))""".stripMargin.replace("\n", ""))
    c0.createStatement().execute(
      """CREATE TABLE ann_certf ("pipeline" VARCHAR(64) NOT NULL PRIMARY KEY,
        | "batch_id" BIGINT, "recall" DOUBLE, "recall_ok" INTEGER,
        | "skew" DOUBLE, "drift_ok" INTEGER, "probed" INTEGER)"""
        .stripMargin.replace("\n", ""))
    c0.createStatement().execute(
      """CREATE TABLE ann_certf_f ("pipeline" VARCHAR(64) NOT NULL,
        | "tag" VARCHAR(64) NOT NULL, "n_allowed" BIGINT,
        | "probes" INTEGER, "recall" DOUBLE, "recall_ok" INTEGER,
        | PRIMARY KEY ("pipeline", "tag"))""".stripMargin.replace("\n", ""))
    c0.close()
    val pipeline = AnnServingPipeline(
      name = "annf2", databases = Set("shop"), table = "embeddings",
      idField = "vec_id", vectorField = "embedding", cents = cents,
      jdbcUrl = url, postingsTable = "postingsf",
      certTable = Some("ann_certf"), k = 2, nProbe = 1)
    val feedDir = Files.createTempDirectory("graft_anncf_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_anncf_work_").toString
    val corpus = (0L until 64L).map { i =>
      val (bx, by) = cents(i.toInt % 4) match {
        case a => (a(0).toDouble, a(1).toDouble)
      }
      val j = 0.002 * (i / 4)
      (i, bx + (if (bx == 0) j else 0.0), by + (if (by == 0) j else 0.0))
    }
    Files.write(new java.io.File(feedDir, "000.json").toPath,
      corpus.zipWithIndex.map { case ((id, x, y), i) =>
        wire(v(id, x, y), null, "c", 10, i + 1)
      }.asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    // the tenant's PREDICATE is fixed (all ids allowed); what shrinks
    // across batches is the LIVE matching set — that is the fraction
    // the serve-time width must follow
    val tenantAllowed = (0L until 64L).toDF("vec_id")
    def queries() = pipeline.servedPostings(spark).filter(col("vec_id") < 2)
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    def certRow(): (Long, Int, Int) = {
      val r = spark.read.jdbc(url, "ann_certf_f", new java.util.Properties())
        .collect()
      assert(r.length == 1, s"one keyed row per (pipeline, tag): ${r.toSeq}")
      (r.head.getLong(2), r.head.getInt(3), r.head.getInt(5))
    }
    // full corpus live: 64 allowed -> ceil(8*2*4/64) = 1 = conf width
    val (_, p0, n0) = pipeline.servedFilteredKnnCertified(
      spark, workRoot, queries(), tenantAllowed, "tenant_a")
    assert((n0, p0) == ((64L, 1)), s"broad live set keeps nProbe: $n0/$p0")
    assert(certRow() == ((64L, 1, 1)), s"recorded: ${certRow()}")
    // churn deletes 48 vectors -> 16 live matches -> ceil(16*4/16) = 4
    // saturates to nCells: the SAME tenant predicate now serves at the
    // widened operating point, and its certificate row says so
    Files.write(new java.io.File(feedDir, "001.json").toPath,
      (16L until 64L).map { id =>
        val (_, x, y) = corpus(id.toInt)
        wire(null, v(id, x, y), "d", 20, 100 + id)
      }.asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    val (res, p1, n1) = pipeline.servedFilteredKnnCertified(
      spark, workRoot, queries(), tenantAllowed, "tenant_a")
    assert((n1, p1) == ((16L, 4)),
      s"shrunken live set widens probes to nCells: $n1/$p1")
    assert(certRow() == ((16L, 4, 1)),
      s"the tag's row is OVERWRITTEN with the serve-time width: ${certRow()}")
    // saturated width = exact filtered top-k over the live sliver
    val got = res.select(col("q_vec_id"), col("n_vec_id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = VectorSearch.filteredKnnExact(queries(),
      pipeline.servedPostings(spark).select(col("vec_id"), col("embedding")),
      tenantAllowed, 2)
      .select(col("q_vec_id"), col("n_vec_id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == exact, s"saturated serve = exact: $got vs $exact")
  }

  test("servedFilteredKnnCertified sampling: the certificate checks a deterministic query sample and records n_sampled; the serve stays full-fidelity") {
    val url = "jdbc:derby:memory:graftanncerts;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE postingss ("vec_id" BIGINT NOT NULL PRIMARY KEY,
        | "cell" INTEGER, "emb_json" VARCHAR(32000))"""
        .stripMargin.replace("\n", ""))
    c0.createStatement().execute(
      """CREATE TABLE ann_certs ("pipeline" VARCHAR(64) NOT NULL PRIMARY KEY,
        | "batch_id" BIGINT, "recall" DOUBLE, "recall_ok" INTEGER,
        | "skew" DOUBLE, "drift_ok" INTEGER, "probed" INTEGER)"""
        .stripMargin.replace("\n", ""))
    c0.createStatement().execute(
      // sampling callers carry the extra n_sampled column (scaladoc'd)
      """CREATE TABLE ann_certs_f ("pipeline" VARCHAR(64) NOT NULL,
        | "tag" VARCHAR(64) NOT NULL, "n_allowed" BIGINT,
        | "probes" INTEGER, "recall" DOUBLE, "recall_ok" INTEGER,
        | "n_sampled" INTEGER, PRIMARY KEY ("pipeline", "tag"))"""
        .stripMargin.replace("\n", ""))
    c0.close()
    val pipeline = AnnServingPipeline(
      name = "anns", databases = Set("shop"), table = "embeddings",
      idField = "vec_id", vectorField = "embedding", cents = cents,
      jdbcUrl = url, postingsTable = "postingss",
      certTable = Some("ann_certs"), k = 2, nProbe = 4)
    val feedDir = Files.createTempDirectory("graft_anns_feed_").toFile
    val workRoot = Files.createTempDirectory("graft_anns_work_").toString
    val corpus = (0L until 64L).map { i =>
      val b = cents(i.toInt % 4)
      val j = 0.002 * (i / 4)
      (i, b(0).toDouble + (if (b(0) == 0) j else 0.0),
        b(1).toDouble + (if (b(1) == 0) j else 0.0))
    }
    Files.write(new java.io.File(feedDir, "000.json").toPath,
      corpus.zipWithIndex.map { case ((id, x, y), i) =>
        wire(v(id, x, y), null, "c", 10, i + 1)
      }.asJava)
    pipeline.runOnce(spark, feedDir.toString, workRoot)
    val allowed = (0L until 64L).toDF("vec_id")
    val queries = pipeline.servedPostings(spark)
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    // 64 queries, sample cap 8: the serve answers ALL 64 (nProbe=nCells
    // here, so it is the exact scan), the certificate checks only the
    // hash-sample and says so
    val (res, _, _) = pipeline.servedFilteredKnnCertified(
      spark, workRoot, queries, allowed, "sampled_tag",
      certSampleMax = 8)
    assert(res.select(col("q_vec_id")).distinct().count() == 64L,
      "the serve itself must answer every query")
    val r = spark.read.jdbc(url, "ann_certs_f", new java.util.Properties())
      .collect()
    assert(r.length == 1)
    val nSampled = r.head.getInt(6)
    assert(nSampled > 0 && nSampled < 64,
      s"the certificate must record the (strict) sample size, got $nSampled")
    assert(r.head.getInt(5) == 1, "full-scan probes: sampled recall is 1.0")
    // determinism: the same call re-certifies the same sample
    pipeline.servedFilteredKnnCertified(spark, workRoot, queries, allowed,
      "sampled_tag", certSampleMax = 8)
    val r2 = spark.read.jdbc(url, "ann_certs_f", new java.util.Properties())
      .collect()
    assert(r2.length == 1 && r2.head.getInt(6) == nSampled,
      "hash-sampling is deterministic — no RNG in the certificate")
  }
}
