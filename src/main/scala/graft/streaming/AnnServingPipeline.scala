package graft.streaming

import graft.ops.VectorSearch
import graft.sinks.JdbcSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** STREAMING ANN SERVING — the q118-leaderboard pattern for vectors:
  * an embeddings CDC feed flows through LWW replay into a delta log,
  * the log's per-key deltas become ±IVF postings against a fixed
  * bootstrap-trained coarse quantizer (stateless —
  * [[VectorSearch.postingDeltas]]: the delta's prev row gives the old
  * cell, no lookup), and the postings land in a keyed JDBC serving
  * table that an index server queries for top-k. Lineage:
  *
  *   bronze feed ─ LWW replay ─▶ delta log ─▶ ±postings ─▶ JDBC MERGE
  *                                              │
  *                                              └▶ online recall
  *                                                 certificate row
  *
  * Both stages checkpoint under `workRoot` ([[ViewPipeline]]'s
  * contract): [[runOnce]] is incremental across invocations and
  * [[start]] runs the same stages live; the modes share checkpoints.
  * Effects are key-addressed MERGEs, so checkpoint replay after a
  * crash re-applies harmlessly (at-least-once delivery, exactly-once
  * effect).
  *
  * The ONLINE CERTIFICATE (when `certTable` is set): after each
  * applied micro-batch the pipeline probes the SERVING TABLE itself —
  * a hash-ordered sample of `probeLimit` served vectors' IVF top-k
  * ([[VectorSearch.knnIvfFromPostings]]) against exact cosine top-k
  * over the served corpus — and MERGEs one row (pipeline, batch_id,
  * recall, recall_ok) keyed by pipeline name. A serving store whose
  * recall decays under churn (quantizer drift) flips the flag without
  * anyone running an offline audit. The probe reads the store, so it
  * certifies what is actually SERVED, not the engine's in-flight
  * state. At production scale the probe is a sampled side-job per
  * batch — its cost is probe×corpus within probed cells, never a
  * corpus×corpus join.
  *
  * Serving schema: `postingsTable(idField BIGINT PK, cell INT,
  * emb_json VARCHAR)` — the vector rides along as JSON so the store
  * alone can answer top-k; `certTable(pipeline VARCHAR PK, batch_id
  * BIGINT, recall DOUBLE, recall_ok INT, skew DOUBLE, drift_ok INT,
  * probed INT)` — `probed` is the actual probe-set size, so a vacuous
  * certificate (empty probe) is visible in the row itself.
  *
  * QUANTIZER GENERATIONS + RETRAIN-AND-SWAP: the coarse quantizer is
  * an index artifact whose geometry the churn can outgrow — sustained
  * drift degrades cell balance and recall with no wrong answers to
  * notice. The quantizer therefore lives as numbered GENERATIONS under
  * `workRoot/quantizer/gen_<n>` with an atomically-swapped `CURRENT`
  * pointer (the delta-log warehouse's lifecycle mechanics): the ctor's
  * `cents` seeds gen_0, every batch reads whatever CURRENT names, the
  * certificate carries the drift signals (recall probe + cell-occupancy
  * skew = max/mean over live cells), and [[retrainAndSwap]] trains a
  * fresh quantizer from the SERVED corpus, re-MERGEs every served
  * vector's cell in one transaction, and only THEN writes the next
  * generation and repoints CURRENT — an offline index rebuild that
  * leaves ids and vectors untouched. A reader that follows CURRENT
  * never pairs new centroids with old cell assignments; during the
  * MERGE-to-repoint window it may pair old centroids with new cells,
  * which degrades probe placement (recall) for that instant but never
  * serves inconsistent data — ids and vectors are generation-invariant.
  *
  * ES MIRROR (`esMirror`): the consumer-facing document surface — the
  * reference serves everything as id-keyed ES documents
  * (`ElasticsearchUtils.java:106-118`), and the ann pipeline's analog
  * is one document per served vector (`_id` = the vector id, body =
  * `{idField, cell, emb_json}`) mirrored per batch through
  * [[graft.sinks.EsSink.applyKeyedBatch]]: deletes before upserts, the
  * in-band batch-progress marker so checkpoint replay re-sends
  * nothing, dead letters persisted under `deadLetterDir` BEFORE the
  * marker (S6). The JDBC postings table stays the INDEX's source of
  * truth — the certificate probes it, retrain re-keys it first — and a
  * retrain re-PUTs every served document afterwards (marker-free
  * key-addressed upserts: a crash mid-mirror leaves some documents on
  * the old cell until the next batch or retrain re-sends; ids and
  * vectors are generation-invariant, so a consumer never reads wrong
  * DATA, only a stale advisory cell).
  */
final case class AnnServingPipeline(
    name: String,
    databases: Set[String],
    table: String,
    idField: String,
    vectorField: String,
    cents: Array[Array[Float]],
    jdbcUrl: String,
    postingsTable: String,
    certTable: Option[String] = None,
    probeLimit: Int = 10,
    k: Int = 5,
    nProbe: Int = 4,
    recallFloor: Double = 0.6,
    skewBound: Double = 4.0,
    autoRetrain: Boolean = false,
    maxGenAgeMs: Long = 0L,
    metrics: Option[PipelineMetrics.Target] = None,
    esMirror: Option[EsTarget] = None,
    deadLetterDir: Option[String] = None,
    expectations: Seq[graft.ops.Profile.Rule] = Nil,
    driftCheck: Boolean = false,
    driftPolicy: Option[CdcPipeline.DriftPolicy] = None,
    deadLetterRetentionMs: Long = 0L) {

  graft.ops.Profile.requireEnforceable("ann", name, expectations,
    metrics, deadLetterDir)
  require(deadLetterRetentionMs == 0L || deadLetterDir.isDefined,
    s"ann $name: deadLetterRetentionMs needs a deadLetterDir")

  private val rowSchema: StructType =
    StructType.fromDDL(s"$idField BIGINT, $vectorField ARRAY<FLOAT>")

  /** Drift monitoring/enforcement over the raw wire BEFORE the table
    * log — a drifting embeddings wire (non-numeric vector element,
    * undeclared field) must never corrupt the postings silently
    * ([[DriftGate]]; the ctor requires validate metrics/dlDir).
    */
  private val driftGate = DriftGate(name, "ann", databases, table,
    rowSchema, idField, driftCheck, driftPolicy, metrics, deadLetterDir)

  private def logDir(workRoot: String) = s"$workRoot/log"
  private def ckptDir(workRoot: String, stage: String) = s"$workRoot/ckpt_$stage"
  private def tableLog(workRoot: String) = DriftGate.TableLog(
    s"ann_${name}_log", logDir(workRoot), ckptDir(workRoot, "log"),
    s"$workRoot/judged", ckptDir(workRoot, "gate"))
  private def quantDir(workRoot: String) = s"$workRoot/quantizer"

  /** Seed gen_0 from the ctor quantizer if no generation exists yet. */
  private def ensureQuantizer(workRoot: String): Unit = {
    val cur = Paths.get(s"${quantDir(workRoot)}/CURRENT")
    if (!Files.exists(cur)) writeGeneration(workRoot, cents)
  }

  /** Write the next quantizer generation and atomically repoint CURRENT
    * (write-tmp-then-ATOMIC_MOVE — the delta-log warehouse's pointer
    * mechanics, so a reader never sees a torn pointer).
    */
  private def writeGeneration(workRoot: String,
      c: Array[Array[Float]]): Unit = {
    val qd = Paths.get(quantDir(workRoot))
    Files.createDirectories(qd)
    val existing = Option(qd.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("gen_"))
      .map(_.getName.stripPrefix("gen_").toInt)
    val gen = if (existing.isEmpty) 0 else existing.max + 1
    val genDir = qd.resolve(s"gen_$gen")
    Files.createDirectories(genDir)
    val json = c.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    Files.writeString(genDir.resolve("centroids.json"), json)
    val tmp = qd.resolve("CURRENT.tmp")
    Files.writeString(tmp, s"gen_$gen")
    Files.move(tmp, qd.resolve("CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** The quantizer generation CURRENT names. */
  def currentCents(workRoot: String): Array[Array[Float]] = {
    val qd = Paths.get(quantDir(workRoot))
    val gen = Files.readString(qd.resolve("CURRENT")).trim
    val json = Files.readString(qd.resolve(gen).resolve("centroids.json"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    import scala.jdk.CollectionConverters._
    node.elements().asScala.map(row =>
      row.elements().asScala.map(_.floatValue()).toArray).toArray
  }

  /** Read the served postings back as the relational index (vec_id,
    * cell, embedding) — what the certificate probes and tests compare
    * against a batch rebuild.
    */
  def servedPostings(spark: SparkSession): DataFrame =
    spark.read.jdbc(jdbcUrl, postingsTable, new java.util.Properties())
      .select(col(idField).cast("long").as("vec_id"),
        col("cell").cast("int").as("cell"),
        from_json(col("emb_json"),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)).as("embedding"))

  /** Probe the serving store and MERGE the certificate row: recall of
    * the served IVF top-k vs exact over the served corpus, plus the
    * cell-occupancy skew (max/mean over live cells) — the two drift
    * signals a retrain decision reads.
    */
  private def applyCertificate(spark: SparkSession, batchId: Long,
      c: Array[Array[Float]]): Unit =
    certTable.foreach { ct =>
      val served = servedPostings(spark).localCheckpoint(true)
      // probe selection must not assume anything about the id DOMAIN:
      // `vec_id < probeLimit` is vacuously empty under sparse/arbitrary
      // key spaces and the certificate would pass without probing.
      // Hash-SAMPLE the served ids instead — a deterministic
      // pseudo-random sample that exists whenever the store does — and
      // record the probe COUNT in the certificate row so an empty probe
      // is visible, never silent. The pmod pre-filter cuts the sort
      // input to ~probeLimit rows before the ordered limit: a global
      // orderBy over the whole store would add an O(n log n) shuffle
      // per applied batch just to pick 10 probes
      val nServed = served.count()
      val sampleMod = math.max(1L, nServed / math.max(1, probeLimit))
      val qv = served
        .filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(probeLimit)
        .select(col("vec_id"), col("embedding"))
        .localCheckpoint(true)
      val exact = VectorSearch.knnExact(qv, served
        .select(col("vec_id"), col("embedding")), k)
        .select(col("q_vec_id"), col("n_vec_id"))
        .localCheckpoint(true)
      val hit = exact.join(
        VectorSearch.knnIvfFromPostings(qv, served, k, c, nProbe)
          .select(col("q_vec_id"), col("n_vec_id")),
        Seq("q_vec_id", "n_vec_id"), "left_semi")
      val (nHit, nTot) = (hit.count(), exact.count())
      val recall = if (nTot == 0) 1.0 else nHit.toDouble / nTot
      // skew vs the IDEAL balance (total / nCells), not the live-cell
      // mean: a corpus collapsed into one cell of 16 is skew 16 — the
      // exact shape quantizer drift produces — while a live-cell mean
      // would report a flat 1.0
      val occ = served.groupBy(col("cell")).count()
        .agg(max(col("count")).cast("double").as("mx"),
          sum(col("count")).cast("double").as("tot")).head()
      val skew = if (occ.isNullAt(0) || occ.getDouble(1) == 0) 1.0
        else occ.getDouble(0) / (occ.getDouble(1) / c.length)
      val row = spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(name, batchId, recall,
          if (recall >= recallFloor) 1 else 0, skew,
          if (skew <= skewBound) 1 else 0, qv.count().toInt)),
        StructType.fromDDL("pipeline STRING, batch_id BIGINT, " +
          "recall DOUBLE, recall_ok INT, skew DOUBLE, drift_ok INT, " +
          "probed INT"))
        .withColumn("action", lit("upsert"))
      JdbcSink.applyViewDeltas(row, jdbcUrl, ct, Seq("pipeline"),
        stagingColumnTypes = "pipeline VARCHAR(64)")
    }

  /** FILTERED serve from the live store with SELECTIVITY-ADAPTIVE
    * probes ([[VectorSearch.adaptiveProbes]], q158's policy wired into
    * the serving surface): the allowed-id relation semi-joins the
    * postings BEFORE the probe join (pre-filter semantics — the true
    * top-k of the matching subset), the matching count sets the probe
    * width (clamp(ceil(8k·nCells/allowedN), conf nProbe, nCells) —
    * sharp filters degrade gracefully to the exact scan of the
    * matching sliver), and cells come from whatever quantizer
    * generation CURRENT names, so a retrain-and-swap takes effect here
    * with no restart. Returns (top-k frame, probes used) — the width
    * belongs in the caller's observability, the q158 certificate's
    * lesson.
    */
  def servedFilteredKnn(spark: SparkSession, workRoot: String,
      queries: DataFrame, allowed: DataFrame,
      kOverride: Int = -1): (DataFrame, Int) = {
    val (topk, probes, _, _) =
      filteredServe(spark, workRoot, queries, allowed, kOverride)
    (topk, probes)
  }

  /** The ONE filtered-serve path both public entries share — the
    * certified and uncertified serves must never diverge on semantics
    * (semi-join placement, probe clamp, quantizer generation).
    */
  private def filteredServe(spark: SparkSession, workRoot: String,
      queries: DataFrame, allowed: DataFrame, kOverride: Int)
      : (DataFrame, Int, Long, DataFrame) = {
    val c = currentCents(workRoot)
    val kk = if (kOverride > 0) kOverride else k
    val allowedPostings = servedPostings(spark)
      .join(allowed, Seq("vec_id"), "left_semi").localCheckpoint(true)
    val nAllowed = allowedPostings.count()
    val probes = VectorSearch.adaptiveProbes(c.length, nProbe, kk, nAllowed)
    (VectorSearch.knnIvfFromPostings(queries, allowedPostings, kk, c,
      probes), probes, nAllowed, allowedPostings)
  }

  /** [[servedFilteredKnn]] with the adaptive operating point CERTIFIED
    * ON THE SERVING PATH — q158 pins the policy offline; this records
    * what production serving actually chose, so the certificate rides
    * live traffic: one row keyed (pipeline, tag) MERGEd into
    * `<certTable>_f` with the live matching count (`n_allowed`), the
    * adaptive width the call used (`probes` — widens as the allowed
    * set shrinks, [[VectorSearch.adaptiveProbes]]), the filtered
    * recall vs the exact scan of the allowed sliver of the SERVED
    * store, and `recall_ok` vs the conf floor. Keyed overwrite, not
    * history: `tag` names a query CLASS (a conf's filter predicate, a
    * tenant) and dashboards read its CURRENT width — re-serving a tag
    * replaces its row, exactly like the batch certificate row. The
    * caller creates `<certTable>_f` beside `certTable` (pipeline
    * VARCHAR(64), tag VARCHAR(64), n_allowed BIGINT, probes INTEGER,
    * recall DOUBLE, recall_ok INTEGER, PK (pipeline, tag)).
    *
    * The exact-side check scans only the allowed sliver of the served
    * store — precisely the regime where the adaptive formula has
    * already widened probes toward that same scan, so certifying costs
    * at most ~2× the serve it certifies (the cheap uncertified path
    * stays [[servedFilteredKnn]]).
    *
    * `certSampleMax` bounds the CERTIFICATE's cost at production scale
    * (the r12 verdict's task 7): the exact check is per-query over the
    * allowed sliver, so a 10⁶-query serve would pay 10⁶ exact scans
    * for its certificate. With `certSampleMax > 0` the check runs over
    * a deterministic hash-sample of at most ~that many queries (the
    * batch certificate's pmod(xxhash64) discipline — reproducible, no
    * RNG), the SERVE still answers every query at full fidelity, and
    * the row records `n_sampled` so a sampled certificate is visibly a
    * sampled one, never silently presented as exhaustive. Callers
    * using sampling add `n_sampled INTEGER` to their `<certTable>_f`
    * DDL; the default 0 keeps the exhaustive check and the r12 row
    * shape. Keep each TAG on one mode: an exhaustive re-serve of a
    * previously-sampled tag updates only the shared columns (the MERGE
    * writes the row's own columns), leaving the old `n_sampled` beside
    * fresh exhaustive numbers — delete the row when flipping a tag's
    * mode.
    */
  def servedFilteredKnnCertified(spark: SparkSession, workRoot: String,
      queries: DataFrame, allowed: DataFrame, tag: String,
      kOverride: Int = -1, certSampleMax: Int = 0): (DataFrame, Int, Long) = {
    val ct = certTable.getOrElse(throw new IllegalArgumentException(
      s"ann $name: servedFilteredKnnCertified needs a certTable"))
    val kk = if (kOverride > 0) kOverride else k
    val (topk0, probes, nAllowed, allowedPostings) =
      filteredServe(spark, workRoot, queries, allowed, kOverride)
    val topk = topk0.localCheckpoint(true)
    val (certQueries, nSampled) =
      if (certSampleMax <= 0) (queries, -1L)
      else {
        val qp = queries.localCheckpoint(true)
        val nq = qp.count()
        if (nq <= certSampleMax) (qp, nq)
        else {
          // ceil keeps the EXPECTED sample at or under the cap (a
          // floored divisor selects up to 2x, and the full set when
          // nq < 2*cap — silently voiding the cost bound)
          val mod = (nq + certSampleMax - 1L) / certSampleMax
          val s = qp.filter(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
            .localCheckpoint(true)
          val ns = s.count()
          // an unlucky hash draw can select NOTHING — a zero-query
          // certificate would record recall 1.0 having verified
          // nothing; fall back to the exhaustive check instead
          if (ns == 0L) (qp, nq) else (s, ns)
        }
      }
    // ONE action for the recall fraction: total and hit counts come out
    // of a single aggregate over a served-hit marker left-join, instead
    // of a checkpoint + two count jobs (guide §1.2: the certificate is
    // job-count-bound at serve time, not data-bound)
    val exact = VectorSearch.knnExact(certQueries,
      allowedPostings.select(col("vec_id"), col("embedding")), kk)
      .select(col("q_vec_id"), col("n_vec_id"))
    val hitRow = exact.join(
      topk.select(col("q_vec_id"), col("n_vec_id"), lit(1).as("_hit"))
        .dropDuplicates("q_vec_id", "n_vec_id"),
      Seq("q_vec_id", "n_vec_id"), "left")
      .agg(count(lit(1)).as("_nt"),
        sum(coalesce(col("_hit"), lit(0))).as("_nh")).head()
    val nTot = hitRow.getLong(0)
    val nHit = if (hitRow.isNullAt(1)) 0L else hitRow.getLong(1)
    val recall = if (nTot == 0) 1.0 else nHit.toDouble / nTot
    val okInt = if (recall >= recallFloor) 1 else 0
    val row = (if (certSampleMax <= 0)
      spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(name, tag, nAllowed, probes, recall, okInt)),
        StructType.fromDDL("pipeline STRING, tag STRING, n_allowed BIGINT, " +
          "probes INT, recall DOUBLE, recall_ok INT"))
    else
      spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(name, tag, nAllowed, probes, recall, okInt,
          nSampled.toInt)),
        StructType.fromDDL("pipeline STRING, tag STRING, n_allowed BIGINT, " +
          "probes INT, recall DOUBLE, recall_ok INT, n_sampled INT")))
      .withColumn("action", lit("upsert"))
    JdbcSink.applyViewDeltas(row, jdbcUrl, s"${ct}_f", Seq("pipeline", "tag"),
      stagingColumnTypes = "pipeline VARCHAR(64), tag VARCHAR(64)")
    (topk, probes, nAllowed)
  }

  /** The last certificate row, if any: (batch_id, recall, recall_ok,
    * skew, drift_ok) — operational visibility and the retrain trigger's
    * input.
    */
  def certificate(spark: SparkSession): Option[(Long, Double, Boolean, Double, Boolean)] =
    certTable.flatMap { ct =>
      spark.read.jdbc(jdbcUrl, ct, new java.util.Properties())
        .filter(col("pipeline") === name).collect().headOption.map(r =>
          (r.getLong(1), r.getDouble(2), r.getInt(3) == 1,
            r.getDouble(4), r.getInt(5) == 1))
    }

  /** RETRAIN-AND-SWAP — the offline index rebuild a tripped drift
    * certificate calls for: train a fresh quantizer from the SERVED
    * corpus, publish it as the next generation (atomic CURRENT
    * repoint), re-assign every served vector's cell in one MERGE
    * transaction, and re-certify. Later micro-batches pick up the new
    * generation through CURRENT. Returns the fresh quantizer.
    */
  def retrainAndSwap(spark: SparkSession, workRoot: String,
      nCells: Int = -1, iters: Int = 5,
      esTransport: graft.sinks.EsSink.Transport =
        new graft.sinks.EsSink.HttpTransport): Array[Array[Float]] = {
    val served = servedPostings(spark).localCheckpoint(true)
    val corpus = served.select(col("vec_id"), col("embedding"))
    val n = if (nCells > 0) nCells else currentCents(workRoot).length
    // a corpus smaller than the cell count cannot train a quantizer —
    // keep serving under the current generation (bootstrap window)
    if (served.count() < n) return currentCents(workRoot)
    val fresh = VectorSearch.trainCentroids(corpus, n, iters, sampleMod = 0)
    // ORDER MATTERS: the re-keying MERGE commits BEFORE the generation
    // pointer moves — an external reader following CURRENT must never
    // pair new centroids with old cell assignments. In-pipeline reads
    // only consult CURRENT between batches, so the ordering is free;
    // the window where old-CURRENT points at new-cell assignments is
    // harmless (assignments are re-derived from CURRENT on every read
    // path that needs them, and the store's ids/vectors are unchanged)
    val flat0 = corpus.select(col("vec_id").as(idField),
      lit("upsert").as("action"),
      VectorSearch.nearestCell(col("embedding"), fresh).as("cell"),
      to_json(col("embedding")).as("emb_json"))
    val flat = if (esMirror.isDefined) flat0.localCheckpoint(true) else flat0
    JdbcSink.applyViewDeltas(flat, jdbcUrl, postingsTable, Seq(idField),
      stagingColumnTypes = "emb_json VARCHAR(32000)")
    // re-PUT every served document under its fresh cell — marker-free
    // key-addressed upserts (idempotent; the scaladoc's staleness
    // window applies until this completes)
    esMirror.foreach { es =>
      graft.sinks.EsSink.upsert(
        flat.select(col(idField), col("cell"), col("emb_json")),
        es.config(idField), esTransport)
      ()
    }
    writeGeneration(workRoot, fresh)
    applyCertificate(spark, certificate(spark).map(_._1).getOrElse(0L), fresh)
    fresh
  }

  /** CRON-LIKE RETRAIN SCHEDULING — the watcher-cadence analog of the
    * reference's periodic watcher loop, closing the operational gap
    * where `autoRetrain` only fires on a certificate that has ALREADY
    * tripped: when the CURRENT quantizer generation is older than
    * `maxGenAgeMs` (0 = disabled), drop a `RETRAIN_DUE` marker in the
    * work dir. The index stage honors the marker at its next
    * micro-batch boundary, so the swap itself stays SERIALIZED with
    * batch application (the same in-stream path as the
    * tripped-certificate retrain) — the watcher thread never mutates
    * the store or the generation pointer. [[PipelineWatcher.pollOnce]]
    * calls this for every live ann pipeline. Returns true when a
    * retrain was scheduled (marker present after the call).
    */
  def scheduleRetrainIfStale(workRoot: String,
      nowMs: Long = System.currentTimeMillis()): Boolean = {
    if (maxGenAgeMs <= 0L) return false
    val qd = Paths.get(quantDir(workRoot))
    val cur = qd.resolve("CURRENT")
    if (!Files.exists(cur)) return false
    val gen = Files.readString(cur).trim
    // a torn/pruned generation dir must not throw here: one broken
    // pipeline would abort the watcher's whole maintenance tick for
    // every remaining ann conf. Unreadable age → not stale (the next
    // batch's currentCents read surfaces the real fault loudly)
    val centroids = qd.resolve(gen).resolve("centroids.json")
    val trainedAt =
      if (!Files.exists(centroids)) None
      else scala.util.Try(Files.getLastModifiedTime(centroids).toMillis).toOption
    trainedAt match {
      case Some(t) if nowMs - t > maxGenAgeMs =>
        val m = Paths.get(s"$workRoot/RETRAIN_DUE")
        try Files.createFile(m)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        true
      case _ => false
    }
  }

  private def indexQuery(spark: SparkSession, workRoot: String,
      trigger: Trigger,
      esTransport: graft.sinks.EsSink.Transport): StreamingQuery = {
    val stream = spark.readStream.schema(ViewPipeline.LogSchema)
      .parquet(logDir(workRoot))
      .withColumnRenamed("batch_id", "seq")
    val idF = idField
    stream.writeStream
      .queryName(s"ann_$name")
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", ckptDir(workRoot, "index"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.currentTimeMillis()
        // every batch assigns under whatever generation CURRENT names —
        // a swap between batches takes effect with no restart
        val c = currentCents(workRoot)
        // a catch-up micro-batch may carry several log batches per key:
        // the latest delta (by seq, + over − within one seq) is the
        // key's serving outcome — livePostings' fold, kept as ±actions
        val pd = VectorSearch.postingDeltas(batch, c)
        val flat0 = pd.groupBy(col("vec_id"))
          .agg(max_by(struct(col("sgn"), col("cell"), col("emb")),
            struct(col("seq"), col("sgn"))).as("w"))
          .select(col("vec_id").as(idF),
            when(col("w.sgn") > 0, "upsert").otherwise("delete").as("action"),
            col("w.cell").as("cell"), to_json(col("w.emb")).as("emb_json"))
        // with metrics or the ES mirror on, pin the actions so the
        // extra consumers below cannot re-run the batch plan
        val flat = if (metrics.isDefined || esMirror.isDefined)
          flat0.localCheckpoint(true) else flat0
        // expectations judge the batch's UPSERT posting actions (id +
        // advisory cell) BEFORE the index store commits: Halt fails the
        // batch here, Drop violators dead-letter and are withheld from
        // both the index store and the mirror
        val violating = PipelineMetrics.enforceBatchExpectations(metrics,
          name, batchId, expectations,
          flat.filter(col("action") === "upsert").select(col(idF), col("cell")),
          Seq(idF), deadLetterDir, kind = "ann")
        val served = violating.fold(flat)(v =>
          flat.filter(col("action") === "delete")
            .unionByName(flat.filter(col("action") === "upsert")
              .join(v.select(col(idF)), Seq(idF), "left_anti")))
        JdbcSink.applyViewDeltas(served, jdbcUrl, postingsTable, Seq(idF),
          stagingColumnTypes = "emb_json VARCHAR(32000)")
        // mirror AFTER the index store commits: the document surface
        // trails the source of truth, never leads it
        var esDeadLetters = 0L
        esMirror.foreach { es =>
          // marker keyed (pipeline, work dir): a rebuilt work dir
          // restarts batch ids at 0 and must not be skipped by the old
          // run's marker (SearchServingPipeline's rebuild contract)
          val markerId = s"${name}_${Integer.toHexString(workRoot.hashCode)}"
          val applied = graft.sinks.EsSink.applyKeyedBatch(markerId, batchId,
            served.filter(col("action") === "delete").select(col(idF)),
            served.filter(col("action") === "upsert")
              .select(col(idF), col("cell"), col("emb_json")),
            es.config(idF), esTransport,
            onDeadLetters = (dlDeletes, dlUpserts) =>
              deadLetterDir.foreach { dir =>
                val dead = dlDeletes.unionByName(dlUpserts)
                  .withColumn("pipeline", lit(name))
                if (!dead.isEmpty) dead.write.mode("append").parquet(dir)
              })
          esDeadLetters = applied
            .map { case (d, u) => d.count() + u.count() }.getOrElse(0L)
          ()
        }
        applyCertificate(spark, batchId, c)
        metrics.foreach { m =>
          val gen = Files.readString(
            Paths.get(s"${quantDir(workRoot)}/CURRENT")).trim
          PipelineMetrics.record(m, name, "ann", batchId,
            rowsIn = flat.count(), deadLetters = esDeadLetters,
            stateRows = flat.count(),
            wallMs = System.currentTimeMillis() - t0,
            info = s"""{"generation":"$gen"}""")
        }
        // SELF-HEALING: a tripped certificate triggers the retrain
        // in-stream — the swap lands between batches through CURRENT,
        // and the re-run certificate records the restored SLO
        if (autoRetrain)
          certificate(spark).foreach { case (_, _, recallOk, _, driftOk) =>
            if (!recallOk || !driftOk) {
              retrainAndSwap(spark, workRoot, esTransport = esTransport); ()
            }
          }
        // scheduled (age-triggered) retrain: honor the watcher's marker
        // here, at the batch boundary, so the swap is serialized with
        // batch application like every other store mutation
        val due = Paths.get(s"$workRoot/RETRAIN_DUE")
        if (Files.exists(due)) {
          retrainAndSwap(spark, workRoot, esTransport = esTransport)
          Files.deleteIfExists(due)
          ()
        }
        ()
      }
      .start()
  }

  /** RE-DRIVE expectation-dropped vectors through the fixed conf — an
    * ann dead letter is a DERIVED posting action (id + advisory cell),
    * so replay resolves it to the originating vector id, re-injects the
    * vector's CURRENT raw row from the table log (the LWW fold of the
    * bronze feed) at the epoch, and the normal path re-assigns under
    * whatever quantizer generation is then CURRENT, re-judges with the
    * fixed rules, and key-addressed MERGEs the posting — idempotent
    * store effects, so convergence holds. Deleted vectors resolve to
    * nothing and their dead letters retire. See
    * [[PipelineMetrics.replayKeyedExpectDeadLetters]].
    */
  def replayExpectDeadLetters(spark: SparkSession, workRoot: String,
      feedDir: String, db: String, tsMs: Long,
      batchIds: Seq[Long] = Nil): Long = {
    require(deadLetterDir.isDefined,
      s"ann $name: replay needs the conf-declared deadLetterDir")
    PipelineMetrics.replayKeyedExpectDeadLetters(spark, deadLetterDir.get,
      name, "ann", idField,
      StateLog.latestLiveRows(spark, logDir(workRoot)),
      db, table, feedDir, tsMs, batchIds)
  }

  /** Drain the feed's current contents through both stages; incremental
    * across calls (durable checkpoints — [[ViewPipeline.runOnce]]'s
    * contract).
    */
  def runOnce(spark: SparkSession, feedDir: String, workRoot: String,
      esTransport: graft.sinks.EsSink.Transport =
        new graft.sinks.EsSink.HttpTransport): Unit = {
    ensureQuantizer(workRoot)
    driftGate.ingestOnce(spark, feedDir, tableLog(workRoot))
    indexQuery(spark, workRoot, Trigger.AvailableNow(), esTransport)
      .awaitTermination()
  }

  /** Live deployment: both stages as long-running queries; vector churn
    * flows to the serving store continuously. Stop the returned queries
    * to shut down; checkpoints resume either mode.
    */
  def start(spark: SparkSession, feedDir: String, workRoot: String,
      interval: String = "500 milliseconds",
      esTransport: graft.sinks.EsSink.Transport =
        new graft.sinks.EsSink.HttpTransport): Seq[StreamingQuery] = {
    val t = Trigger.ProcessingTime(interval)
    ensureQuantizer(workRoot)
    driftGate.startIngest(spark, feedDir, tableLog(workRoot), t) :+
      indexQuery(spark, workRoot, t, esTransport)
  }
}
