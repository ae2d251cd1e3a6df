package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame}

/** Vector similarity search over an `embedding: Array[Float]` column
  * (mandate: similarity search for training-data pipelines).
  *
  * Cosine is computed with codegen'd higher-order functions (zip_with +
  * aggregate folding in doubles, sequentially — deterministic and
  * bitwise-reproducible). Exact top-k broadcasts the (small) query set
  * against the corpus: one scan, no shuffle of the corpus. The scale
  * path is random-hyperplane LSH: corpus bucketed by 8 sign bits, query
  * multi-probes its bucket plus all Hamming-1 neighbors, candidates
  * ranked exactly. Bucketing turns the scan into a bucket-join touching
  * ~9/256 of the corpus per query at recall governed by plane count and
  * probe radius.
  */
object VectorSearch {

  /** dot(a, b) over float arrays, accumulated in doubles sequentially —
    * a codegen'd Catalyst expression (graft.functions.DotProductF), ~10×
    * the throughput of the equivalent higher-order-function fold while
    * producing bitwise-identical values.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VecFunctions.dotF(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors for each query vector.
    * Output: q_vec_id, n_vec_id, cos_sim, rnk (1-based).
    */
  def knnExact(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_norm"))
    val c = corpus.select(col("vec_id").as("n_vec_id"), col("embedding").as("n_emb"),
      norm(col("embedding")).as("n_norm"))
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos_sim").desc, col("n_vec_id"))
    broadcast(q).join(c, col("q_vec_id") =!= col("n_vec_id"))
      .withColumn("cos_sim", dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_vec_id"), col("n_vec_id"), col("cos_sim"), col("rnk"))
  }

  /** kNN majority-vote label classification — the label-propagation /
    * weak-annotation pass of a training-data pipeline (assign a class to
    * an unlabeled item from its nearest labeled neighbors). Composes
    * [[knnExact]] (broadcast query set, codegen'd dot kernel) with one
    * keyed vote aggregate and a per-query window; ties break
    * deterministically to the smallest label so the result is
    * engine-stable. Output: q_vec_id, pred_label, votes, label (the
    * query's own; null when the query is not itself in the corpus),
    * correct.
    */
  def knnClassify(queries: DataFrame, corpus: DataFrame, k: Int,
      labelCol: String = "label"): DataFrame = {
    val nbrs = knnExact(queries, corpus, k)
    val labels = corpus.select(col("vec_id"), col(labelCol).cast("long"))
    val votes = nbrs
      .join(labels.select(col("vec_id").as("n_vec_id"), col(labelCol).as("n_label")), "n_vec_id")
      .groupBy(col("q_vec_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("votes").desc, col("n_label"))
    // Left join for the query's own label: a genuinely unlabeled query
    // (not in the corpus) keeps its prediction with label/correct null
    // instead of being dropped by an inner match.
    votes.withColumn("vr", row_number().over(w)).filter(col("vr") === 1)
      .join(labels.select(col("vec_id").as("q_vec_id"), col(labelCol)),
        Seq("q_vec_id"), "left")
      .select(col("q_vec_id"), col("n_label").as("pred_label"), col("votes"),
        col(labelCol), (col("n_label") === col(labelCol)).as("correct"))
  }

  /** Semantic dedup (the SemDeDup recipe): documents are deduplicated
    * by embedding similarity WITHIN CELLS of a partitioning — a doc is
    * dropped iff a lower-id doc in the SAME cell has cosine ≥
    * threshold; survivors keep their cell. The cell equijoin is what
    * makes this scale: candidate pairs are bounded by cell size, never
    * corpus size (the trick that lets SemDeDup run where all-pairs
    * cannot).
    *
    * `cell` is ANY deterministic assignment expression — production
    * uses the IVF quantizer's nearest-centroid cell
    * ([[trainCentroids]] + the NearestCellsF kernel, q29's machinery);
    * the oracle-checkable operating point (q84) uses the argmax
    * dimension, which DuckDB can state exactly. Same operator either
    * way; cell quality only affects recall across cell boundaries.
    */
  def semanticDedup(emb: DataFrame, cell: Column, threshold: Double): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"), cell.as("cell"))
    val a = e.select(col("cell"), col("vec_id").as("vec_id_a"),
      col("embedding").as("ea"))
    val b = e.select(col("cell"), col("vec_id").as("vec_id_b"),
      col("embedding").as("eb"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .filter(cosine(col("ea"), col("eb")) >= threshold)
      .select(col("vec_id_b").as("vec_id")).distinct()
    e.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** All pairs (a < b) with cosine >= threshold — the EXACT all-pairs
    * formulation, O(n²). Kept as the oracle/reference path only (the
    * role q19's exact shingle join plays for q26); the checked scaled
    * path is [[nearDupPairsBanded]].
    */
  def nearDupPairsExact(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = corpus.select(col("vec_id").as("vec_id_a"), col("embedding").as("ea"),
      norm(col("embedding")).as("na"))
    val b = corpus.select(col("vec_id").as("vec_id_b"), col("embedding").as("eb"),
      norm(col("embedding")).as("nb"))
    a.join(b, col("vec_id_a") < col("vec_id_b"))
      .withColumn("cos_sim", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_id_a"), col("vec_id_b"), col("cos_sim"))
  }

  /** Flattened deterministic plane matrix for banded sign-LSH: band b's
    * planes are generated from seed+b, so each band is an independent
    * draw (same generator as [[planes]]).
    */
  private def bandedPlanes(bands: Int, bandPlanes: Int, dim: Int,
      seed: Long): Array[Float] = {
    val out = new Array[Float](bands * bandPlanes * dim)
    var off = 0
    (0 until bands).foreach { b =>
      val rnd = new scala.util.Random(seed + b)
      var j = 0
      while (j < bandPlanes * dim) {
        out(off + j) = rnd.nextGaussian().toFloat
        j += 1
      }
      off += bandPlanes * dim
    }
    out
  }

  /** Embedding near-dup via banded sign-LSH candidates + exact cosine
    * verify — the scaled counterpart of [[nearDupPairsExact]], mirroring
    * MinHashLsh.nearDupPairs for text.
    *
    * Band count is derived from the threshold: a pair at exactly
    * `threshold` cosine agrees with one random hyperplane sign with
    * p = 1 − arccos(t)/π, survives a band of r planes with p^r, and is
    * missed by all b bands with (1−p^r)^b ≤ missProb ⇒
    * b = ⌈ln missProb / ln(1−p^r)⌉. Every step is an equijoin on
    * (band, bucket) — shuffle-partitionable, no cross/nested-loop join,
    * no broadcast of the corpus — so the shape survives 1000 executors.
    *
    * Cost model (stated honestly): candidate volume is
    * ~b/2^r × n² on isotropic data, so the win over all-pairs depends on
    * the threshold. At realistic near-dup thresholds (t ≥ 0.8 ⇒ p ≥
    * 0.93, b ≈ 16) candidates are a few % of all pairs; at t = 0.4
    * (p = 0.63, b = 80 — the q28 setting, which slices the extreme tail
    * of an isotropic similarity distribution) LSH approaches all-pairs
    * volume and the value of the bucketed shape is distribution of the
    * work, not asymptotic savings — no sub-quadratic method exists for
    * dense isotropic data at that operating point.
    */
  def nearDupPairsBanded(corpus: DataFrame, threshold: Double,
      dim: Int = 64, bandPlanes: Int = 4, missProb: Double = 1e-6,
      seed: Long = 7L): DataFrame =
    verifyPairs(
      bandedCandidatePairs(corpus, threshold, dim, bandPlanes, missProb, seed),
      corpus, threshold)

  /** Candidate (vec_id_a < vec_id_b) pairs sharing at least one LSH band
    * at the derived band count — the un-verified half of
    * [[nearDupPairsBanded]], exposed so callers can measure / bound the
    * candidate volume (q28b's cand_frac_ok guarantee). `dedup = false`
    * skips the distinct (one whole shuffle stage): a pair then appears
    * once per colliding band, which is what a collision-VOLUME bound
    * wants anyway (raw ≥ distinct), and a counting caller can fold
    * exact dedup into its final aggregate.
    */
  def bandedCandidatePairs(corpus: DataFrame, threshold: Double,
      dim: Int = 64, bandPlanes: Int = 4, missProb: Double = 1e-6,
      seed: Long = 7L, dedup: Boolean = true): DataFrame = {
    val p = 1.0 - math.acos(threshold) / math.Pi
    val pr = math.pow(p, bandPlanes)
    val bands = math.max(1, math.ceil(math.log(missProb) / math.log1p(-pr)).toInt)
    val pm = bandedPlanes(bands, bandPlanes, dim, seed)
    // Candidates are NARROW (vec_id, band, bucket) rows: the (band,
    // bucket) equijoin and the pair-distinct move only 16-byte pairs,
    // and the exact verify joins the (distinct) candidates back to the
    // corpus — auto-broadcast when the corpus is small, sort-merge at
    // scale. Carrying embeddings through the band join instead was
    // measured 1.7× slower (every colliding pair materializes two
    // 256-byte vectors).
    //
    // Two plan hazards around the (expensive) signature expression —
    // bands × bandPlanes × dim mults per row, 70k at the q28b setting:
    // (1) a small parquet file scans as ONE partition, so the
    // signatures of the whole corpus would run on one core; the
    // repartition decouples that from the file-split layout. (2) when
    // the signature is projected to a named column first, Catalyst
    // collapses the projection below the repartition exchange and
    // InferFiltersFromGenerate adds size(sig)>0 / isnotnull(sig)
    // filters referencing the raw expression — three single-partition
    // evaluations per row (measured: the whole query at 3.1 s while
    // the math is ~0.1 s of parallel work). Feeding the expression
    // DIRECTLY to posexplode keeps it inside the Generate node, which
    // no rule pushes below an exchange, and its non-Attribute child
    // disqualifies the filter inference.
    // The trailing repartition on the join key makes BOTH self-join
    // sides the byte-identical plan ending in the same shuffle, so
    // AQE's stage reuse materializes the banded subtree once and feeds
    // it to both sides (measured: halves the candidate-stage cost);
    // without it each side re-scans and re-signs the corpus.
    val banded = corpus
      .repartition(col("vec_id"))
      .select(col("vec_id"),
        posexplode(graft.functions.VecFunctions.signBandsF(
          col("embedding"), pm, bands, bandPlanes, dim)).as(Seq("band", "bucket")))
      .repartition(col("band"), col("bucket"))
    val joined = banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
          && col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("vec_id_a"), col("r.vec_id").as("vec_id_b"))
    if (dedup) joined.distinct() else joined
  }

  /** Exact-cosine verification of candidate id pairs against the corpus. */
  def verifyPairs(cand: DataFrame, corpus: DataFrame,
      threshold: Double): DataFrame = {
    val a = corpus.select(col("vec_id").as("vec_id_a"), col("embedding").as("ea"),
      norm(col("embedding")).as("na"))
    val b = corpus.select(col("vec_id").as("vec_id_b"), col("embedding").as("eb"),
      norm(col("embedding")).as("nb"))
    cand.join(a, Seq("vec_id_a")).join(b, Seq("vec_id_b"))
      .withColumn("cos_sim", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_id_a"), col("vec_id_b"), col("cos_sim"))
  }

  /** Nearest-by-cosine cell id against literal centroids, via the fused
    * [[graft.functions.NearestCellsF]] kernel: one codegen'd loop over
    * the flattened centroid matrix per row — no join, no shuffle, and a
    * compile cost independent of nCells (the equivalent
    * array_min-of-structs formulation took Janino seconds to compile).
    * Deterministic id tiebreak on equal scores.
    */
  def nearestCell(emb: Column, cents: Array[Array[Float]]): Column =
    element_at(graft.functions.VecFunctions.nearestCellsF(emb, cents, 1), 1)

  private def nearestCells(emb: Column, cents: Array[Array[Float]], n: Int): Column =
    graft.functions.VecFunctions.nearestCellsF(emb, cents, n)

  /** First-N init for the coarse quantizer (deterministic). */
  private def initCentroids(corpus: DataFrame, nCells: Int): Array[Array[Float]] =
    corpus.orderBy(col("vec_id")).limit(nCells)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)

  /** Lloyd-iteration training of the IVF coarse quantizer. Each pass is
    * fully distributed: assignment is the inline [[nearestCell]] argmin
    * over literal centroids (a map, no shuffle), the update is one
    * groupBy(cell, dim) aggregate whose sums run in fixed point (1e-7
    * grain, decimal accumulator) so the new centroids are bitwise
    * deterministic under any partitioning. The driver receives exactly
    * nCells×dim aggregated means per iteration — the MODEL, not data
    * (the same driver round-trip Spark MLlib's KMeans performs between
    * iterations). `sampleMod > 1` trains on the deterministic hash-sample
    * `pmod(xxhash64(vec_id), sampleMod) = 0` — the 100 TB practice (a
    * coarse quantizer needs thousands of points per cell, not the full
    * corpus; faiss trains exactly this way) — while assignment still
    * covers every row; `sampleMod = 0` picks the largest stride that
    * still leaves ~64 training points per cell (too aggressive a stride
    * starves the cells and recall collapses). A cell that loses all
    * members keeps its previous centroid.
    */
  def trainCentroids(corpus: DataFrame, nCells: Int, iters: Int,
      sampleMod: Int = 1): Array[Array[Float]] = {
    val mod =
      if (sampleMod == 0) math.max(1L, corpus.count() / (64L * nCells)).toInt
      else sampleMod
    val train =
      if (mod > 1) corpus.where(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
      else corpus
    var cents = initCentroids(train, nCells)
    var it = 0
    while (it < iters) {
      val moments = train
        .select(nearestCell(col("embedding"), cents).as("cell"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(floor(col("x") * 1e7 + 0.5).cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("n"))
        .select(col("cell"), col("pos"),
          (col("s").cast("double") / 1e7 / col("n")).as("m"))
        .collect() // nCells×dim model parameters, not data
      val next = cents.map(_.clone())
      moments.foreach { r =>
        next(r.getAs[Int]("cell"))(r.getAs[Int]("pos")) = r.getAs[Double]("m").toFloat
      }
      cents = next
      it += 1
    }
    cents
  }

  /** IVF-style ANN top-k: corpus assigned to its nearest of nCells
    * coarse centroids; each query probes its nProbe nearest cells and
    * ranks those candidates exactly. Centroids are Lloyd-trained
    * ([[trainCentroids]]; `trainIters = 0` falls back to the first-N
    * init). Assignment and probe-selection are inline argmin/top-n
    * expressions over literal centroids — the only shuffles in the plan
    * are the (cell) equijoin and the final ranking window.
    * Cost at scale: training on a bounded sample, then one corpus scan
    * to assign; each query touches ~nProbe/nCells of the corpus.
    */
  def knnIvf(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, trainIters: Int = 3,
      trainSampleMod: Int = 0,
      centroids: Option[Array[Array[Float]]] = None): DataFrame = {
    // `centroids` short-circuits training entirely: the quantizer is an
    // INDEX artifact — built once, queried many times — so callers
    // issuing repeated queries train once via [[trainCentroids]] and
    // pass the result here. trainSampleMod defaults to 0 = auto stride
    // (see trainCentroids).
    val cents = centroids.getOrElse {
      if (trainIters > 0) trainCentroids(corpus, nCells, trainIters, trainSampleMod)
      else initCentroids(corpus, nCells)
    }
    val c = corpus.select(col("vec_id").as("n_vec_id"), col("embedding").as("n_emb"),
      norm(col("embedding")).as("n_norm"),
      nearestCell(col("embedding"), cents).as("cell"))
    // each corpus point lives in exactly one cell and a query's probe
    // cells are distinct, so candidate pairs cannot duplicate — no
    // distinct needed
    val q = queries.select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_norm"),
      explode(nearestCells(col("embedding"), cents, nProbe)).as("cell"))
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos_sim").desc, col("n_vec_id"))
    broadcast(q).join(c, Seq("cell"))
      .filter(col("q_vec_id") =!= col("n_vec_id"))
      .withColumn("cos_sim", dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")))
      .select(col("q_vec_id"), col("n_vec_id"), col("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** First-ks init for a PQ subspace codebook: subvector j of the first
    * ks corpus vectors (deterministic, mirrors [[initCentroids]]).
    */
  private def initPqCodebook(corpus: DataFrame, m: Int, ks: Int,
      dsub: Int): Array[Float] = {
    val rows = corpus.orderBy(col("vec_id")).limit(ks)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val cb = new Array[Float](m * ks * dsub)
    var j = 0
    while (j < m) {
      rows.zipWithIndex.foreach { case (v, k) =>
        System.arraycopy(v, j * dsub, cb, (j * ks + k) * dsub, dsub)
      }
      j += 1
    }
    cb
  }

  /** Lloyd training of per-subspace PQ codebooks (L2 k-means on
    * subvectors). ONE distributed pass per iteration covers every
    * subspace: the fused PqEncodeF assigns all m codes per row, a
    * posexplode keys rows by (subspace, code), and the update is one
    * groupBy(subspace, code, dim) aggregate in fixed point (1e-7 grain,
    * decimal accumulator → bitwise-deterministic under any
    * partitioning). The driver receives exactly m×ks×dsub aggregated
    * means per iteration — the MODEL, not data (same shape as
    * [[trainCentroids]]). `sampleMod = 0` auto-derives a training
    * stride leaving ~64 points per (subspace) centroid, the faiss
    * practice. A code that loses all members keeps its centroid.
    */
  def trainPqCodebook(corpus: DataFrame, m: Int = 8, ks: Int = 64,
      iters: Int = 3, dim: Int = 64, sampleMod: Int = 0): Array[Float] = {
    val dsub = dim / m
    require(m * dsub == dim, s"m=$m must divide dim=$dim")
    val mod =
      if (sampleMod == 0) math.max(1L, corpus.count() / (64L * ks)).toInt
      else sampleMod
    val train =
      if (mod > 1) corpus.where(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
      else corpus
    var cb = initPqCodebook(train, m, ks, dsub)
    var it = 0
    while (it < iters) {
      val moments = train
        .select(col("embedding"),
          posexplode(graft.functions.VecFunctions.pqEncodeF(
            col("embedding"), cb, m, ks, dsub)).as(Seq("j", "code")))
        .select(col("j"), col("code"),
          posexplode(slice(col("embedding"), col("j") * dsub + 1, lit(dsub)))
            .as(Seq("pos", "x")))
        .groupBy(col("j"), col("code"), col("pos"))
        .agg(sum(floor(col("x") * 1e7 + 0.5).cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("n"))
        .select(col("j"), col("code"), col("pos"),
          (col("s").cast("double") / 1e7 / col("n")).as("mean"))
        .collect() // m×ks×dsub model parameters, not data
      val next = cb.clone()
      moments.foreach { r =>
        next((r.getAs[Int]("j") * ks + r.getAs[Int]("code")) * dsub +
          r.getAs[Int]("pos")) = r.getAs[Double]("mean").toFloat
      }
      cb = next
      it += 1
    }
    cb
  }

  /** IVF-PQ ANN top-k — the memory-bound 100 TB vector path: the coarse
    * IVF quantizer routes each query to nProbe cells, candidates score
    * with `m` ADC table lookups against their m-byte PQ code (not their
    * 4·dim-byte raw vector), the ADC top-`refine` per query re-rank
    * EXACTLY, and the exact top-k of those is emitted (faiss's
    * IVFPQ+refine composition). The probe join moves only (cell, codes,
    * norm) — an index row is ~m bytes of code, which is what lets a
    * 10^9-vector index live in cluster RAM; raw embeddings are touched
    * only by the final refine join, keyed and shuffle-partitionable.
    *
    * Exact per-vector norms are computed at index build time (standard:
    * the code approximates the direction, the norm is stored), so the
    * ADC cosine is dot_approx / (|q|·|v|); the refine stage replaces it
    * with the exact value, making the output's cos_sim column exact for
    * every emitted row. Deterministic end to end: fixed-point-trained
    * quantizer + codebook, deterministic code assignment (lower index
    * wins ties), ADC doubles accumulated sequentially, id tiebreaks in
    * both ranking windows.
    */
  def knnIvfPq(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, m: Int = 8, ks: Int = 64,
      refine: Int = 64, dim: Int = 64, trainIters: Int = 3,
      centroids: Option[Array[Array[Float]]] = None,
      codebook: Option[Array[Float]] = None): DataFrame = {
    val dsub = dim / m
    val cents = centroids.getOrElse(trainCentroids(corpus, nCells, trainIters))
    val cb = codebook.getOrElse(trainPqCodebook(corpus, m, ks, trainIters, dim))
    val c = corpus.select(col("vec_id").as("n_vec_id"),
      nearestCell(col("embedding"), cents).as("cell"),
      graft.functions.VecFunctions.pqEncodeF(
        col("embedding"), cb, m, ks, dsub).as("codes"),
      norm(col("embedding")).as("n_norm"))
    val q = queries.select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_norm"),
      graft.functions.VecFunctions.pqAdcTableF(
        col("embedding"), cb, m, ks, dsub).as("adc"),
      explode(nearestCells(col("embedding"), cents, nProbe)).as("cell"))
    // ADC score: m table lookups summed via a codegen'd HOF fold
    val adcDot = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, j) => acc + element_at(col("adc"), j * ks + element_at(col("codes"), j + 1) + 1))
    val wAdc = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("adc_sim").desc, col("n_vec_id"))
    val refined = broadcast(q).join(c, Seq("cell"))
      .filter(col("q_vec_id") =!= col("n_vec_id"))
      .withColumn("adc_sim", adcDot / (col("q_norm") * col("n_norm")))
      .withColumn("arnk", row_number().over(wAdc))
      .filter(col("arnk") <= refine)
    // exact re-rank of the ADC survivors only
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos_sim").desc, col("n_vec_id"))
    refined
      .join(corpus.select(col("vec_id").as("n_vec_id"), col("embedding").as("n_emb")),
        Seq("n_vec_id"))
      .withColumn("cos_sim", dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")))
      .select(col("q_vec_id"), col("n_vec_id"), col("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** CDC-MAINTAINED IVF index, map side: turn a StatefulLww-shaped
    * embedding delta stream (key, action, rowJson, prevJson — vector at
    * `$.embedding`) into ±POSTING rows against a FIXED coarse quantizer:
    * +(cell, id, emb) for the new vector, −(cell, id, emb) for the prev.
    * Because a CDC delta carries the previous row, posting maintenance
    * needs NO state at all — the old cell is computed from prevJson, not
    * looked up — so this stage is embarrassingly parallel (contrast the
    * LSH pair index, whose pair emission needs bucket membership). An
    * index server applies the ± rows directly (delete from old cell,
    * insert into new); a relational consumer folds [[livePostings]].
    *
    * The quantizer is an index artifact: trained once at bootstrap
    * ([[trainCentroids]]) and held fixed under churn, exactly how IVF
    * deployments behave (re-training is an offline index rebuild, not
    * part of maintenance). A `seq` column (the delta log's batch_id) is
    * passed through when present, else stamped 0.
    */
  def postingDeltas(vecDeltas: DataFrame, cents: Array[Array[Float]],
      vectorField: String = "embedding"): DataFrame = {
    val embSchema = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType)
    val withSeq =
      if (vecDeltas.columns.contains("seq")) vecDeltas
      else if (vecDeltas.columns.contains("batch_id"))
        vecDeltas.withColumn("seq", col("batch_id").cast("long"))
      else vecDeltas.withColumn("seq", lit(0L))
    withSeq.select(col("key").cast("long").as("vec_id"), col("seq"),
      explode(filter(array(
        when(col("rowJson").isNotNull, struct(lit(1).as("sgn"),
          from_json(get_json_object(col("rowJson"), s"$$.$vectorField"),
            embSchema).as("emb"))),
        when(col("prevJson").isNotNull, struct(lit(-1).as("sgn"),
          from_json(get_json_object(col("prevJson"), s"$$.$vectorField"),
            embSchema).as("emb")))),
        x => x.isNotNull)).as("c"))
      .filter(col("c.emb").isNotNull) // a delta missing the vector field
        // routes nowhere (malformed payloads must not kill the stream)
      .select(col("vec_id"), col("seq"), col("c.sgn").as("sgn"),
        nearestCell(col("c.emb"), cents).as("cell"), col("c.emb").as("emb"))
  }

  /** Fold a ±posting history to the live index rows: per vector, the
    * LATEST delta's + row wins (ordered by seq, + over − within a seq);
    * a vector whose last word is a − (delete) drops out. Order-free in
    * the relational sense — correct over a delta log in any batch
    * layout, including one where an update kept the vector in the same
    * cell (the (cell, vec) net there is 0, but the + row still wins).
    */
  def livePostings(postingDeltas: DataFrame): DataFrame =
    postingDeltas.groupBy(col("vec_id"))
      .agg(max_by(struct(col("sgn"), col("cell"), col("emb")),
        struct(col("seq"), col("sgn"))).as("w"))
      .filter(col("w.sgn") > 0)
      .select(col("vec_id"), col("w.cell").as("cell"), col("w.emb").as("embedding"))

  /** IVF top-k over a MAINTAINED posting relation (vec_id, cell,
    * embedding) — [[knnIvf]]'s probe join without the assignment scan:
    * the index already knows every vector's cell, so a query touches
    * only its nProbe probed cells' postings.
    */
  def knnIvfFromPostings(queries: DataFrame, postings: DataFrame, k: Int,
      cents: Array[Array[Float]], nProbe: Int = 4): DataFrame = {
    val c = postings.select(col("vec_id").as("n_vec_id"),
      col("embedding").as("n_emb"), norm(col("embedding")).as("n_norm"),
      col("cell"))
    val q = queries.select(col("vec_id").as("q_vec_id"),
      col("embedding").as("q_emb"), norm(col("embedding")).as("q_norm"),
      explode(nearestCells(col("embedding"), cents, nProbe)).as("cell"))
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos_sim").desc, col("n_vec_id"))
    broadcast(q).join(c, Seq("cell"))
      .filter(col("q_vec_id") =!= col("n_vec_id"))
      .withColumn("cos_sim",
        dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")))
      .select(col("q_vec_id"), col("n_vec_id"), col("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** FILTERED vector search, exact form: top-k cosine neighbors
    * restricted to an allowed id set — the metadata-predicate query
    * every vector store must answer ("nearest docs WHERE lang = 'en'").
    * PRE-filter semantics: `allowed` cuts the corpus BEFORE ranking, so
    * the result is the true top-k of the matching subset; a post-filter
    * of an unfiltered top-k returns fewer than k — or zero — matches as
    * soon as selectivity bites (the classic filtered-ANN failure mode),
    * while here scan cost *shrinks* with selectivity. `allowed` is a
    * one-column (vec_id) RELATION, never a collected list: at 100 TB
    * the predicate side is itself a distributed semi-join input and
    * Catalyst/AQE picks broadcast vs shuffle from its measured size.
    */
  def filteredKnnExact(queries: DataFrame, corpus: DataFrame,
      allowed: DataFrame, k: Int): DataFrame =
    knnExact(queries, corpus.join(allowed, Seq("vec_id"), "left_semi"), k)

  /** FILTERED vector search over a MAINTAINED posting relation — the
    * at-scale drop-in for [[filteredKnnExact]]: the allowed-id semi-join
    * lands on the postings BEFORE the cell-probe join, so a query pays
    * nProbe/nCells of the *matching* corpus, and the probe's candidate
    * rank is computed only over rows that can appear in the answer.
    * Recall under a filter is never better than unfiltered recall at
    * the same nProbe (matching neighbors may hide in unprobed cells
    * while the filtered-out ones probed well), so callers pair this
    * with an exact-side recall certificate (q145) or widen nProbe with
    * selectivity.
    */
  def filteredKnnIvfFromPostings(queries: DataFrame, postings: DataFrame,
      allowed: DataFrame, k: Int, cents: Array[Array[Float]],
      nProbe: Int = 4): DataFrame =
    knnIvfFromPostings(queries,
      postings.join(allowed, Seq("vec_id"), "left_semi"), k, cents, nProbe)

  /** SELECTIVITY-ADAPTIVE probe count for filtered ANN: widen nProbe as
    * the allowed fraction shrinks, so the recall certificate holds
    * ACROSS selectivities instead of at one operating point. The rule
    * keeps the EXPECTED matching-candidate pool constant — a probe of
    * `p` cells sees ≈ allowedN·p/nCells matching vectors, so holding
    * that pool at `targetCand` (default 8·k, the oversampling every IVF
    * deployment runs) gives
    *
    *   probes = clamp( ceil(targetCand · nCells / allowedN),
    *                   baseProbe, nCells )
    *
    * — pure integer arithmetic over two COUNTS, so an independent
    * engine restates the chosen probe width exactly (q158's
    * certificate records it per selectivity band). At full selectivity
    * this is `baseProbe` (the unfiltered operating point); as the
    * filter sharpens it degrades gracefully to the exact scan of the
    * matching sliver (probes = nCells ⇒ every matching posting read) —
    * which is precisely when the sliver is small enough to afford it.
    */
  def adaptiveProbes(nCells: Int, baseProbe: Int, k: Int, allowedN: Long,
      oversample: Int = 8): Int = {
    require(nCells > 0 && baseProbe > 0 && k > 0 && oversample > 0)
    val targetCand = oversample.toLong * k
    val need =
      if (allowedN <= 0L) nCells.toLong
      else (targetCand * nCells + allowedN - 1L) / allowedN // ceil
    math.min(nCells.toLong, math.max(baseProbe.toLong, need)).toInt
  }

  /** One candidate row entering the per-query MMR greedy: its integer
    * relevance and the integer similarity to every OTHER candidate of
    * the same query. Not private: Catalyst's generated projection must
    * construct it.
    */
  case class MmrCand(q: Long, id: Long, rel: Long, sims: Map[Long, Long])

  /** MAXIMAL-MARGINAL-RELEVANCE re-rank — diversity-aware top-k: from
    * each query's `candK` most relevant candidates, greedily pick k
    * maximizing λ·relevance − (1−λ)·max-similarity-to-already-picked,
    * so near-duplicate results are suppressed in favor of coverage (the
    * diverse-sampling / search-result-diversification step of a
    * training-data pipeline). λ is a RATIONAL `lambdaNum/lambdaDen` and
    * every score is integer fixed-point (floor(cos·1e6 + 0.5)), so the
    * greedy argmax — ties to the smallest id — is exact, engine-portable
    * arithmetic an independent SQL engine can restate step by step
    * (q147's recursive-CTE oracle).
    *
    * Scale shape: the expensive part is [[knnExact]]'s candidate
    * generation (or its ANN drop-ins); everything after operates on
    * q×candK rows — the pairwise-sim join is per-QUERY candK², and the
    * greedy runs in one `mapGroups` whose per-group state is bounded by
    * candK structs, never corpus-sized.
    *
    * Output: (q_vec_id, mmr_topk) — the picked ids in pick order as a
    * CSV string (the cross-engine list representation q29 uses).
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, candK: Int, k: Int,
      lambdaNum: Long = 1L, lambdaDen: Long = 2L): DataFrame = {
    require(candK >= 2, "mmrRerank needs at least two candidates per query")
    val spark = queries.sparkSession
    import spark.implicits._
    val cand = knnExact(queries, corpus, candK)
      .select(col("q_vec_id"), col("n_vec_id").as("id"),
        floor(col("cos_sim") * lit(1e6) + lit(0.5)).cast("long").as("rel_i"))
    val withEmb = cand.join(
      corpus.select(col("vec_id").as("id"), col("embedding").as("emb"),
        norm(col("embedding")).as("nrm")), Seq("id"))
    val lhs = withEmb.select(col("q_vec_id"), col("id").as("a"),
      col("emb").as("ea"), col("nrm").as("na"))
    val rhs = withEmb.select(col("q_vec_id"), col("id").as("b"),
      col("emb").as("eb"), col("nrm").as("nb"))
    // per-query pairwise sims: candK² rows per query, an equijoin on the
    // query id — bounded by the candidate cut, independent of corpus size
    val sims = lhs.join(rhs, Seq("q_vec_id")).filter(col("a") =!= col("b"))
      .select(col("q_vec_id"), col("a"), col("b"),
        floor(dot(col("ea"), col("eb")) / (col("na") * col("nb")) * lit(1e6)
          + lit(0.5)).cast("long").as("s"))
      .groupBy(col("q_vec_id"), col("a"))
      .agg(map_from_entries(collect_list(struct(col("b"), col("s"))))
        .as("sims"))
    // sims derives from cand, so the join must qualify via aliases or
    // Spark's ambiguous-self-join detection rejects the parent refs.
    // LEFT join with an empty-map default: a query whose candidate set
    // is a single row has no (a,b) pairs at all, and an inner join would
    // silently drop the query instead of returning its one pick.
    val ds = cand.as("cnd").join(sims.as("sm"),
        col("cnd.q_vec_id") === col("sm.q_vec_id") &&
          col("cnd.id") === col("sm.a"), "left")
      .select(col("cnd.q_vec_id").as("q"), col("cnd.id").as("id"),
        col("cnd.rel_i").as("rel"),
        coalesce(col("sm.sims"),
          map_from_entries(array().cast("array<struct<b:long,s:long>>")))
          .as("sims"))
      .as[MmrCand]
    ds.groupByKey(_.q).mapGroups { (q, it) =>
      val cs = it.toArray
      val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (picked.length < k && picked.length < cs.length) {
        var bestId = Long.MaxValue
        var bestScore = Long.MinValue
        for (c <- cs if !picked.contains(c.id)) {
          // every candidate pair exists in sims by construction, so a
          // missing key is a bug, not a default — .apply throws
          val maxSim = if (picked.isEmpty) 0L else picked.map(c.sims).max
          val score = lambdaNum * c.rel - (lambdaDen - lambdaNum) * maxSim
          if (score > bestScore || (score == bestScore && c.id < bestId)) {
            bestScore = score; bestId = c.id
          }
        }
        picked += bestId
      }
      (q, picked.mkString(","))
    }.toDF("q_vec_id", "mmr_topk")
  }

  /** HARD-NEGATIVE MINING — contrastive-training pair generation: for
    * each anchor, the k nearest neighbors whose LABEL DIFFERS (the
    * most-confusable wrong-class examples an embedding model trains
    * against). [[knnExact]]'s shape with the label-mismatch predicate
    * fused into the join, so negatives are ranked only among rows that
    * can appear in the answer (the pre-filter argument of
    * [[filteredKnnExact]], but with a PER-ANCHOR predicate — a static
    * allowed-set cannot express "different from MY label"). Output:
    * a_vec_id, a_label, n_vec_id, n_label, cos_sim, rnk.
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val a = anchors.select(col("vec_id").as("a_vec_id"),
      col("label").cast("long").as("a_label"),
      col("embedding").as("a_emb"), norm(col("embedding")).as("a_norm"))
    val c = corpus.select(col("vec_id").as("n_vec_id"),
      col("label").cast("long").as("n_label"),
      col("embedding").as("n_emb"), norm(col("embedding")).as("n_norm"))
    val w = Window.partitionBy(col("a_vec_id"))
      .orderBy(col("cos_sim").desc, col("n_vec_id"))
    broadcast(a).join(c, col("a_label") =!= col("n_label"))
      .withColumn("cos_sim",
        dot(col("a_emb"), col("n_emb")) / (col("a_norm") * col("n_norm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("a_vec_id"), col("a_label"), col("n_vec_id"),
        col("n_label"), col("cos_sim"), col("rnk"))
  }

  /** RANKING-QUALITY EVALUATION — the offline eval pass every
    * ANN/search serving store needs: per query, recall@k, MRR and
    * NDCG@k of a PREDICTED ranking against a ground-truth ranking
    * (both as (q_vec_id, n_vec_id, rnk) relations, rnk 1-based — the
    * shape every ranking operator here emits). Gains are binary
    * (an item is relevant iff it appears in the truth top-k) and the
    * DCG discount is 1/ln(1+rnk) — the natural-log formulation both
    * engines state identically (the q42 ln rule); each discount term is
    * rounded to 1e-9 fixed point and summed as integers, so the
    * per-query scores are order-free exact ratios. A query with no hits
    * scores 0 across the board (never drops out). One equijoin on
    * (query, item) + one keyed aggregate — eval cost is the rankings'
    * size, never the corpus's.
    */
  def rankingEval(pred: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    // honor the @k contract regardless of caller input size: a predicted
    // ranking longer than k must not count hits beyond rank k into
    // recall/DCG (they'd push recall and NDCG past 1), and a truth
    // relation carrying its own rnk is cut to its top-k the same way
    val t0 =
      if (truth.columns.contains("rnk")) truth.filter(col("rnk") <= k)
      else truth
    val t = t0.select(col("q_vec_id"), col("n_vec_id"))
    val p = pred.select(col("q_vec_id"), col("n_vec_id"), col("rnk"))
      .filter(col("rnk") <= k)
    val idcg = (1 to k).map(i =>
      math.floor(1e9 / math.log(1.0 + i) + 0.5).toLong).sum
    val hits = p.join(t, Seq("q_vec_id", "n_vec_id"))
      .groupBy(col("q_vec_id"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("rnk")).as("_first"),
        sum(floor(lit(1e9) / log(col("rnk") + 1) + lit(0.5)).cast("long"))
          .as("_dcg_i"))
    truth.select(col("q_vec_id")).distinct()
      .join(hits, Seq("q_vec_id"), "left")
      .select(col("q_vec_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k)
          .as("recall_at_k"),
        coalesce(lit(1.0) / col("_first"), lit(0.0)).as("mrr"),
        (coalesce(col("_dcg_i"), lit(0L)).cast("double") / idcg).as("ndcg"))
  }

  /** Diagnostic: members per cell for a given training depth. */
  def cellSizes(corpus: DataFrame, nCells: Int, iters: Int): Array[Long] = {
    val cents = if (iters > 0) trainCentroids(corpus, nCells, iters)
                else initCentroids(corpus, nCells)
    val rows = corpus.select(nearestCell(col("embedding"), cents).as("cell"))
      .groupBy("cell").count().collect()
    val out = Array.fill(nCells)(0L)
    rows.foreach(r => out(r.getAs[Int]("cell")) = r.getAs[Long]("count"))
    out
  }
}
