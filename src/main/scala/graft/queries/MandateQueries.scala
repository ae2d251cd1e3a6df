package graft.queries

import graft.{QueryDef, Tables}
import graft.ops._
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (mandate; SURVEY §2.5 Q18–Q22
  * plus the scaled variants): dedup (exact, MinHash-LSH, SimHash,
  * embedding-cosine), similarity search (exact + ANN), text analysis,
  * multimodal binary columns.
  */
object MandateQueries {

  private val enMarkers = "'the', 'a', 'of', 'and', 'to'"

  /** Q18: exact dedup — survivor (min doc_id) and multiplicity per text. */
  val q18 = QueryDef.sql(
    "q18_dedup_exact",
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      |FROM documents GROUP BY text""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
  }

  /** Q18b: keyed dedup keeping the full earliest row per (lang, source)
    * — deterministic survivor choice via min_by, not dropDuplicates.
    */
  val q18b = QueryDef.sql(
    "q18b_dedup_keyed",
    """SELECT d.lang, d.source, d.doc_id, d.n_chars
      |FROM documents d
      |JOIN (SELECT lang, source, min(doc_id) AS m FROM documents GROUP BY lang, source) g
      |  ON d.doc_id = g.m""".stripMargin) { (spark, dir) =>
    Dedup.keepMinBy(Tables.documents(spark, dir), Seq("lang", "source"), col("doc_id"))
      .select(col("lang"), col("source"), col("doc_id"), col("n_chars"))
  }

  /** Q19: exact near-dup — 3-token-shingle Jaccard >= 0.6 (the injected
    * near-dup pairs sit at >= 0.9; background pairs at <= 0.07).
    */
  private val jaccardOracle =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, len(t) - 1),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |       FROM tok),
      |card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS c
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_id_a, doc_id_b,
      |       CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jac
      |FROM pairs
      |JOIN card ca ON doc_id_a = ca.doc_id
      |JOIN card cb ON doc_id_b = cb.doc_id
      |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.6""".stripMargin

  val q19 = QueryDef.sql("q19_neardup_jaccard", jaccardOracle) { (spark, dir) =>
    Shingles.jaccardPairs(
      Shingles.tokenShingles(Tables.documents(spark, dir), "doc_id", "text", 3), 0.6)
  }

  /** Q58: CHARACTER-5-gram Jaccard — the tokenizer-free n-gram variant
    * (whitespace-free languages; the zh slice motivates it). Exact form
    * scoped to the doc_id%50 slice: char grams over a shared small
    * vocabulary are near-universal, so the unrestricted self-join
    * fans out to ~1.5e9 intermediate pairs at sf0.1 (measured) — at
    * corpus scale char-gram near-dup runs the SAME MinHash banding as
    * q26 (charShingles emits the identical (id, s) schema, so
    * MinHashLsh composes unchanged); the slice keeps the exact
    * formulation oracle-checkable.
    */
  val q58 = QueryDef.sql(
    "q58_chargram_jaccard",
    """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, len(text) - 3),
      |                i -> substr(text, i, 5))) AS s
      |       FROM d WHERE len(text) >= 5),
      |card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS c
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_id_a, doc_id_b,
      |       CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jac
      |FROM pairs
      |JOIN card ca ON doc_id_a = ca.doc_id
      |JOIN card cb ON doc_id_b = cb.doc_id
      |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.25""".stripMargin) { (spark, dir) =>
    Shingles.jaccardPairs(
      Shingles.charShingles(
        Tables.documents(spark, dir).filter(col("doc_id") % 50 === 0),
        "doc_id", "text", 5), 0.25)
  }

  /** Q58b: charShingles → MinHash banding — the corpus-scale path for
    * q58's tokenizer-free char-gram near-dup, checked against the SAME
    * exact formulation (as q26 is vs q19) but UNsliced: the oracle's
    * self-join is feasible at the sf0.01 gate (~1.5e7 intermediate
    * pairs) while the Spark side runs banding, which is what survives
    * sf0.1+ (the exact form fans out ~1.5e9 pairs there — measured,
    * q58's scaladoc). Operating point: threshold 0.5 splits the
    * measured similarity structure (injected dups ≥ 0.93 char-jac;
    * background ≤ 0.35 — verified at sf0.01/sf0.1); 12 bands × 6 rows
    * keeps the per-pair miss p < 4e-6 at j=0.93 while background-0.3
    * pairs collide at only 0.9%, so candidates stay ~1% of all pairs
    * and banding + exact-verify reproduces the exact result.
    */
  val q58b = QueryDef.sql(
    "q58b_chargram_minhash",
    """WITH sh AS (SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, len(text) - 3),
      |                i -> substr(text, i, 5))) AS s
      |       FROM documents WHERE len(text) >= 5),
      |card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS c
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_id_a, doc_id_b,
      |       CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jac
      |FROM pairs
      |JOIN card ca ON doc_id_a = ca.doc_id
      |JOIN card cb ON doc_id_b = cb.doc_id
      |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5""".stripMargin) { (spark, dir) =>
    MinHashLsh.nearDupPairsFromShingles(
      Shingles.charShingles(Tables.documents(spark, dir), "doc_id", "text", 5),
      0.5, bands = 12, rows = 6)
  }

  /** Q26: MinHash-LSH near-dup — the 100 TB path. Same oracle as Q19:
    * with b=16/r=4 bands the miss probability at Jaccard 0.9 is ~4e-8,
    * so banding + exact-verify must reproduce the exact result.
    */
  val q26 = QueryDef.sql("q26_minhash_lsh", jaccardOracle) { (spark, dir) =>
    MinHashLsh.nearDupPairs(Tables.documents(spark, dir), "doc_id", "text", 3, 0.6)
  }

  /** Q27: SimHash near-dup, promoted into the hash gate via the
    * guarantee-band pattern (q13/q46/q54): the xxhash64-based signature
    * itself is not oracle-expressible, so the query emits what the
    * oracle CAN state — the exact-Jaccard pairs (q19's formulation) —
    * plus `coverage_ok`, the engine-checked guarantee that the SimHash
    * candidate set (Hamming ≤ 7) recovers ≥ 80% of those exact pairs
    * (the threshold SimilaritySpec pins). DuckDB states the exact pairs
    * and TRUE; the hashes agree only if the containment guarantee holds
    * in-engine, so the driver — not a self-check — certifies the
    * SimHash path.
    */
  val q27 = QueryDef.sql(
    "q27_simhash",
    s"""SELECT *, TRUE AS coverage_ok FROM ($jaccardOracle)""") { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    // the exact-pairs subtree feeds THREE consumers (found / tot / the
    // output rows); unpinned it re-evaluates the full shingle self-join
    // per consumer (guide §7.2, duplicated subtrees) — materialize once
    val exact = Shingles.jaccardPairs(
      Shingles.tokenShingles(docs, "doc_id", "text", 3), 0.6)
      .localCheckpoint(true)
    val sim = SimHash.nearDupPairs(docs, "doc_id", "text", maxHamming = 7)
      .select(col("doc_id_a"), col("doc_id_b"))
    val found = exact.join(sim, Seq("doc_id_a", "doc_id_b"), "left_semi")
      .agg(count(lit(1)).as("_nf"))
    val tot = exact.agg(count(lit(1)).as("_nt"))
    val ok = found.crossJoin(tot) // 1 row × 1 row
      .select((col("_nf").cast("double") >= lit(0.8) * col("_nt")).as("coverage_ok"))
    exact.crossJoin(broadcast(ok))
      .select(col("doc_id_a"), col("doc_id_b"), col("jac"), col("coverage_ok"))
  }

  /** Q20: exact top-5 cosine neighbors for query vectors vec_id < 10. */
  val q20 = QueryDef.sql(
    "q20_knn_cosine",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |p AS (SELECT q.vec_id AS q_vec_id, c.vec_id AS n_vec_id,
      |             list_dot_product(q.emb, c.emb) /
      |             (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS cos_sim
      |      FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |SELECT q_vec_id, n_vec_id, cos_sim, rnk FROM (
      |  SELECT p.*, row_number() OVER (PARTITION BY q_vec_id
      |                                 ORDER BY cos_sim DESC, n_vec_id) AS rnk
      |  FROM p) WHERE rnk <= 5""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    VectorSearch.knnExact(emb.filter(col("vec_id") < 10), emb, 5)
  }

  /** Q28: embedding near-dup pairs (cosine >= 0.4) — the EXACT all-pairs
    * formulation, deliberately, as the SF-BOUNDED oracle companion of
    * q28b (exactly q19's role vs q26): t=0.4 slices the bulk of an
    * isotropic similarity distribution, where sign-LSH banding cannot
    * prune (~99 % of pairs collide — r3 verdict measurement), so a
    * banded plan at this threshold pays the full all-pairs cost PLUS
    * signature/banding overhead while implying a scalability it does
    * not have. The honest contract: thresholds in banding's regime run
    * [[VectorSearch.nearDupPairsBanded]] (q28b, with the in-query
    * candidate-volume certificate); thresholds below it are an
    * all-pairs problem by nature and run only at oracle-checkable SF.
    */
  val q28 = QueryDef.sql(
    "q28_embed_neardup",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
      |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
      |       list_dot_product(a.emb, b.emb) /
      |       (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cos_sim
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.emb, b.emb) /
      |      (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4""".stripMargin) { (spark, dir) =>
    VectorSearch.nearDupPairsExact(Tables.embeddings(spark, dir), 0.4)
  }

  /** Q28b: the realistic-threshold companion of q28. q28's t=0.4 slices
    * the extreme tail of an isotropic similarity distribution, where LSH
    * candidate volume approaches all-pairs by nature (documented at
    * VectorSearch.nearDupPairsBanded); REAL near-dup thresholds sit at
    * t ≥ 0.8 where banding prunes hard. This query runs the same banded
    * path at t=0.95 with 16-plane bands (69 bands derived) and emits
    * the guarantee-band pair: `n_pairs`, the exact pair count the
    * oracle can state (0 on this isotropic data — every SF verified),
    * and `cand_frac_ok`, the engine-checked guarantee that the
    * candidate volume stayed under 1% of all n·(n−1)/2 pairs —
    * the collapse the t=0.4 operating point cannot show (measured
    * ~0.2% here vs ~99% of pairs colliding at q28's setting).
    */
  val q28b = QueryDef.sql(
    "q28b_embed_neardup_t95",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
      |SELECT count(*) AS n_pairs, TRUE AS cand_frac_ok
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.emb, b.emb) /
      |      (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.95""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    // dedup = false + countDistinct in the final aggregate: ONE pass
    // over the raw band collisions yields the exact (distinct) verified
    // pair count AND the collision volume, with no distinct stage and
    // no re-evaluation of the band join. The 1% bound is on RAW
    // collisions — an upper bound on distinct candidates, so the
    // guarantee is strictly stronger.
    val cand = VectorSearch.bandedCandidatePairs(emb, 0.95, bandPlanes = 16,
      dedup = false)
    val counts = VectorSearch.verifyPairs(cand, emb, -1.0)
      .agg(countDistinct(when(col("cos_sim") >= 0.95,
        struct(col("vec_id_a"), col("vec_id_b")))).as("n_pairs"),
        count(lit(1)).as("_nc"))
    val nTot = emb.agg((count(lit(1)) * (count(lit(1)) - 1) / 2).as("_np"))
    counts.crossJoin(nTot) // 1 row × 1 row
      .select(col("n_pairs"),
        (col("_nc").cast("double") <= lit(0.01) * col("_np")).as("cand_frac_ok"))
  }

  /** Q29: ANN via IVF coarse quantization + nprobe, promoted into the
    * hash gate via the guarantee-band pattern (q13/q46/q54): ANN recall
    * < 1 by construction, so no SQL engine can restate the IVF result —
    * instead the query emits what the oracle CAN state, the exact top-5
    * per query (q20's formulation, as an ordered id list), plus
    * `recall_ok`: the engine-checked guarantee that the IVF top-5 over
    * the Lloyd-trained quantizer recovers ≥ 60% of the exact neighbors
    * (the floor VectorSpec pins; measured 0.86–0.94). Hashes agree only
    * if the guarantee holds in-engine — the driver certifies the ANN
    * path, not a self-check.
    *
    * The quantizer is memoized per corpus dir: it is an index artifact —
    * train once, serve every query against it.
    */
  private val ivfCentroids =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Float]]]()

  /** The memoized per-corpus coarse quantizer (q29/q61/q119's shared
    * index artifact) for sibling query objects composing the maintained
    * IVF store (q138's hybrid serving).
    */
  private[queries] def ivfCentroidsFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Float]] =
    ivfCentroids.computeIfAbsent(dir, _ =>
      VectorSearch.trainCentroids(Tables.embeddings(spark, dir), 16, 3,
        sampleMod = 0))

  val q29 = QueryDef.sql(
    "q29_ann_ivf",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |p AS (SELECT q.vec_id AS q_vec_id, c.vec_id AS n_vec_id,
      |             list_dot_product(q.emb, c.emb) /
      |             (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS cos_sim
      |      FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |r AS (SELECT q_vec_id, n_vec_id,
      |             row_number() OVER (PARTITION BY q_vec_id
      |                                ORDER BY cos_sim DESC, n_vec_id) AS rnk
      |      FROM p)
      |SELECT q_vec_id,
      |       string_agg(CAST(n_vec_id AS VARCHAR), ',' ORDER BY rnk) AS exact_top5,
      |       TRUE AS recall_ok
      |FROM r WHERE rnk <= 5 GROUP BY q_vec_id""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val cents = ivfCentroids.computeIfAbsent(dir, _ =>
      VectorSearch.trainCentroids(emb, 16, 3, sampleMod = 0))
    val q = emb.filter(col("vec_id") < 10)
    val exact = VectorSearch.knnExact(q, emb, 5)
    val ivf = VectorSearch.knnIvf(q, emb, 5, centroids = Some(cents))
      .select(col("q_vec_id"), col("n_vec_id"))
    val hits = exact.select(col("q_vec_id"), col("n_vec_id"))
      .join(ivf, Seq("q_vec_id", "n_vec_id"), "left_semi")
      .agg(count(lit(1)).as("_nh"))
    val tot = exact.agg(count(lit(1)).as("_nt"))
    val ok = hits.crossJoin(tot) // 1 row × 1 row
      .select((col("_nh").cast("double") >= lit(0.6) * col("_nt")).as("recall_ok"))
    exact.groupBy(col("q_vec_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rnk"), col("n_vec_id")))),
          x => x.getField("n_vec_id").cast("string")), ",").as("exact_top5"))
      .crossJoin(broadcast(ok))
      .select(col("q_vec_id"), col("exact_top5"), col("recall_ok"))
  }

  /** Q61: IVF-PQ ANN — the memory-bound 100 TB vector path (candidates
    * carry m-byte PQ codes through the probe join, not 256-byte raw
    * vectors; ADC table-lookup scoring; exact re-rank of the ADC
    * top-32). Same guarantee-band oracle as q29: the exact top-5 the
    * oracle can state plus the engine-checked recall_ok (≥ 0.6, the
    * VectorSpec floor). Quantizer AND codebook are memoized per corpus
    * dir — index artifacts, trained once.
    */
  private val pqCodebooks =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Float]]()

  val q61 = QueryDef.sql(
    "q61_ann_ivfpq",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |p AS (SELECT q.vec_id AS q_vec_id, c.vec_id AS n_vec_id,
      |             list_dot_product(q.emb, c.emb) /
      |             (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS cos_sim
      |      FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |r AS (SELECT q_vec_id, n_vec_id,
      |             row_number() OVER (PARTITION BY q_vec_id
      |                                ORDER BY cos_sim DESC, n_vec_id) AS rnk
      |      FROM p)
      |SELECT q_vec_id,
      |       string_agg(CAST(n_vec_id AS VARCHAR), ',' ORDER BY rnk) AS exact_top5,
      |       TRUE AS recall_ok
      |FROM r WHERE rnk <= 5 GROUP BY q_vec_id""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val cents = ivfCentroids.computeIfAbsent(dir, _ =>
      VectorSearch.trainCentroids(emb, 16, 3, sampleMod = 0))
    val cb = pqCodebooks.computeIfAbsent(dir, _ =>
      VectorSearch.trainPqCodebook(emb))
    val q = emb.filter(col("vec_id") < 10)
    val exact = VectorSearch.knnExact(q, emb, 5)
    val pq = VectorSearch.knnIvfPq(q, emb, 5,
      centroids = Some(cents), codebook = Some(cb))
      .select(col("q_vec_id"), col("n_vec_id"))
    val hits = exact.select(col("q_vec_id"), col("n_vec_id"))
      .join(pq, Seq("q_vec_id", "n_vec_id"), "left_semi")
      .agg(count(lit(1)).as("_nh"))
    val tot = exact.agg(count(lit(1)).as("_nt"))
    val ok = hits.crossJoin(tot) // 1 row × 1 row
      .select((col("_nh").cast("double") >= lit(0.6) * col("_nt")).as("recall_ok"))
    exact.groupBy(col("q_vec_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rnk"), col("n_vec_id")))),
          x => x.getField("n_vec_id").cast("string")), ",").as("exact_top5"))
      .crossJoin(broadcast(ok))
      .select(col("q_vec_id"), col("exact_top5"), col("recall_ok"))
  }

  /** Q21: top-20 tokens over the English slice. */
  val q21 = QueryDef.sql(
    "q21_text_tokens",
    """SELECT token, count(*) AS cnt FROM (
      |  SELECT unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE lang = 'en')
      |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin) { (spark, dir) =>
    TextAnalysis.topTokens(
      Tables.documents(spark, dir).filter(col("lang") === "en"), "text", 20)
  }

  /** Q30: language-ID heuristic (marker-stopword argmax). */
  val q30 = QueryDef.sql(
    "q30_langid",
    s"""WITH sc AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
       |s AS (SELECT doc_id, lang,
       |        len(list_filter(t, x -> x IN ($enMarkers))) AS s_en,
       |        len(list_filter(t, x -> x IN ('el', 'la', 'de', 'y', 'los'))) AS s_es,
       |        len(list_filter(t, x -> x IN ('le', 'les', 'des', 'et', 'une'))) AS s_fr,
       |        len(list_filter(t, x -> x IN ('der', 'die', 'und', 'das', 'ein'))) AS s_de,
       |        len(list_filter(t, x -> x IN ('的', '是', '了', '在', '我'))) AS s_zh
       |      FROM sc)
       |SELECT doc_id, lang,
       |       CASE WHEN s_en = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_en > 0 THEN 'en'
       |            WHEN s_es = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_es > 0 THEN 'es'
       |            WHEN s_fr = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_fr > 0 THEN 'fr'
       |            WHEN s_de = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_de > 0 THEN 'de'
       |            WHEN s_zh = greatest(s_en, s_es, s_fr, s_de, s_zh) AND s_zh > 0 THEN 'zh'
       |            ELSE 'und' END AS pred_lang
       |FROM s""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("pred_lang"))
  }

  /** Q31: quality features per document. */
  val q31 = QueryDef.sql(
    "q31_quality",
    s"""SELECT doc_id,
       |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |       CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
       |         / len(string_split(text, ' ')) AS avg_token_len,
       |       CAST(len(list_filter(string_split(text, ' '), x -> x IN ($enMarkers))) AS DOUBLE)
       |         / len(string_split(text, ' ')) AS stopword_ratio,
       |       length(text) = n_chars AS len_valid
       |FROM documents""".stripMargin) { (spark, dir) =>
    TextAnalysis.qualityFeatures(Tables.documents(spark, dir), "text", "n_chars")
      .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
        col("stopword_ratio"), col("len_valid"))
  }

  /** Q32: token counting (whitespace + BPE-ish regex) per source. */
  val q32 = QueryDef.sql(
    "q32_tokencount",
    """SELECT source,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
      |       CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS re_tokens,
      |       count(*) AS n_docs
      |FROM documents GROUP BY source""".stripMargin) { (spark, dir) =>
    val (ws, re) = TextAnalysis.tokenCounts(col("text"))
    Tables.documents(spark, dir)
      .select(col("source"), ws.as("ws"), re.as("re"))
      .groupBy(col("source"))
      .agg(sum(col("ws")).as("ws_tokens"), sum(col("re")).as("re_tokens"),
        count(lit(1)).as("n_docs"))
  }

  /** Q33: rolling-hash fingerprint per document. */
  val q33 = QueryDef.sql(
    "q33_fingerprint",
    """SELECT doc_id,
      |       list_reduce(list_prepend(CAST(0 AS BIGINT),
      |         list_transform(string_split(text, ' '),
      |           t -> CAST(ascii(t) * 131 + length(t) AS BIGINT))),
      |         (a, e) -> (a * 1000003 + e) % 2147483647) AS fp
      |FROM documents""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint("text").as("fp"))
  }

  /** Q59: repetition-based quality signals (the Gopher-rules family) —
    * dup-token / dup-trigram / dominant-bigram fractions per document;
    * the strongest single boilerplate/machine-junk predictor a curation
    * pipeline runs after the q31 surface features. All three are single
    * divisions of exactly-counted integers, so the doubles are
    * bitwise-stable across engines.
    */
  val q59 = QueryDef.sql(
    "q59_repetition",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |uni AS (SELECT doc_id, unnest(t) AS g FROM tok),
      |u AS (SELECT doc_id, count(*) AS nt, count(DISTINCT g) AS nd
      |      FROM uni GROUP BY doc_id),
      |big AS (SELECT doc_id,
      |          unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
      |        FROM tok WHERE len(t) >= 2),
      |bc AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2),
      |b AS (SELECT doc_id, sum(c) AS nt, max(c) AS mx FROM bc GROUP BY doc_id),
      |trig AS (SELECT doc_id,
      |           unnest(list_transform(range(1, len(t) - 1),
      |                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      |         FROM tok WHERE len(t) >= 3),
      |tc AS (SELECT doc_id, g, count(*) AS c FROM trig GROUP BY 1, 2),
      |tr AS (SELECT doc_id, count(*) AS nd, sum(c) AS nt FROM tc GROUP BY doc_id)
      |SELECT u.doc_id,
      |       1.0 - CAST(u.nd AS DOUBLE) / u.nt AS dup_token_frac,
      |       CAST(b.mx AS DOUBLE) * 2 / (b.nt + 1) AS top_bigram_frac,
      |       1.0 - CAST(tr.nd AS DOUBLE) / tr.nt AS dup_trigram_frac
      |FROM u JOIN b ON u.doc_id = b.doc_id
      |JOIN tr ON u.doc_id = tr.doc_id""".stripMargin) { (spark, dir) =>
    TextAnalysis.repetitionSignals(Tables.documents(spark, dir), "doc_id", "text")
  }

  /** Q22: binary payload round-trip — BinaryType flowing through
    * projection with encode/base64.
    */
  val q22 = QueryDef.sql(
    "q22_multimodal_roundtrip",
    """SELECT doc_id,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |       substr(to_base64(encode(text)), 1, 16) AS b64_prefix
      |FROM documents""".stripMargin) { (spark, dir) =>
    Multimodal.withBinaryPayload(Tables.documents(spark, dir))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        substring(base64(col("payload")), 1, 16).as("b64_prefix"))
  }

  /** Q34: REAL audio/video container metadata — WAV (odd ids) and MP4
    * (even ids) payloads synthesized as genuine containers, then parsed
    * back by the RIFF-chunk / ISO-BMFF-box walk (Multimodal.decodeAv).
    * The oracle states every field as doc_id arithmetic, but the values
    * only match if real bytes survive a real encoder AND a real header
    * parse — q89's certification pattern for the audio/video path.
    */
  val q34 = QueryDef.sql(
    "q34_multimodal_meta",
    """SELECT doc_id,
      |       CASE WHEN doc_id % 2 = 1
      |            THEN CAST(44 + (doc_id % 100 + 10) * (1 + (doc_id // 2) % 2) * 2 AS BIGINT)
      |            ELSE CAST(140 + (doc_id % 3 + 1) * 8 AS BIGINT) END AS n_bytes,
      |       CASE WHEN doc_id % 2 = 1 THEN 'wav' ELSE 'mp4' END AS format,
      |       CASE WHEN doc_id % 2 = 1
      |            THEN CAST((doc_id % 100 + 10) * 1000 // (8000 * (1 + doc_id % 3)) AS BIGINT)
      |            ELSE CAST((doc_id % 9000 + 1000) * 1000 // (1000 * (1 + doc_id % 3)) AS BIGINT)
      |            END AS duration_ms,
      |       CASE WHEN doc_id % 2 = 1 THEN CAST(8000 * (1 + doc_id % 3) AS INTEGER)
      |            ELSE -1 END AS sample_rate,
      |       CASE WHEN doc_id % 2 = 1 THEN CAST(1 + (doc_id // 2) % 2 AS INTEGER)
      |            ELSE CAST(doc_id % 3 + 1 AS INTEGER) END AS n_tracks
      |FROM documents""".stripMargin) { (spark, dir) =>
    Multimodal.decodeAvMeta(spark,
      Multimodal.avPayloads(spark, Tables.documents(spark, dir))).toDF()
  }

  /** Q104: REAL audio sample analysis — PCM needs no codec: the WAV
    * data chunk IS the 16-bit LE samples. One mapPartitions pass folds
    * integer-exact stats (Σ|s|, peak |s|, strict sign changes), and the
    * oracle RECONSTRUCTS every sample from the synthesis arithmetic
    * (byte i = (doc_id·31+i) mod 256) — so the row only matches if the
    * bytes written by the real WAV encoder are parsed back sample-exact
    * through the real chunk walk. Closes the audio path beyond headers.
    */
  val q104 = QueryDef.sql(
    "q104_audio_pcm_stats",
    """WITH w AS (SELECT doc_id,
      |             (doc_id % 100 + 10) * (1 + (doc_id // 2) % 2) AS n
      |           FROM documents WHERE doc_id % 2 = 1),
      |j AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM w),
      |sv AS (SELECT doc_id, n, i,
      |         CASE WHEN ((doc_id * 31 + 2*i) % 256) + 256 * ((doc_id * 31 + 2*i + 1) % 256) >= 32768
      |              THEN ((doc_id * 31 + 2*i) % 256) + 256 * ((doc_id * 31 + 2*i + 1) % 256) - 65536
      |              ELSE ((doc_id * 31 + 2*i) % 256) + 256 * ((doc_id * 31 + 2*i + 1) % 256) END AS s
      |       FROM j),
      |x AS (SELECT doc_id, n, s,
      |        lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
      |      FROM sv)
      |SELECT doc_id,
      |       CAST(max(n) AS BIGINT) AS n_samples,
      |       CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
      |       CAST(max(abs(s)) AS INTEGER) AS peak_abs,
      |       CAST(count(*) FILTER (WHERE prev IS NOT NULL AND prev * s < 0) AS BIGINT)
      |         AS n_sign_changes
      |FROM x GROUP BY doc_id""".stripMargin) { (spark, dir) =>
    val odd = Tables.documents(spark, dir).filter(col("doc_id") % 2 === 1)
    Multimodal.decodeWavPcmStats(spark, Multimodal.avPayloads(spark, odd)).toDF()
  }

  /** Q106: REAL audio resampling certified end-to-end — each WAV is
    * decimated 2× (every other sample FRAME kept, rate halved, valid
    * container out), then BOTH the header re-parse (sample_rate) and
    * the sample-exact PCM stats of the decimated stream must match the
    * oracle's reconstruction from the synthesis arithmetic restricted
    * to even frames. A wrong frame stride, channel misalignment, or a
    * stale header field all break the hash.
    */
  val q106 = QueryDef.sql(
    "q106_audio_resample",
    """WITH w AS (SELECT doc_id,
      |             doc_id % 100 + 10 AS nf,
      |             1 + (doc_id // 2) % 2 AS ch,
      |             8000 * (1 + doc_id % 3) AS rate
      |           FROM documents WHERE doc_id % 2 = 1),
      |f AS (SELECT doc_id, nf, ch, rate, unnest(range(0, nf)) AS fr FROM w),
      |v AS (SELECT doc_id, ch, rate, fr, unnest(range(0, ch)) AS c
      |      FROM f WHERE fr % 2 = 0),
      |sv AS (SELECT doc_id, rate,
      |         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
      |       FROM (SELECT *,
      |               ((doc_id * 31 + 2 * (fr * ch + c)) % 256)
      |               + 256 * ((doc_id * 31 + 2 * (fr * ch + c) + 1) % 256) AS u
      |             FROM v))
      |SELECT doc_id,
      |       CAST(max(rate) // 2 AS INTEGER) AS sample_rate,
      |       CAST(count(*) AS BIGINT) AS n_samples,
      |       CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
      |       CAST(max(abs(s)) AS INTEGER) AS peak_abs
      |FROM sv GROUP BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // one mapPartitions pass: synthesize → decimate → header re-parse +
    // PCM stats together (two separate frames would re-run the whole
    // synthesis lineage per branch)
    Tables.documents(spark, dir).filter(col("doc_id") % 2 === 1)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val res = Multimodal.resampleWav(Multimodal.synthesizeWav(id), 2)
        val meta = Multimodal.decodeAv(id, res)
        val pcm = Multimodal.decodeWavPcm(id, res)
        (id, meta.sample_rate, pcm.n_samples, pcm.sum_abs, pcm.peak_abs)
      })
      .toDF("doc_id", "sample_rate", "n_samples", "sum_abs", "peak_abs")
  }

  /** Q107: REAL MP4 sample-table scan — per-sample sizes (stsz) and
    * tick durations (stts) parsed out of a genuine nested
    * moov/trak/mdia/minf/stbl structure. These tables are what a
    * 100 TB video scanner reads to plan chunk splits without touching
    * media data. Oracle reconstructs the same totals from the synthesis
    * arithmetic; a wrong nesting walk or entry offset breaks the hash.
    */
  val q107 = QueryDef.sql(
    "q107_video_sample_table",
    """WITH w AS (SELECT doc_id, doc_id % 50 + 5 AS ns, 100 + doc_id % 10 AS delta
      |           FROM documents WHERE doc_id % 2 = 0),
      |j AS (SELECT doc_id, ns, delta, unnest(range(0, ns)) AS s FROM w),
      |sz AS (SELECT doc_id, ns, delta, (doc_id * 13 + s * 7) % 900 + 100 AS b FROM j)
      |SELECT doc_id,
      |       CAST(max(ns) AS BIGINT) AS n_samples,
      |       CAST(sum(b) AS BIGINT) AS total_sample_bytes,
      |       CAST(max(b) AS INTEGER) AS max_sample_bytes,
      |       CAST(max(ns) * max(delta) AS BIGINT) AS total_ticks
      |FROM sz GROUP BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        Multimodal.decodeMp4Samples(id, Multimodal.synthesizeMp4WithSamples(id))
      }).toDF()
  }

  /** Q108: windowed audio features — 8-frame windows at a 4-frame hop
    * over each WAV's decoded PCM stream (frame-aligned: channels of a
    * frame stay together), integer-exact energy stats per window. The
    * 1-blob → N-feature-rows batch shape of audio feature extraction,
    * certified by the oracle's sample reconstruction over each window's
    * frame range.
    */
  val q108 = QueryDef.sql(
    "q108_audio_windows",
    """WITH w AS (SELECT doc_id, doc_id % 100 + 10 AS nf, 1 + (doc_id // 2) % 2 AS ch
      |           FROM documents WHERE doc_id % 2 = 1),
      |wi AS (SELECT doc_id, nf, ch, unnest(range(0, (nf + 3) // 4)) AS win FROM w),
      |fr AS (SELECT doc_id, nf, ch, win,
      |              unnest(range(win * 4, least(win * 4 + 8, nf))) AS fm FROM wi),
      |v AS (SELECT doc_id, ch, win, fm, unnest(range(0, ch)) AS c FROM fr),
      |sv AS (SELECT doc_id, win,
      |         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
      |       FROM (SELECT *,
      |               ((doc_id * 31 + 2 * (fm * ch + c)) % 256)
      |               + 256 * ((doc_id * 31 + 2 * (fm * ch + c) + 1) % 256) AS u
      |             FROM v))
      |SELECT doc_id, CAST(win AS BIGINT) AS win_idx,
      |       CAST(count(*) AS BIGINT) AS n_values,
      |       CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
      |       CAST(max(abs(s)) AS INTEGER) AS peak_abs
      |FROM sv GROUP BY doc_id, win""".stripMargin) { (spark, dir) =>
    val odd = Tables.documents(spark, dir).filter(col("doc_id") % 2 === 1)
    Multimodal.audioWindows(spark, Multimodal.avPayloads(spark, odd), 8, 4).toDF()
  }

  /** Q117: REAL video frame extraction — every sample's byte range
    * sliced out of the mdat by the container's OWN index (stsz sizes +
    * stco chunk offset, Multimodal.frameSample), one row per extracted
    * frame. The oracle reconstructs each frame's length and its first/
    * last media byte from the synthesis arithmetic in closed form, so
    * any slicing error — wrong chunk offset, off-by-one at either
    * boundary, cumulative drift across samples — breaks the hash.
    * Byte-for-byte equality of whole frames is pinned in MultimodalSpec.
    */
  val q117 = QueryDef.sql(
    "q117_video_frame_extract",
    """WITH w AS (SELECT doc_id, doc_id % 50 + 5 AS ns
      |           FROM documents WHERE doc_id % 2 = 0),
      |j AS (SELECT doc_id, unnest(range(0, ns)) AS f FROM w),
      |x AS (SELECT doc_id, f, (doc_id * 13 + f * 7) % 900 + 100 AS len FROM j)
      |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
      |       CAST(len AS BIGINT) AS n_bytes,
      |       CAST((doc_id * 31 + f * 7) % 251 AS INTEGER) AS first_byte,
      |       CAST((doc_id * 31 + f * 7 + (len - 1) * 3) % 251 AS INTEGER) AS last_byte
      |FROM x""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val payloads = Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, Multimodal.synthesizeMp4WithSamples(id))))
      .toDF("doc_id", "payload")
    Multimodal.frameSample(spark, payloads)
      .map(fr => (fr.doc_id, fr.frame_idx, fr.frame_bytes.length.toLong,
        fr.frame_bytes.head & 0xff, fr.frame_bytes.last & 0xff))
      .toDF("doc_id", "frame_idx", "n_bytes", "first_byte", "last_byte")
  }

  /** Q66: unigram-LM perplexity proxy (CCNet-style quality band) — see
    * TextAnalysis.unigramLogProb for the broadcast-model shape.
    */
  val q66 = QueryDef.sql(
    "q66_unigram_logprob",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tf AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
      |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM tf),
      |lp AS (SELECT token, -ln((cnt + 0.5) / (n + 0.5 * v)) AS nll
      |       FROM tf CROSS JOIN tot)
      |SELECT doc_id, avg(nll) AS avg_nll, CAST(count(*) AS BIGINT) AS n_tokens
      |FROM tok JOIN lp USING (token) GROUP BY doc_id""".stripMargin) { (spark, dir) =>
    TextAnalysis.unigramLogProb(Tables.documents(spark, dir), "doc_id", "text")
  }

  /** Q67: PII detection + redaction. The synthetic corpus carries no
    * PII, so the query first composes a PII-bearing column from
    * doc_id-derived values — IDENTICALLY on both sides (the fixture is
    * part of the query, like q14's scalar-function table) — then runs
    * the real operator: per-rule regex match counts on the raw text and
    * sequential redaction into `clean`. Patterns are RE2-compatible so
    * Java regex (engine) and RE2 (DuckDB) agree match-for-match; the
    * full redacted text is hash-compared, not just the counts.
    */
  val q67 = QueryDef.sql(
    "q67_pii_redact", {
      val Seq(email, ip, phone) = Pii.defaultRules.map(_.pattern)
      s"""WITH d AS (SELECT doc_id,
         |  text || ' contact user' || doc_id || '@example.com or admin@test.org from 10.'
         |       || (doc_id % 200) || '.0.' || (doc_id % 250)
         |       || ' call 555-01' || (doc_id % 90 + 10) AS txt
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(txt, '$email')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(txt, '$ip')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(txt, '$phone')) AS BIGINT) AS n_phone,
         |  regexp_replace(regexp_replace(regexp_replace(txt,
         |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$phone', '<PHONE>', 'g') AS clean
         |FROM d""".stripMargin
    }) { (spark, dir) =>
    val withPii = Tables.documents(spark, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or admin@test.org from 10."),
        (col("doc_id") % 200).cast("string"), lit(".0."),
        (col("doc_id") % 250).cast("string"),
        lit(" call 555-01"), (col("doc_id") % 90 + 10).cast("string")).as("txt"))
    Pii.detectAndRedact(withPii, "txt")
      .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"), col("clean"))
  }

  /** Q70: kNN majority-vote label classification over the embeddings
    * table's `label` column — the weak-annotation pass (label an item
    * from its nearest labeled neighbors). Deterministic end to end:
    * neighbor rank breaks ties on n_vec_id (q20's contract), the vote
    * breaks ties on the smallest label.
    */
  val q70 = QueryDef.sql(
    "q70_knn_classify",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
      |p AS (SELECT q.vec_id AS q_vec_id, c.vec_id AS n_vec_id, c.label AS n_label,
      |             list_dot_product(q.emb, c.emb) /
      |             (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS cos_sim
      |      FROM e q JOIN e c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
      |r AS (SELECT q_vec_id, n_label,
      |             row_number() OVER (PARTITION BY q_vec_id
      |                                ORDER BY cos_sim DESC, n_vec_id) AS rnk
      |      FROM p),
      |v AS (SELECT q_vec_id, n_label, count(*) AS votes
      |      FROM r WHERE rnk <= 5 GROUP BY 1, 2),
      |w AS (SELECT q_vec_id, n_label, votes,
      |             row_number() OVER (PARTITION BY q_vec_id
      |                                ORDER BY votes DESC, n_label) AS vr
      |      FROM v)
      |SELECT w.q_vec_id, CAST(w.n_label AS BIGINT) AS pred_label, w.votes,
      |       CAST(e.label AS BIGINT) AS label,
      |       w.n_label = e.label AS correct
      |FROM w JOIN e ON w.q_vec_id = e.vec_id WHERE vr = 1""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    VectorSearch.knnClassify(emb.filter(col("vec_id") < 50), emb, 5)
  }

  /** Q73: bigram-LM perplexity proxy — the conditional companion of q66
    * (see TextAnalysis.bigramLogProb for the model shape).
    */
  val q73 = QueryDef.sql(
    "q73_bigram_logprob",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
      |                i -> t[i] || ' ' || t[i+1])) AS s
      |       FROM tok WHERE len(t) >= 2),
      |cb AS (SELECT s, count(*) AS cb FROM bg GROUP BY s),
      |c1 AS (SELECT string_split(s, ' ')[1] AS w1, CAST(sum(cb) AS DOUBLE) AS c1
      |       FROM cb GROUP BY 1),
      |vv AS (SELECT CAST(count(DISTINCT string_split(s, ' ')[2]) AS DOUBLE) AS v FROM cb),
      |lp AS (SELECT s, -ln((cb + 0.5) / (c1 + 0.5 * v)) AS nll
      |       FROM cb JOIN c1 ON string_split(s, ' ')[1] = w1 CROSS JOIN vv)
      |SELECT doc_id, avg(nll) AS avg_nll, CAST(count(*) AS BIGINT) AS n_bigrams
      |FROM bg JOIN lp USING (s) GROUP BY doc_id""".stripMargin) { (spark, dir) =>
    TextAnalysis.bigramLogProb(Tables.documents(spark, dir), "doc_id", "text")
  }

  /** Q77: winnowing fingerprints (k=5 token grams, w=4 windows) — the
    * MOSS selection over q33's rolling hash; see TextAnalysis.winnow.
    */
  val q77 = QueryDef.sql(
    "q77_winnow",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |g AS (SELECT doc_id,
      |        list_transform(range(0, len(t) - 4), i ->
      |          list_reduce(list_prepend(CAST(0 AS BIGINT),
      |            list_transform(range(0, 5), j ->
      |              CAST(ascii(t[i + j + 1]) * 131 + length(t[i + j + 1]) AS BIGINT))),
      |            (a, e) -> (a * 1000003 + e) % 2147483647)) AS g
      |      FROM tok WHERE len(t) >= 8)
      |SELECT doc_id,
      |       unnest(list_distinct(list_transform(range(0, len(g) - 3), i ->
      |         list_min(list_slice(g, i + 1, i + 4))))) AS fp
      |FROM g""".stripMargin) { (spark, dir) =>
    TextAnalysis.winnow(Tables.documents(spark, dir), "doc_id", "text", 5, 4)
  }

  /** Q84: semantic dedup (VectorSearch.semanticDedup) at the
    * oracle-checkable operating point — cells are the argmax embedding
    * dimension (SQL-stateable exactly; production swaps in q29's IVF
    * cells, same operator). Threshold 0.2 ≈ 1.6σ of this isotropic
    * corpus's cosine distribution, so the within-cell drop set is
    * non-trivial; real embedding spaces run the recipe at ≥ 0.9.
    */
  val q84 = QueryDef.sql(
    "q84_semantic_dedup",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |c AS (SELECT vec_id, emb,
      |        CAST(list_position(emb, list_max(emb)) AS BIGINT) AS cell FROM e),
      |d AS (SELECT DISTINCT b.vec_id
      |      FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |      WHERE list_dot_product(a.emb, b.emb) /
      |            (sqrt(list_dot_product(a.emb, a.emb)) *
      |             sqrt(list_dot_product(b.emb, b.emb))) >= 0.2)
      |SELECT vec_id, cell FROM c
      |WHERE vec_id NOT IN (SELECT vec_id FROM d)""".stripMargin) { (spark, dir) =>
    VectorSearch.semanticDedup(Tables.embeddings(spark, dir),
      array_position(col("embedding"), array_max(col("embedding"))), 0.2)
  }

  /** Q89: REAL image decode (Multimodal.decodeImage) — genuine tiny
    * PNG/JPEG payloads synthesized per document (dims and container from
    * doc_id arithmetic), then width/height/format/frame-count parsed
    * back from the CONTAINER HEADER by the JDK's ImageIO readers. The
    * oracle restates the arithmetic; the values only match because the
    * bytes survive a real encoder AND a real header parse — the gate
    * certifies the codec round-trip, not a formula. n_bytes is excluded
    * deliberately: encoded size is codec-internal, nothing external can
    * state it.
    */
  val q89 = QueryDef.sql(
    "q89_image_decode",
    """SELECT doc_id,
      |       CAST(doc_id % 64 + 1 AS INTEGER) AS width,
      |       CAST((doc_id * 7) % 48 + 1 AS INTEGER) AS height,
      |       CAST(1 AS INTEGER) AS n_frames,
      |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
      |FROM documents""".stripMargin) { (spark, dir) =>
    Multimodal.decodeImageMeta(spark,
      Multimodal.imagePayloads(spark, Tables.documents(spark, dir)))
      .toDF()
      .select(col("doc_id"), col("width"), col("height"),
        col("n_frames"), col("format"))
  }

  /** Q118: CDC-MAINTAINED near-dup index — the flagship dedup operator
    * (q26's banding) lifted onto the flagship CDC machinery: a
    * deterministic documents change feed (inserts, text revisions,
    * deletes — ChangeFeed.documentsFromTestData) drives a streaming
    * LSH index (MinHashLsh.indexDeltaStream) whose candidate-pair
    * SUPPORT DELTAS are materialized as a second-order delta log; the
    * query folds the live pairs and exact-verifies them against the
    * log's current corpus. The oracle rebuilds the post-traffic corpus
    * arithmetically (the feed's stated LWW outcome) and states the
    * exact Jaccard pairs — so a revision that moves a document's
    * buckets, and a deletion that retracts its pairs, must both be
    * reflected by the maintained index for the hash to match.
    *
    * Scale: each document delta costs `bands` bucket rows (never corpus
    * size); bucket state = bands × live docs; the verify joins only the
    * folded candidates. Recall at the 0.6 threshold rides the same
    * measured bimodal structure as q26 (true pairs ≥ ~0.85 even after
    * the 2-token revision suffix — miss p < 1e-5; background ≤ 0.3).
    */
  val q118 = QueryDef.sql(
    "q118_cdc_lsh_index",
    """WITH cur AS (SELECT doc_id,
      |         CASE WHEN doc_id % 3 = 0 THEN text || ' revised edition'
      |              ELSE text END AS text
      |       FROM documents WHERE doc_id % 5 <> 0),
      |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM cur),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, len(t) - 1),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |       FROM tok),
      |card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS c
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_id_a, doc_id_b,
      |       CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jac
      |FROM pairs
      |JOIN card ca ON doc_id_a = ca.doc_id
      |JOIN card cb ON doc_id_b = cb.doc_id
      |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.6""".stripMargin) { (spark, dir) =>
    import graft.cdc.DeltaLog
    val live = MinHashLsh.livePairs(DeltaLog.documentsPairDeltas(spark, dir))
    val cur = DeltaLog.currentRows(DeltaLog.documentsDeltas(spark, dir))
      .select(col("key").cast("long").as("doc_id"),
        get_json_object(col("rowJson"), "$.text").as("text"))
    // persisted: BOTH verify sides read one build of the shingle-set
    // aggregate (2.70s → 0.51s at sf0.1). persist over localCheckpoint
    // deliberately: CacheManager dedupes the identical plan, so
    // repeated runs hold ONE bounded copy that stays WARM (an eager
    // localCheckpoint re-materializes per run — measured 3.6× slower in
    // the bench loop), the same lazy-cache tradeoff q26's docState
    // documents
    val st = MinHashLsh.shingleSets(cur, "doc_id", "text", 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = st.select(col("id").as("id_a"), col("ss").as("ssa"))
    val b = st.select(col("id").as("id_b"), col("ss").as("ssb"))
    live.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("c", size(array_intersect(col("ssa"), col("ssb"))).cast("long"))
      .withColumn("jac", col("c").cast("double") /
        (size(col("ssa")) + size(col("ssb")) - col("c")))
      .filter(col("jac") >= 0.6)
      .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"), col("jac"))
  }

  /** Q119: CDC-MAINTAINED IVF ANN index — q29's index under churn. A
    * deterministic embeddings change feed (snapshot, elementwise
    * NEGATION for id%3==0 — cosine geometry actually moves — delete for
    * id%5==0) drives stateless ±posting maintenance against the
    * bootstrap-trained coarse quantizer (VectorSearch.postingDeltas:
    * the CDC delta's prev row gives the old cell, so no state, no
    * lookup); the query folds the live postings and serves top-5 from
    * the maintained index. Guarantee-band oracle (q29's pattern): the
    * exact top-5 over the post-traffic corpus — which DuckDB rebuilds
    * arithmetically from the feed's stated LWW outcome — plus the
    * engine-checked recall certificate of the served index (>= 0.6 at
    * 16 cells x 4 probes). A vector the feed deleted must be absent
    * from the index and a negated one must rank under its NEW direction
    * for the hash to match.
    */
  val q119 = QueryDef.sql(
    "q119_cdc_ivf_index",
    """WITH e AS (SELECT vec_id,
      |         CASE WHEN vec_id % 3 = 0
      |              THEN list_transform(CAST(embedding AS DOUBLE[]), x -> -x)
      |              ELSE CAST(embedding AS DOUBLE[]) END AS emb
      |       FROM embeddings WHERE vec_id % 5 <> 0),
      |p AS (SELECT q.vec_id AS q_vec_id, c.vec_id AS n_vec_id,
      |             list_dot_product(q.emb, c.emb) /
      |             (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS cos_sim
      |      FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |r AS (SELECT q_vec_id, n_vec_id,
      |             row_number() OVER (PARTITION BY q_vec_id
      |                                ORDER BY cos_sim DESC, n_vec_id) AS rnk
      |      FROM p)
      |SELECT q_vec_id,
      |       string_agg(CAST(n_vec_id AS VARCHAR), ',' ORDER BY rnk) AS exact_top5,
      |       TRUE AS recall_ok
      |FROM r WHERE rnk <= 5 GROUP BY q_vec_id""".stripMargin) { (spark, dir) =>
    import graft.cdc.DeltaLog
    val cents = ivfCentroids.computeIfAbsent(dir, _ =>
      VectorSearch.trainCentroids(Tables.embeddings(spark, dir), 16, 3, sampleMod = 0))
    val postings = VectorSearch.livePostings(
      VectorSearch.postingDeltas(DeltaLog.embeddingsDeltas(spark, dir), cents))
    val corpus = postings.select(col("vec_id"), col("embedding"))
    val qv = corpus.filter(col("vec_id") < 10)
    val exact = VectorSearch.knnExact(qv, corpus, 5)
    val ivf = VectorSearch.knnIvfFromPostings(qv, postings, 5, cents)
      .select(col("q_vec_id"), col("n_vec_id"))
    val hits = exact.select(col("q_vec_id"), col("n_vec_id"))
      .join(ivf, Seq("q_vec_id", "n_vec_id"), "left_semi")
      .agg(count(lit(1)).as("_nh"))
    val tot = exact.agg(count(lit(1)).as("_nt"))
    val ok = hits.crossJoin(tot) // 1 row × 1 row
      .select((col("_nh").cast("double") >= lit(0.6) * col("_nt")).as("recall_ok"))
    exact.groupBy(col("q_vec_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rnk"), col("n_vec_id")))),
          x => x.getField("n_vec_id").cast("string")), ",").as("exact_top5"))
      .crossJoin(broadcast(ok))
      .select(col("q_vec_id"), col("exact_top5"), col("recall_ok"))
  }

  /** Q143: the ES-MIRROR ANN SERVING PIPELINE under the oracle gate —
    * [[graft.streaming.AnnServingPipeline]] driven end to end (staged
    * embeddings CDC feed → checkpointed delta log → stateless ±IVF
    * postings → keyed JDBC MERGE) with the consumer-facing document
    * MIRROR enabled: one ES document per served vector, delivered
    * deletes-before-upserts under the batch-progress marker through
    * [[graft.sinks.EsSink.FileDocStore]]. The query bulk-reads the
    * mirrored store back and returns, per document, a fixed-point
    * vector fingerprint (sum of floor(x·1e6) — order-free integer
    * arithmetic both engines state identically) plus an engine-checked
    * `cell_ok` (the document's advisory cell equals the quantizer's
    * assignment of its own vector — the quantizer is Lloyd-trained and
    * not SQL-restatable, so consistency is certified in-query, q29's
    * guarantee-band pattern). The oracle restates the post-traffic live
    * set arithmetically (%3 negation, %5 delete): a deleted vector's
    * document surviving, a negated vector serving its OLD direction, or
    * a stale cell all break the match. q119 certifies the maintained
    * index; this certifies what an ES consumer actually reads.
    */
  val q143 = QueryDef.sql(
    "q143_es_ann_serving",
    """WITH e AS (SELECT vec_id,
      |         CASE WHEN vec_id % 3 = 0
      |              THEN list_transform(CAST(embedding AS DOUBLE[]), x -> -x)
      |              ELSE CAST(embedding AS DOUBLE[]) END AS emb
      |       FROM embeddings WHERE vec_id % 5 <> 0)
      |SELECT vec_id, CAST(len(emb) AS INT) AS dim,
      |       CAST(list_aggregate(list_transform(emb,
      |              x -> CAST(floor(x * 1000000.0) AS BIGINT)), 'sum')
      |            AS BIGINT) AS emb_fp,
      |       TRUE AS cell_ok
      |FROM e""".stripMargin) { (spark, dir) =>
    import graft.cdc.{ChangeFeed, DeltaLog}
    import graft.streaming.{AnnServingPipeline, EsTarget}
    val cents = ivfCentroidsFor(spark, dir)
    val feed = ChangeFeed.stagedEmbeddingsJsonl(spark, dir)
    val base = PipelineQueries.driveBase(spark, "esann", dir, "embeddings")
    val store = s"$base/store"
    val url = s"jdbc:derby:$base/derby;create=true"
    val pipeline = AnnServingPipeline(
      name = "q143", databases = Set("shop"), table = "embeddings",
      idField = "vec_id", vectorField = "embedding", cents = cents,
      jdbcUrl = url, postingsTable = "postings_q143",
      esMirror = Some(EsTarget("http://graft-local/vecs_q143", "graft", "graft")))
    DeltaLog.withBuildLock(base) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(store))
      graft.sinks.JdbcSink.createTableIfAbsent(url,
        PipelineQueries.vecPostingsDdl("postings_q143"))
      pipeline.runOnce(spark, feed, s"$base/work",
        esTransport = new graft.sinks.EsSink.FileDocStore(store))
    }
    val docs = PipelineQueries.readDocStore(spark, store,
      org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, cell INT, emb_json STRING"))
      .select(col("vec_id"), col("cell"),
        from_json(col("emb_json"), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)).as("emb"))
    docs.select(col("vec_id"),
      size(col("emb")).as("dim"),
      aggregate(transform(col("emb"),
          x => floor(x.cast("double") * lit(1000000.0d))),
        lit(0L), (a, x) => a + x).as("emb_fp"),
      (col("cell") === VectorSearch.nearestCell(col("emb"), cents))
        .as("cell_ok"))
  }

  /** Q132: REAL image resize — the full decode → nearest-neighbor
    * scale → re-encode path (Multimodal.resizeImage) certified at the
    * PIXEL level: PNG documents (even doc_ids; lossless both ways) are
    * synthesized, halved, decoded AGAIN, and the resized image's
    * dimensions AND red-channel sum are matched against the oracle's
    * restatement of the synthesize formula under the integer NN source
    * mapping srcX = x·w/tw. The red_sum only matches if a real decode
    * ran on both ends of the resample — a header-only or byte-stride
    * path cannot produce it (q89's certification pattern, extended
    * from headers to pixels).
    */
  val q132 = QueryDef.sql(
    "q132_image_resize",
    """WITH dims AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 64 + 1 AS BIGINT) AS w,
      |         CAST((doc_id * 7) % 48 + 1 AS BIGINT) AS h,
      |         GREATEST(1, CAST(doc_id % 64 + 1 AS BIGINT) // 2) AS tw,
      |         GREATEST(1, CAST((doc_id * 7) % 48 + 1 AS BIGINT) // 2) AS th
      |  FROM documents WHERE doc_id % 2 = 0),
      |px AS (
      |  SELECT doc_id, w, h, tw, th, unnest(range(tw * th)) AS p FROM dims),
      |v AS (
      |  SELECT doc_id, tw, th,
      |         ((doc_id * 31 + (((p % tw) * w) // tw) * 7
      |           + ((p // tw) * h) // th) % 16777216) // 65536 AS red
      |  FROM px)
      |SELECT doc_id, CAST(max(tw) AS INTEGER) AS width,
      |       CAST(max(th) AS INTEGER) AS height,
      |       CAST(sum(red) AS BIGINT) AS red_sum
      |FROM v GROUP BY doc_id""".stripMargin) { (spark, dir) =>
    Multimodal.pixelStats(spark,
      Multimodal.resize(spark,
        Multimodal.imagePayloads(spark,
          Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0)),
        1, 2).toDF())
      .toDF()
      .select(col("doc_id"), col("width"), col("height"), col("red_sum"))
  }

  val all: Seq[QueryDef] = Seq(q18, q18b, q19, q20, q21, q22, q26, q27,
    q28, q28b, q29, q30, q31, q32, q33, q34, q58, q58b, q59, q61, q66, q67,
    q70, q73, q77, q84, q89, q104, q106, q107, q108, q117, q118, q119, q132,
    q143)
}
