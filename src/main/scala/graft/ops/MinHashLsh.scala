package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** MinHash + LSH banding near-duplicate detection — the 100 TB path for
  * Q19's exact shingle-join (SURVEY §4.2.3).
  *
  * Pipeline: shingle → murmur3 hash → 64 universal-hash permutations →
  * per-doc min signature → 16 bands of 4 rows → band-hash bucket join →
  * exact Jaccard verify on the (tiny) candidate set.
  *
  * Cost shape: signatures are one hash aggregate over (doc, shingle);
  * candidate generation shuffles only (band, bandHash) pairs — 16 rows
  * per doc regardless of doc length — and the exact verify runs on the
  * candidates only, not all O(n²) pairs. With b=16, r=4 the probability
  * of missing a pair at Jaccard 0.9 is (1-0.9^4)^16 ≈ 4e-8, so on data
  * whose true pairs sit well above the 0.6 threshold the result equals
  * the exact formulation (which is how the oracle checks it).
  */
object MinHashLsh {

  private val Prime = 2147483647L // 2^31 - 1

  /** Deterministic universal-hash coefficients (seeded, build-time). */
  private def coeffs(numPerms: Int, seed: Long): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPerms)((rnd.nextInt(Int.MaxValue - 1).toLong + 1,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signature per id: numPerms min-agg columns sig0..sigN. */
  def signatures(shingles: DataFrame, numPerms: Int = 64, seed: Long = 42L): DataFrame = {
    // (kept as the standalone signature builder; the scaled path uses
    // docState, which fuses this aggregate with the shingle-set collect)
    val cs = coeffs(numPerms, seed)
    // murmur3 of the shingle, lifted to non-negative
    val h = (hash(col("s")).cast("long") + 2147483648L).as("h")
    val withH = shingles.select(col("id"), h)
    // reduce h (< 2^32) mod Prime BEFORE multiplying: both factors then
    // fit in 31 bits so the product stays < 2^62 — the unreduced form
    // overflowed Long for large h*a, wrapping negative and breaking the
    // universal-hash uniformity the banding miss-probability relies on
    val mins: Seq[Column] = cs.toSeq.zipWithIndex.map { case ((a, b), i) =>
      min(((col("h") % Prime) * a + b) % Prime).as(s"sig$i")
    }
    withH.groupBy(col("id")).agg(mins.head, mins.tail: _*)
  }

  /** Candidate pairs (id_a < id_b) sharing at least one LSH band. */
  def candidatePairs(sigs: DataFrame, bands: Int = 16, rows: Int = 4): DataFrame = {
    val bandCols: Seq[Column] = (0 until bands).map { bIdx =>
      val parts = (0 until rows).map(r => col(s"sig${bIdx * rows + r}"))
      hash(parts: _*).as(s"band$bIdx")
    }
    val banded = sigs.select(col("id") +: bandCols: _*)
      .select(col("id"), explode(array((0 until bands).map(bIdx =>
        struct(lit(bIdx).as("b"), col(s"band$bIdx").as("v"))): _*)).as("bd"))
      .select(col("id"), col("bd.b").as("b"), col("bd.v").as("v"))
    val l = banded.select(col("id").as("doc_id_a"), col("b"), col("v"))
    val r = banded.select(col("id").as("doc_id_b"), col("b"), col("v"))
    l.join(r, Seq("b", "v")).filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b")).distinct()
  }

  /** Per-doc state for the one-pass scaled path: the full (distinct)
    * shingle set as an array PLUS the numPerms signature mins, from a
    * SINGLE hash aggregate over the exploded shingles. Shingle sets per
    * doc are bounded by doc length, so the row stays small at any corpus
    * size.
    */
  def docState(shingles: DataFrame, numPerms: Int = 64, seed: Long = 42L): DataFrame = {
    val cs = coeffs(numPerms, seed)
    val h = (hash(col("s")).cast("long") + 2147483648L).as("h")
    val withH = shingles.select(col("id"), col("s"), h)
    val mins: Seq[Column] = cs.toSeq.zipWithIndex.map { case ((a, b), i) =>
      min(((col("h") % Prime) * a + b) % Prime).as(s"sig$i")
    }
    withH.groupBy(col("id"))
      .agg(collect_set(col("s")).as("ss"), mins: _*)
  }

  /** MAP-ONLY per-row doc state: shingle set, MinHash signature and
    * exploded band keys computed entirely with higher-order functions —
    * no aggregation, no shuffle. This is the streaming-compatible form
    * of [[docState]] (a streaming source cannot run the exploded-
    * shingle aggregate without stateful complete-mode machinery; a
    * per-row expression needs none). Same permutation family (seeded
    * coefficients, same prime reduction); the band key hashes the
    * signature slice as an array, which is consistent across any two
    * relations built by THIS method — the only requirement for a
    * bucket join.
    *
    * Output: (id, b, v, ss) — one row per (doc, band). Docs with fewer
    * than `shingleN` tokens have no shingles and are dropped (matching
    * the exact formulation, which emits no pairs for them).
    */
  /** MAP-ONLY per-row shingle sets (id, ss) — the HOF form of
    * `Shingles.tokenShingles(...).groupBy(id).collect_set` with no
    * aggregation, usable on a stream. Short docs (< shingleN tokens)
    * are dropped, matching the exact formulation (no shingles → no
    * pairs). The short-doc filter runs on the CHEAP token count,
    * before the shingle expression exists — a size-of-result filter
    * would be pushed below the projection and inline the whole shingle
    * subtree into scan DataFilter + Filter + Project (3 evaluations
    * per row, the q28b hazard); CollapseProject leaves the expensive
    * alias alone because it feeds multiple consumers.
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame = {
    val t = split(col(textCol), " ")
    val ss = array_distinct(transform(sequence(lit(1), size(t) - (shingleN - 1)),
      i => concat_ws(" ", slice(t, i, lit(shingleN)))))
    df.filter(size(t) >= shingleN)
      .select(col(idCol).as("id"), ss.as("ss"))
  }

  def bandedRows(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 16, rows: Int = 4,
      seed: Long = 42L): DataFrame = {
    val cs = coeffs(bands * rows, seed)
    // hash each shingle ONCE (murmur3 is the expensive step), then run
    // the permutation mins through the fused codegen'd kernel — the
    // all-HOF form interpreted perms x shingles lambdas per row and
    // dominated the whole operator's cost
    val hashed = transform(col("_ss"), s =>
      (hash(s).cast("long") + 2147483648L) % Prime)
    val sigs = org.apache.spark.sql.graftvec.VecBridge.column(
      graft.functions.MinHashSigF(
        org.apache.spark.sql.graftvec.VecBridge.expression(col("_hs")),
        cs.map(_._1), cs.map(_._2)))
    shingleSets(df, idCol, textCol, shingleN)
      .withColumnRenamed("ss", "_ss")
      .withColumn("_hs", hashed)
      .withColumn("_sigs", sigs)
      .select(col("id"), col("_ss"),
        explode(transform(sequence(lit(0), lit(bands - 1)), bIdx =>
          struct(bIdx.as("b"),
            hash(slice(col("_sigs"), bIdx * rows + lit(1), lit(rows))).as("v"))))
          .as("bd"))
      .select(col("id"), col("bd.b").as("b"), col("bd.v").as("v"),
        col("_ss").as("ss"))
  }

  /** ONLINE dedup against a historical corpus: which incoming documents
    * near-duplicate something the corpus already holds? The corpus side
    * is a static relation (its banded rows can be precomputed/bucketed);
    * the incoming side may be a STREAM — every step on it is map-only
    * ([[bandedRows]]) plus a stream-static equijoin on (band, bucket)
    * and the exact-Jaccard verify, so each micro-batch is stateless.
    * The trailing dropDuplicates carries one id per matched incoming
    * doc in state — bounded by the match count, not the stream.
    */
  def nearDupAgainstCorpus(corpus: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      threshold: Double = 0.6, bands: Int = 16, rows: Int = 4): DataFrame = {
    // Banding must be tuned to the threshold like nearDupPairsFromShingles
    // documents: P(candidate | jaccard j) = 1 - (1 - j^rows)^bands. The
    // 16x4 default serves true-pair similarity >= ~0.8 (miss < 1e-3);
    // a caller operating at mid-range thresholds (j ~ 0.6 misses ~11%
    // under 16x4) must lower `rows` / raise `bands` to move the S-curve
    // left — the parameters exist precisely so recall loss is a chosen
    // operating point, never a silent default.
    //
    // verify runs inline on the band-match rows: a per-pair dedup
    // before the verify would be a second STATEFUL operator on the
    // stream (measured 7x slower — every candidate pair becomes state-
    // store writes), so a pair sharing k bands is verified k times
    // (bounded by `bands`) and only matched ids enter state
    val c = bandedRows(corpus, idCol, textCol, shingleN, bands, rows)
      .select(col("b"), col("v"), col("id").as("c_id"), col("ss").as("c_ss"))
    val in = bandedRows(incoming, idCol, textCol, shingleN, bands, rows)
    val inter = size(array_intersect(col("ss"), col("c_ss"))).cast("long")
    in.join(c, Seq("b", "v"))
      .filter(col("id") =!= col("c_id"))
      .filter(inter.cast("double") /
        (size(col("ss")) + size(col("c_ss")) - inter) >= threshold)
      .select(col("id").as("doc_id"))
      .dropDuplicates("doc_id")
  }

  /** Full scaled near-dup: band candidates, then exact-Jaccard verify.
    *
    * One-pass shape: [[docState]] computes the shingle SET and the
    * signature in a single aggregate, so the verify stage is two hash
    * joins on the candidate ids plus an array_intersect — the exploded
    * shingle relation is never revisited and the `candidates` subtree
    * appears exactly once in the plan. (The earlier formulation routed
    * verify through a doc-restricted shingle self-join; that referenced
    * the candidate subtree three times — union a/b + final semi-join —
    * tripling the banding work.) doc state is persisted: candidate
    * generation and both verify sides read one cached build of the
    * aggregate.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double): DataFrame =
    nearDupPairsFromShingles(
      Shingles.tokenShingles(docs, idCol, textCol, shingleN), threshold)

  /** Same scaled path over ANY (id, s) shingle relation — token and
    * character shingles emit the identical schema, so tokenizer-free
    * char-gram near-dup (q58's domain) reuses this unchanged. Banding
    * parameters are tunable per operating point: bands*rows minhash
    * permutations; P(candidate | jaccard j) = 1 - (1 - j^rows)^bands.
    * The defaults (16×4) fit true-pair similarity ≥ 0.9 over a sparse
    * background; char grams over a small shared vocabulary have a
    * DENSER background (~0.2-0.3), so that caller raises `rows` (e.g.
    * 12×6: background 0.3 collides at 0.9% while a 0.93 dup still
    * misses with p < 4e-6 per pair).
    */
  def nearDupPairsFromShingles(sh: DataFrame, threshold: Double,
      bands: Int = 16, rows: Int = 4, seed: Long = 42L): DataFrame =
    nearDupPairsFromShinglesManaged(sh, threshold, bands, rows, seed)._1

  /** [[nearDupPairsFromShingles]] plus a release hook for the internal
    * doc-state cache. The lazy form's cache lives until the session
    * ends (Spark's CacheManager dedupes the same plan, so repeated
    * builds hold ONE copy per input — bounded, but never freed); an
    * eager caller that finishes its terminal action should call
    * `release()` to hand the memory back.
    */
  def nearDupPairsFromShinglesManaged(sh: DataFrame, threshold: Double,
      bands: Int = 16, rows: Int = 4, seed: Long = 42L): (DataFrame, () => Unit) = {
    val byDoc = docState(sh, numPerms = bands * rows, seed = seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = candidatePairs(byDoc, bands = bands, rows = rows)
    val a = byDoc.select(col("id").as("doc_id_a"), col("ss").as("ssa"))
    val b = byDoc.select(col("id").as("doc_id_b"), col("ss").as("ssb"))
    val pairs = cands.join(a, Seq("doc_id_a")).join(b, Seq("doc_id_b"))
      .withColumn("jac", exactJaccard(col("ssa"), col("ssb")))
      .filter(col("jac") >= threshold)
      .select(col("doc_id_a"), col("doc_id_b"), col("jac"))
    (pairs, () => { byDoc.unpersist(); () })
  }

  /** THE exact set-Jaccard expression every verify stage shares —
    * |a∩b| / (|a|+|b|−|a∩b|) over shingle-set arrays. One definition:
    * a future change to its null/short-set semantics must not let a
    * streaming verify drift from the batch operators it is certified
    * against.
    */
  def exactJaccard(ssa: Column, ssb: Column): Column = {
    val c = size(array_intersect(ssa, ssb)).cast("long")
    c.cast("double") / (size(ssa) + size(ssb) - c)
  }

  /** One candidate-pair support change emitted by the STREAMING LSH
    * index ([[indexDeltaStream]]): ±1 per shared band bucket the pair
    * gained or lost. Folding `sum(delta) > 0` over the emitted history
    * yields the live candidate set at any point — the near-dup analog
    * of an incremental view's ± algebra.
    */
  case class PairDelta(id_a: Long, id_b: Long, delta: Int)

  /** Routed ±bucket row: one per (doc version, band). Not private —
    * Catalyst's SafeProjection constructs it.
    */
  case class BucketIn(id: Long, sgn: Int, b: Int, v: Int)

  /** CDC-MAINTAINED near-dup index: consume a StatefulLww-shaped
    * document delta stream (key, action, rowJson, prevJson — text at
    * `$.textField`) and maintain the banded MinHash index as STREAMING
    * STATE, emitting candidate-pair support deltas as documents arrive,
    * change, and leave.
    *
    * Shape per micro-batch: the map side turns each document delta into
    * ±banded rows (+bands for the new text, −bands for the prev text —
    * [[bandedRows]], so a delta costs `bands` rows regardless of corpus
    * size); one shuffle groups them by (band, bucket); per-bucket state
    * is the member doc-id set, and a member arriving/leaving emits
    * ±PairDelta against the bucket's other members. A text change whose
    * band hash is unchanged nets to zero inside the bucket and emits
    * nothing — only buckets a delta actually moves across do work.
    *
    * Scale: state totals = live bucket memberships = bands × live docs;
    * per-delta work = O(bands × bucket size). Hot buckets (boilerplate
    * bands) concentrate pair emission exactly as they concentrate any
    * LSH bucket join — the banding parameters bound expected bucket
    * sizes, and a production deployment caps pathological buckets the
    * same way the batch path does (a bucket at cap is boilerplate, not
    * near-dup signal).
    *
    * INPUT CONTRACT: at most one delta per document per micro-batch
    * (StatefulLww's emission). Removal of a doc the index never held
    * (e.g. a collapsed log replay whose −prev was never inserted) is a
    * no-op, so single-batch bootstrap over a collapsed log lands on
    * exactly the live corpus's index.
    *
    * `maxBucket` caps PAIR EMISSION per bucket (membership is still
    * tracked, so retractions stay balanced): once a bucket holds
    * maxBucket members, further arrivals emit no pairs from it. A
    * bucket at cap is a boilerplate band shared by hundreds of
    * documents — its pairs are noise at quadratic cost, and every
    * production LSH deployment drops exactly these (the batch path's
    * df-cap analog). The cap trades recall ONLY for pairs whose every
    * shared bucket is hot; default unbounded so the oracle-exact
    * queries stay exact.
    */
  def indexDeltaStream(docDeltas: DataFrame, textField: String = "text",
      shingleN: Int = 3, bands: Int = 16, rows: Int = 4,
      seed: Long = 42L,
      maxBucket: Int = Int.MaxValue): org.apache.spark.sql.Dataset[PairDelta] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docDeltas.sparkSession
    import spark.implicits._
    val signed = graft.streaming.StatefulLww.signed(docDeltas,
      get_json_object(_, s"$$.$textField").as("text"),
      col("key").cast("long").as("id"))
      .select(col("id"), col("c.sgn").as("sgn"), col("c.text").as("text"))
    val banded = bandedRows(
      signed.select(struct(col("id"), col("sgn")).as("k"), col("text")),
      "k", "text", shingleN, bands, rows, seed)
      .select(col("id.id").as("id"), col("id.sgn").as("sgn"),
        col("b"), col("v"))
      .as[BucketIn]
    def ordered(x: Long, y: Long, d: Int): PairDelta =
      if (x < y) PairDelta(x, y, d) else PairDelta(y, x, d)
    banded.groupByKey(r => (r.b, r.v)).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (_: (Int, Int), it: Iterator[BucketIn], state: GroupState[BucketState]) =>
        val rowsIn = it.toVector
        val st0 = state.getOption.getOrElse(BucketState(Set.empty, overflowed = false))
        var members = st0.members
        var overflowed = st0.overflowed
        // net per doc: −old +new of an in-place text change cancels here
        val net = rowsIn.groupBy(_.id).map { case (id, rs) =>
          id -> rs.map(_.sgn).sum
        }
        val out = Vector.newBuilder[PairDelta]
        // removals against the shrinking set, then additions against the
        // growing set (both in sorted order): a pair of docs entering or
        // leaving together changes its support by exactly one per bucket
        net.collect { case (id, s) if s < 0 => id }.toVector.sorted.foreach { r =>
          if (members(r)) {
            members -= r
            if (!overflowed) members.foreach(m => out += ordered(r, m, -1))
          }
        }
        val adds = net.collect { case (id, s) if s > 0 => id }.toVector.sorted
          .filterNot(members)
        // cap check BEFORE emission: crossing it retracts every pair the
        // bucket granted (the ± ledger stays balanced) and the bucket is
        // boilerplate from then on — membership still tracked, no pairs
        if (!overflowed && members.size + adds.size > maxBucket) {
          val ms = members.toVector.sorted
          ms.indices.foreach { i =>
            (i + 1 until ms.size).foreach(j => out += ordered(ms(i), ms(j), -1))
          }
          overflowed = true
        }
        adds.foreach { a =>
          if (!overflowed) members.foreach(m => out += ordered(a, m, +1))
          members += a
        }
        if (members.isEmpty) state.remove()
        else state.update(BucketState(members, overflowed))
        out.result().iterator
    }
  }

  /** Per-bucket index state: member doc ids plus the sticky overflow
    * flag (a bucket past `maxBucket` grants no pairs again — boilerplate
    * does not become signal by shrinking). Not private — Catalyst
    * constructs it.
    */
  case class BucketState(members: Set[Long], overflowed: Boolean)

  /** Fold a [[PairDelta]] history to the live candidate pairs — support
    * = number of band buckets the pair currently shares; live iff > 0.
    * Order-free (pure ± algebra), so it runs identically over a delta
    * log in any batch layout.
    */
  def livePairs(pairDeltas: DataFrame): DataFrame =
    pairDeltas.groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("delta")).cast("long").as("support"))
      .filter(col("support") > 0)
}
