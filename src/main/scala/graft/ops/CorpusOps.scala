package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Corpus-level training-data pipeline operators (mandate, beyond the
  * pairwise dedup family): duplicate-CLUSTER resolution, TF-IDF term
  * relevance, benchmark decontamination, deterministic dataset splits,
  * and stopword scrubbing.
  *
  * These close the loop a real 100 TB curation pipeline needs: near-dup
  * PAIRS (MinHashLsh / SimHash / VectorSearch) are only half the story —
  * the pipeline must then resolve pairs into clusters, keep one canonical
  * document per cluster, hold out eval data by n-gram overlap, and split
  * the survivors reproducibly.
  */
object CorpusOps {

  /** Connected components over an undirected pair graph — resolves
    * near-dup pairs into duplicate clusters. Output: (doc_id,
    * cluster_id, is_canonical) for every doc that appears in a pair,
    * where cluster_id is the minimum doc_id of the component (the
    * deterministic survivor, matching Dedup.keepMinBy's convention).
    *
    * Algorithm: alternating large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — converges in
    * O(log n) rounds on ANY component shape, where the min-label
    * propagation it replaces needed component-diameter rounds
    * (unbounded for chain-shaped components; a 1024-node path took
    * 1023 rounds, this takes ~7). Each round is two keyed
    * groupBy-min + join steps over the edge list — every step
    * shuffle-partitionable, nothing collected to the driver; the
    * convergence probe aggregates the edge set to two scalars
    * (count + hash-sum). Edges are re-materialized per round via
    * localCheckpoint to truncate the growing lineage (a reliable
    * checkpoint dir does the same on a cluster).
    */
  def dupClusters(pairs: DataFrame): DataFrame = {
    val edges = canonicalEdges(pairs)
    // DRIVER tier (the PageRank/BFS discipline, guide §2.4 — remove
    // shuffles outright): a model-sized pair graph collects once and
    // union-find solves it in memory with the IDENTICAL min-id label
    // semantics, so the two tiers agree to the bit (CorpusSpec's
    // union-find oracle + tier-parity test). The distributed star
    // contraction pays ~7 rounds × ~5 jobs of scheduling floor on a
    // graph whose whole edge list is smaller than one shuffle block;
    // over the cap (or a non-orderable id type) nothing changes —
    // 100-TB pair graphs keep the distributed fixpoint. One bounded
    // read both gates the tier and fetches its edges.
    val local = for {
      ord <- localIdOrdering(edges.schema("u").dataType)
      rows <- Bounded.collect(edges, DriverComponentsEdgeCap)
    } yield localComponents(edges, rows, ord)
    local.getOrElse(starContraction(edges)._1)
  }

  /** [[dupClusters]] plus the number of large-star/small-star rounds it
    * took to converge — the DISTRIBUTED tier, directly (exposed for the
    * O(log n) convergence spec and the tier-parity spec).
    */
  private[graft] def dupClustersWithRounds(pairs: DataFrame): (DataFrame, Int) =
    starContraction(canonicalEdges(pairs))

  /** Canonical (u > v) edge list; self-loops dropped. The eager
    * localCheckpoint also means the (often expensive) pairs subtree —
    * q41's is a full MinHash near-dup run — evaluates exactly ONCE;
    * everything downstream, including the node set, reads the
    * materialized edges.
    */
  private def canonicalEdges(pairs: DataFrame): DataFrame =
    pairs.select(
        greatest(col("doc_id_a"), col("doc_id_b")).as("u"),
        least(col("doc_id_a"), col("doc_id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)

  /** Edge-count cap for the driver-tier components solver: 500k edges
    * collect to a few tens of MB of boxed ids — trivially driver-sized —
    * while anything larger keeps the distributed star contraction.
    */
  private[graft] val DriverComponentsEdgeCap = 500000

  /** Driver-orderable id types: the tiers must agree on `least`/min
    * semantics, so only types whose SQL ordering the driver can
    * reproduce exactly qualify. Strings compare as UNSIGNED UTF-8 BYTES
    * (Spark's UTF8_BINARY collation order) — Java's String.compareTo
    * walks UTF-16 code units, which diverges for supplementary
    * (non-BMP) characters: U+FFFF sorts above a surrogate pair in
    * UTF-16 but below it in UTF-8 bytes, so compareTo would pick a
    * different min-id root than the distributed `least`.
    */
  private def localIdOrdering(dt: org.apache.spark.sql.types.DataType)
      : Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(Ordering.by((x: Any) => x.asInstanceOf[Number].longValue))
      case StringType =>
        Some(new Ordering[Any] {
          def compare(a: Any, b: Any): Int =
            java.util.Arrays.compareUnsigned(
              a.asInstanceOf[String]
                .getBytes(java.nio.charset.StandardCharsets.UTF_8),
              b.asInstanceOf[String]
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        })
      case _ => None
    }
  }

  /** The driver tier: union-find with min-id roots over the collected
    * canonical edge `rows` of `edges` — bit-identical labels to
    * [[starContraction]] (component label = minimum member id; exactly
    * one canonical row).
    */
  private def localComponents(edges: DataFrame,
      rows: Array[org.apache.spark.sql.Row], ord: Ordering[Any]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = edges.sparkSession
    val idType = edges.schema("u").dataType
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x0: Any): Any = {
      var x = x0
      while (parent(x) != x) {
        val p = parent(x)
        parent(x) = parent(p) // path halving
        x = parent(x)
      }
      x
    }
    rows.foreach { r =>
      val u = r.get(0); val v = r.get(1)
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        // attach the larger root under the smaller so every root stays
        // its component's minimum — the distributed tier's label
        if (ord.lt(ru, rv)) parent(rv) = ru else parent(ru) = rv
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", idType),
      org.apache.spark.sql.types.StructField("cluster_id", idType),
      org.apache.spark.sql.types.StructField("is_canonical",
        org.apache.spark.sql.types.BooleanType)))
    val labels = parent.keysIterator.map { id =>
      val root = find(id)
      org.apache.spark.sql.Row(id, root, id == root)
    }.toSeq
    spark.createDataFrame(labels.asJava, schema)
  }

  /** The distributed tier: alternating large-star/small-star label
    * contraction to fixpoint; returns (labels, rounds).
    */
  private def starContraction(edges0: DataFrame): (DataFrame, Int) = {
    var edges = edges0
    val nodes = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id"))).distinct().persist()
    def checksum(e: DataFrame): (Long, String) = {
      // decimal accumulator: full-range xxhash64 values overflow an
      // ANSI-mode long sum
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
    }
    var sig = checksum(edges)
    var prev = (-1L, "")
    var rounds = 0
    while (sig != prev) {
      // large-star: every neighbor bigger than u links to u's minimum
      // (adjacency = both directions). v > u >= m, so output stays
      // canonical; strictly-smaller neighbors keep their edge to u via
      // their own adjacency row.
      val adj = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = adj.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = adj.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: u and all its smaller neighbors link to their
      // minimum. v, m < u and v != m keeps (v, m) canonical; (u, m)
      // re-links u itself. Both outputs come from ONE join pass
      // (exploded), not two copies of the join.
      val sMins = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = large.join(sMins, Seq("u"))
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      edges = small
      prev = sig
      sig = checksum(edges)
      rounds += 1
    }
    // converged: a star forest of (leaf, root) edges, root = component
    // minimum. Nodes absent from the final edge set are their own root.
    val labels = nodes
      .join(edges.select(col("u").as("id"), col("v").as("lbl")), Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("lbl"), col("id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
    nodes.unpersist()
    (labels, rounds)
  }

  /** Top-k terms per document by TF-IDF (tf × ln(N/df)).
    *
    * Ranking is by an integer-scaled score key, round(score × 1e9):
    * mathematically-tied scores reached by different arithmetic
    * (e.g. tf=2,idf=ln 10 vs tf=1,idf=ln 100) can differ in the last
    * ulp and differ BETWEEN engines, so ranking raw doubles makes the
    * top-k cutoff a coin flip against the oracle. The integer key makes
    * the order (and the tie-break by token) engine-independent; the
    * reported score column stays the exact double.
    *
    * Shape at scale: one explode + two hash aggregations (tf, df) + a
    * shuffle join on token + one window per doc — every step keyed and
    * partitionable; df (vocabulary) is the only global structure and is
    * joined, never collected.
    */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n"))
    val scored = tf.join(df, "token").crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * log(col("n").cast("double") / col("df")))
      .withColumn("skey", round(col("score") * 1e9).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("skey").desc, col("token"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("token"), col("score"), col("rnk"))
  }

  /** Benchmark decontamination: flag every candidate document sharing at
    * least one n-token shingle with the eval set. The semi-join stops at
    * the first matching shingle per doc — no counts are materialized —
    * and when the eval side is small Spark broadcasts it, so the corpus
    * is touched exactly once with no shuffle.
    */
  def contaminated(candidates: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val evalShingles = Shingles.tokenShingles(evalDocs, idCol, textCol, n)
      .select(col("s")).distinct()
    val candShingles = Shingles.tokenShingles(candidates, idCol, textCol, n)
    candShingles.join(evalShingles, Seq("s"), "left_semi")
      .select(col("id").as(idCol)).distinct()
  }

  /** Decontamination through a Bloom filter of the eval set's shingle
    * hashes — the no-shuffle form of [[contaminated]]: the filter is ONE
    * aggregated row (128 KiB) broadcast to every corpus partition, and
    * the corpus side is a codegen'd bitwise probe per shingle, so the
    * candidate relation is never shuffled at all. Bloom guarantees no
    * false negatives, so the flagged set is a SUPERSET of the exact
    * answer; at 100 TB the exact semi-join then runs only on the flagged
    * sliver (candidates-then-verify, like MinHash → exact Jaccard).
    * Output: the flagged doc ids.
    */
  def bloomContaminated(candidates: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    import graft.functions.BloomAgg
    // Raw shingle streams on BOTH sides: insertion (bitwise OR) and the
    // probe are idempotent, so neither side pays a dedup shuffle. The
    // CORPUS-side relation is never exchanged; the only exchanges are
    // the bloom build's global agg (one constant-size partial buffer
    // per partition) and the final distinct of the tiny flagged-id set.
    val bloom = Shingles.tokenShinglesRaw(evalDocs, idCol, textCol, n)
      .select(BloomAgg.lift(col("s")).as("h"))
      .agg(udaf(BloomAgg).apply(col("h")).as("bloom"))
    val candShingles = Shingles.tokenShinglesRaw(candidates, idCol, textCol, n)
    candShingles.join(broadcast(bloom)) // 1-row broadcast, no shuffle
      .filter(BloomAgg.mightContain(col("bloom"), col("s")))
      .select(col("id").as(idCol)).distinct()
  }

  /** Cross-document duplicated-n-gram fraction — the corpus-level
    * repetition signal (complement of q59's WITHIN-document repetition):
    * for each doc, the share of its distinct n-gram shingles that occur
    * in at least `minDocs` documents. High values mark boilerplate and
    * template pages; web-corpus curation thresholds on exactly this
    * statistic. Two keyed shuffles: document frequency by shingle (the
    * join back reuses that partitioning), then per-doc aggregation by id
    * — no self-join, no all-pairs anything.
    */
  def dupNgramStats(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    val sh = Shingles.tokenShingles(df, idCol, textCol, n)
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("dfc"))
    sh.join(dfreq, Seq("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("dfc") >= minDocs, 1L).otherwise(0L)).as("n_dup"))
      .select(col("id").as(idCol), col("n_shingles"),
        (col("n_dup").cast("double") / col("n_shingles")).as("dup_frac"))
  }

  /** ExactSubstr-style span deduplication (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): find
    * every n-token run that also occurs in at least `minDocs` distinct
    * documents, merge overlapping runs into maximal spans per document,
    * and emit each document with those spans REMOVED — the surgical
    * complement of document-level dedup (q18/q19 drop whole documents;
    * this cuts only the repeated substrings and keeps the unique
    * remainder, which is how production corpora deduplicate boilerplate
    * without losing the page).
    *
    * Distributed shape: the single-node reference algorithm is a suffix
    * array, which does not shard; positional n-gram postings are the
    * standard distributed equivalent. One shuffle of distinct
    * (doc, gram) pairs counts document frequency; the occurrence join
    * back reuses that hash partitioning; then a doc-partitioned window
    * merges intervals — per-partition work is bounded by document
    * length, never corpus size, and the span-removal projection is
    * per-row map work (no shuffle): token positions filtered against
    * the doc's own merged spans (O(tokens × spans) interpreted HOF per
    * row — spans are few after merging; a codegen'd two-pointer kernel
    * is the upgrade path if profiling ever demands it).
    *
    * Output: doc_id, n_spans, dup_tokens, total_tokens, clean_text —
    * the cleaned document plus integer span accounting.
    * split(' ')/array_join(' ') is an exact identity on any input, so
    * a document with no spans passes through byte-identical. (q90
    * md5s clean_text on both engines, so the oracle certifies the
    * removal itself — byte-exact reconstruction — not just counts.)
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"), split(col(textCol), " ").as("t"))
    // positional occurrences: one row per n-gram start position (NOT
    // distinct — within-doc repeats of a cross-doc gram each mark a span)
    val occ = toks.filter(size(col("t")) >= n)
      .select(col("id"), posexplode(expr(
        s"transform(sequence(0, size(t) - $n), i -> " +
          (0 until n).map(j => s"t[i + $j]").mkString("concat_ws(' ', ", ", ", ")") + ")"))
        .as(Seq("pos", "s")))
    val repeated = occ.select(col("id"), col("s")).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") >= minDocs).select(col("s"))
    val hits = occ.join(repeated, Seq("s"))
      .select(col("id"), col("pos"), (col("pos") + lit(n - 1)).as("e"))
    // interval merge: a hit opens a new span iff it starts beyond
    // prev-max-end + 1 — strictly-past-the-end hits that TOUCH the
    // previous span (pos == end + 1) merge too, so a span is a maximal
    // contiguous duplicated region (pos is unique per doc, so the
    // window order is total and the running sum deterministic)
    val w = W.partitionBy("id").orderBy("pos")
    val spans = hits
      .withColumn("ns", when(col("pos") > coalesce(
        max(col("e")).over(w.rowsBetween(W.unboundedPreceding, -1)), lit(-2)) + 1, 1L)
        .otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(w.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy(col("id"), col("sid"))
      .agg(min(col("pos")).as("s0"), max(col("e")).as("e0"))
    val perDoc = spans.groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e0") - col("s0") + lit(1)).as("dup_tokens"),
        collect_list(struct(col("s0"), col("e0"))).as("spans"))
    val cleanCut = expr(
      "array_join(transform(filter(sequence(0, size(t) - 1), " +
        "p -> NOT exists(spans, sp -> p >= sp.s0 AND p <= sp.e0)), " +
        "p -> t[p]), ' ')")
    toks.join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        size(col("t")).cast("long").as("total_tokens"),
        when(col("spans").isNull, array_join(col("t"), " "))
          .otherwise(cleanCut).as("clean_text"))
  }

  /** Deterministic WEIGHTED sampling without replacement (Efraimidis &
    * Spirakis 2006): each row gets key = ln(u)/w with u a hash-derived
    * uniform in (0,1), and the top-m keys are the sample — inclusion
    * probability proportional to weight, exactly the semantics
    * `rand()`-based weighted sampling gives, but reproducible across
    * runs, engines, and partitionings ([[hashSplit]]'s argument) and
    * stateable in plain SQL for the oracle. The top-m cut plans as
    * TakeOrderedAndProject (per-partition heads, no global sort), so
    * the operator is one scan at any scale. A third odd multiplier
    * decorrelates the sampling uniforms from the split's and the
    * stratified sampler's hash streams.
    *
    * Cross-engine determinism: unlike the repo's pure-integer hash
    * gates, `ln()` is only 1-ulp-accurate and not guaranteed
    * bit-identical across libm implementations, so ordering by the raw
    * key could swap near-tie rows at the top-m cut between Spark and an
    * oracle engine. The sort key is therefore the key QUANTIZED to 1e-6
    * buckets (floor — exact on doubles in every engine), with the id as
    * the in-bucket tie-break: a last-ulp ln() difference changes the
    * bucket only if the true key sits within ~1e-10 relative of a
    * bucket boundary AND the two engines round across it — measure-zero
    * in practice vs near-certain for raw-double near-ties at the cut.
    * Within-bucket selection by id deviates from exact E-S order only
    * among keys equal to 6 decimal places, which leaves inclusion
    * probabilities indistinguishable from the unquantized sampler.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      m: Int): DataFrame = {
    val u = (knuthHash(col(idCol), 3266489917L) + 0.5d) / 4294967296.0d
    df.filter(col(weightCol) > 0)
      .withColumn("_kq", floor(log(u) / col(weightCol) * lit(1000000.0d)))
      .orderBy(col("_kq").desc, col(idCol))
      .limit(m)
      .drop("_kq")
  }

  /** INCREMENTAL connected components under edge INSERTS: fold a new
    * wave of pairs into an existing (doc_id, cluster_id, is_canonical)
    * labeling without re-clustering the graph. The merge runs on the
    * CONTRACTED label graph: each new edge's endpoints map to their
    * current labels (new nodes label themselves), label-level edges are
    * clustered with [[dupClusters]] — a graph whose size is bounded by
    * the labels the wave TOUCHES, not the corpus — and the resulting
    * label→label map relabels exactly the affected rows. Because every
    * label is the min node id of its component, the contracted
    * clustering's canonical min IS the merged component's min node id,
    * so the output is bit-identical to re-clustering from scratch
    * (split-invariance is what the spec and q125's oracle pin).
    *
    * Deletions are [[splitComponents]]'s: removing an edge can split a
    * component, which no label algebra detects locally — the deletion
    * path recomputes the affected components (bounded by component
    * size), exactly as production systems do for LSH near-dup clusters.
    */
  def mergeComponents(labels: DataFrame, newPairs: DataFrame): DataFrame = {
    val e = newPairs.select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
    val la = labels.select(col("doc_id").as("a"), col("cluster_id").as("ca"))
    val lb = labels.select(col("doc_id").as("b"), col("cluster_id").as("cb"))
    // endpoints of the new wave under their current labels (self for
    // first-seen nodes); the contracted edge list is label-level
    val compEdges = e.join(la, Seq("a"), "left").join(lb, Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("doc_id_a"),
        coalesce(col("cb"), col("b")).as("doc_id_b"))
      .filter(col("doc_id_a") =!= col("doc_id_b"))
    val relabel = dupClusters(compEdges)
      .select(col("doc_id").as("cluster_id"), col("cluster_id").as("merged"))
    // relabel touched rows; new nodes enter under their own id first,
    // then the same map applies
    val newNodes = e.select(col("a").as("doc_id"))
      .union(e.select(col("b").as("doc_id"))).distinct()
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    labels.select(col("doc_id"), col("cluster_id")).union(newNodes)
      .join(relabel, Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("merged"), col("cluster_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }

  /** INCREMENTAL connected components under edge DELETIONS — the
    * recompute-affected-component strategy [[mergeComponents]]'s
    * scaladoc promises: a retracted edge (a revoked near-dup pair after
    * a doc revision or delete — exactly what the CDC-maintained LSH
    * index emits as −1 pair deltas) can SPLIT a component, which no
    * local label algebra detects, so the affected components — and ONLY
    * those — are re-clustered from their remaining live edges.
    *
    *  1. affected = the current labels of the retracted pairs'
    *     endpoints (a broadcast-sized set: bounded by the retraction
    *     wave, not the corpus);
    *  2. the affected SUBGRAPH = live pairs inside those components —
    *     one endpoint's label suffices because a consistent labeling
    *     puts both endpoints of every live pair in one component;
    *  3. re-cluster the subgraph ([[dupClusters]]) and splice: rows of
    *     untouched components pass through unchanged.
    *
    * CONTRACT: `labels` is a consistent labeling of the graph
    * `livePairs ∪ retractedPairs` (the state any fold sequence of
    * [[dupClusters]]/[[mergeComponents]] maintains), and `livePairs` is
    * the post-retraction pair set (e.g. [[MinHashLsh.livePairs]] of the
    * pair-delta log). The output is then BIT-IDENTICAL to
    * `dupClusters(livePairs)`: untouched components keep their min-id
    * label; recomputed pieces get theirs from the same algorithm; nodes
    * left with no live edge (including deleted docs) drop out, as they
    * would from scratch. Work is bounded by the affected components'
    * edge count — at 100 TB a retraction wave touches a handful of
    * clusters, never the corpus-wide graph.
    */
  def splitComponents(labels: DataFrame, livePairs: DataFrame,
      retractedPairs: DataFrame): DataFrame = {
    val ends = retractedPairs.select(explode(array(col("doc_id_a"),
      col("doc_id_b"))).as("doc_id")).distinct()
    val affected = ends.join(labels, Seq("doc_id"))
      .select(col("cluster_id")).distinct().localCheckpoint(true)
    val la = labels.select(col("doc_id").as("doc_id_a"),
      col("cluster_id").as("cl"))
    val subPairs = livePairs.select(col("doc_id_a"), col("doc_id_b"))
      .join(la, Seq("doc_id_a"))
      .join(broadcast(affected.withColumnRenamed("cluster_id", "cl")),
        Seq("cl"))
      .select(col("doc_id_a"), col("doc_id_b"))
    val untouched = labels
      .join(broadcast(affected), Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"), col("is_canonical"))
    untouched.unionByName(dupClusters(subPairs)
      .select(col("doc_id"), col("cluster_id"), col("is_canonical")))
  }

  /** Multi-source BFS over a DIRECTED edge relation (u, v): shortest
    * hop distance from any seed, the DataFrame form of a recursive CTE
    * (`WITH RECURSIVE bfs AS (seeds UNION step)`) — Spark has no
    * recursive SQL, so the fixpoint runs as a driver-side frontier
    * loop. Two tiers: while frontier+visited fit
    * [[DriverFrontierCap]], the sets are DRIVER-HELD and each level
    * costs exactly ONE distributed job (edge semi-join against the
    * broadcast frontier, distinct, collect) — the edge relation never
    * moves, nothing shipped grows with depth, and there are no
    * broadcast-build or checkpoint jobs at all. Past the cap the loop
    * hands its state to [[bfsDistributedLoop]], where every round is
    * fully distributed (keyed equijoin, min-per-node aggregate,
    * anti-join against visited) with frontier-sized shuffles. Rounds =
    * reachable depth either way; diameter-scale graphs want the
    * doubling trick ([[dupClusters]]' star algorithm) instead — BFS is
    * the right tool when the DEPTH ITSELF is the answer.
    */
  // NO session-conf toggles here: an earlier version set
  // spark.sql.shuffle.partitions=8 + AQE off around the loop, which
  // leaked to every query running CONCURRENTLY on the session for the
  // whole BFS (and two concurrent BFS calls could restore each other's
  // stale values). The measured win was ~9% once the joins were
  // explicit broadcasts — not worth a session-global hazard; the only
  // per-round shuffle left is the frontier-sized min aggregate.
  //
  // Round-cost, third attempt (the first two are on record in ROADMAP):
  // the frontier/visited sets now live ON THE DRIVER while they fit a
  // hard cap. That removes BOTH per-round broadcast-BUILD jobs (the
  // frontier ships as a broadcast over a LocalRelation, whose build is
  // a driver-local array copy, not a collect job) and the visited
  // anti-join entirely (dedup is a driver HashSet lookup), without
  // growing any shipped payload with depth — the only bytes that move
  // per round are the CURRENT frontier. One job per level: the
  // distinct-neighbor collect. Breach the cap at any point — seeds,
  // a level, or the running visited total — and the loop hands its
  // exact state to the fully distributed fixpoint below, so 100-TB
  // graphs degrade to the old behavior instead of the old driver OOM.
  private[graft] val DriverFrontierCap = 500000

  /** Edge-count cap for the DRIVER-GRAPH tier of [[bfsDistances]] /
    * [[incrementalBfs]]: under it the whole edge relation collects once
    * (≤ a few tens of MB of boxed ids) and the entire level loop runs
    * in memory — ZERO jobs per level instead of one. Only EDGE
    * relations answer to it: node-sized ones (seeds, stored distances,
    * delta dsts) answer to the node cap `cap` ([[DriverFrontierCap]]).
    */
  private[graft] val DriverEdgeCap = 500000

  def bfsDistances(edges: DataFrame, seeds: DataFrame,
      maxIter: Int = 200, cap: Int = DriverFrontierCap,
      edgeCap: Int = DriverEdgeCap): DataFrame = {
    val spark = edges.sparkSession
    val seed0 = seeds.select(col("id")).distinct()
      .select(col("id"), lit(0L).as("dist")).localCheckpoint(true)
    // Pin BOTH relations to ONE id type up front (Bounded.idType): the
    // driver tier dedupes collected ids in a HashSet[Any] and rebuilds
    // frames with a declared type, so INT edges against BIGINT seeds
    // would either fail createDataFrame row validation or mis-compare
    // boxed Integer vs Long and revisit nodes. The widest across seed id
    // AND both edge endpoints — a mixed-width edge frame (INT u, BIGINT
    // v) must not narrow either side.
    val seedIdType = Bounded.idType("bfsDistances",
      "seeds" -> seed0.schema("id").dataType,
      "u" -> edges.schema("u").dataType, "v" -> edges.schema("v").dataType)
    // pin the edge relation ONCE — the level loop runs one JOB per BFS
    // level against it, and an unpinned derivation (scan + window
    // shuffle, q122's shape) would re-execute per level — EXCEPT when
    // the caller already pinned it (a localCheckpointed frame plans as
    // LogicalRDD; incrementalBfs hands exactly that): re-pinning a pin
    // re-materialized the whole edge relation per call for nothing
    // (q130's r12 bench-audit item). Projections/filters over a pin
    // stay cheap per level and are not re-pinned either.
    def pinnedScan(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          // LogicalRDD alone does not mean materialized: a
          // createDataFrame(rdd)-backed frame with expensive lineage
          // plans as LogicalRDD too, and skipping the pin would
          // re-execute that lineage once per BFS level. Only a
          // checkpointed or persisted RDD is a real pin.
          lr.rdd.isCheckpointed ||
            lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
        case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
          pinnedScan(pr.child)
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          pinnedScan(f.child)
        case _ => false
      }
    val sameType = seedIdType == edges.schema("u").dataType &&
      seedIdType == edges.schema("v").dataType
    val e =
      if (sameType && pinnedScan(edges.queryExecution.analyzed))
        edges.select(col("u"), col("v"))
      else edges.select(col("u").cast(seedIdType).as("u"),
        col("v").cast(seedIdType).as("v")).localCheckpoint(true)
    // only re-pin the seeds when the unified type actually differs —
    // the common same-type call keeps its single checkpoint
    val seed0w =
      if (seedIdType == seed0.schema("id").dataType) seed0
      else seed0.select(col("id").cast(seedIdType).as("id"), col("dist"))
        .localCheckpoint(true)
    val seedRows = Bounded.collect(seed0w.select(col("id")), cap)
    if (seedRows.isEmpty) {
      val seedN = seed0w.count()
      return bfsDistributedLoop(e, seed0w.select(col("id")), seedN,
        seed0w, seedN, Seq(seed0w), maxIter)
    }

    import scala.jdk.CollectionConverters._
    val idType = seedIdType
    val idSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType)))
    val outSchema = idSchema.add("dist",
      org.apache.spark.sql.types.LongType, nullable = false)
    val seedIds: Array[Any] = seedRows.get.map(_.get(0))

    // DRIVER-GRAPH tier (guide §2.4): a model-sized edge relation
    // collects ONCE and the whole level loop runs in memory — zero jobs
    // per level instead of one. Distances are unique (min hop count),
    // so the output is bit-identical to the frontier tier's. Over the
    // cap the frontier tier below keeps the one-job-per-level shape and
    // its distributed spill — 100-TB graphs are untouched.
    val edgeRows = Bounded.collect(e, edgeCap)
    if (edgeRows.isDefined) {
      val adj = scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
      edgeRows.get.foreach { r =>
        adj.getOrElseUpdate(r.get(0),
          scala.collection.mutable.ArrayBuffer.empty[Any]) += r.get(1)
      }
      val visited = scala.collection.mutable.HashSet[Any](seedIds.toSeq: _*)
      val levels = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      seedIds.foreach(id => levels += org.apache.spark.sql.Row(id, 0L))
      var frontier: Array[Any] = seedIds
      var dist = 0L
      var it = 0
      while (frontier.nonEmpty && it < maxIter) {
        val fresh = frontier.iterator
          .flatMap(id => adj.getOrElse(id, Nil))
          .filter(visited.add) // add returns true exactly once per id
          .toArray
        dist += 1
        fresh.foreach(id => levels += org.apache.spark.sql.Row(id, dist))
        frontier = fresh
        it += 1
      }
      return spark.createDataFrame(levels.asJava, outSchema)
    }
    val visited = scala.collection.mutable.HashSet[Any](seedIds.toSeq: _*)
    val levels = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    seedIds.foreach(id => levels += org.apache.spark.sql.Row(id, 0L))
    var frontier = seedIds
    var dist = 0L
    var i = 0
    // resume distributedly from the driver-held state on a cap breach
    def spill(): DataFrame = {
      val acc = spark.createDataFrame(levels.asJava, outSchema)
        .localCheckpoint(true)
      val frontierDf = spark.createDataFrame(
        frontier.toSeq.map(id => org.apache.spark.sql.Row(id, dist)).asJava,
        outSchema).localCheckpoint(true)
      bfsDistributedLoop(e, acc.select(col("id")), visited.size.toLong,
        frontierDf, frontier.length.toLong, Seq(acc), maxIter - i)
    }
    while (frontier.nonEmpty && i < maxIter) {
      val fDf = spark.createDataFrame(
        frontier.toSeq.map(org.apache.spark.sql.Row(_)).asJava, idSchema)
      // leftsemi keeps the edge relation's v only; distinct is the one
      // shuffle (map-side partial), the bounded read caps the driver copy
      val nxt = Bounded.collect(
        e.join(broadcast(fDf), e("u") === fDf("id"), "left_semi")
          .select(col("v")).distinct(), cap) match {
        case Some(rows) => rows
        case None => return spill()
      }
      val fresh = nxt.iterator.map(_.get(0))
        .filterNot(visited.contains).toArray
      if (visited.size + fresh.length > cap) return spill()
      dist += 1
      fresh.foreach { id =>
        visited += id
        levels += org.apache.spark.sql.Row(id, dist)
      }
      frontier = fresh
      i += 1
    }
    spark.createDataFrame(levels.asJava, outSchema)
  }

  /** The fully distributed BFS fixpoint — the over-cap path of
    * [[bfsDistances]], resumable from any (visited, frontier, levels)
    * state. ONE job per round: the lazy localCheckpoints materialize
    * under the count() that doubles as the termination probe (an eager
    * checkpoint + isEmpty was two jobs, and with ~40 tiny rounds the
    * loop is job-scheduling-bound, not data-bound). visited is lazily
    * re-checkpointed each round so every plan the loop builds stays
    * FLAT — a growing union lineage makes per-round planning quadratic
    * in depth, which measured WORSE than the extra jobs it saved.
    */
  private def bfsDistributedLoop(e: DataFrame, visited0: DataFrame,
      visited0N: Long, frontier0: DataFrame, frontier0N: Long,
      acc: Seq[DataFrame], maxIter: Int): DataFrame = {
    var visited = visited0.localCheckpoint(false)
    var visitedN = visited0N
    var frontier = frontier0
    var frontierN = frontier0N
    val levels = scala.collection.mutable.ArrayBuffer(acc: _*)
    var i = 0
    var done = false
    // a checkpointed frame reports no stats, so Catalyst would plan
    // every round as a sort-merge join SHUFFLING THE WHOLE EDGE relation
    // per level (measured: the dominant cost). Levels are known-small —
    // the loop just counted them — so broadcast them explicitly and the
    // edge side never moves; fall back to shuffle only if a level
    // outgrows the broadcast budget.
    def small(df: DataFrame, n: Long) =
      if (n >= 0 && n <= 500000) broadcast(df) else df
    while (!done && i < maxIter) {
      val next = e.join(small(frontier, frontierN), frontier("id") === e("u"))
        .select(e("v").as("id"), (frontier("dist") + 1).as("dist"))
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
        .join(small(visited, visitedN), Seq("id"), "left_anti")
        .localCheckpoint(false)
      val n = next.count()
      if (n == 0) done = true
      else {
        levels += next
        visitedN += n
        visited = visited.union(next.select(col("id"))).localCheckpoint(false)
        frontier = next
        frontierN = n
      }
      i += 1
    }
    levels.reduce(_.unionByName(_))
  }

  /** INCREMENTAL BFS — reachability/distance as a maintained VIEW under
    * edge churn, the recompute-affected pattern ([[splitComponents]],
    * `PageRank.incrementalRanks`) applied to shortest hops: any node
    * whose distance changes must have a (new-graph) path through a
    * changed edge's DESTINATION, so the affected region is exactly the
    * new-graph descendants of the delta dsts — computed by a BFS that
    * is itself region-sized — and every other node's stored distance is
    * provably unchanged and passes through untouched. The region is
    * then re-solved from its true entry points: member seeds at 0 and
    * boundary edges from unaffected nodes at dist+1, relaxed to
    * fixpoint over region-internal edges only. Output equals
    * [[bfsDistances]] over the post-churn edge set exactly (hop
    * distances are unique, so any correct solver lands on the same
    * relation); nodes the churn orphaned drop out, as from scratch.
    *
    * `edgeDeltas` is (u, v, delta) with +1 inserts / −1 removals at set
    * level. Work: one descendants-BFS plus a relaxation bounded by the
    * region's edges and improving-chain length — churn-local, never
    * graph-global, unless the churn's influence genuinely reaches
    * everywhere.
    */
  def incrementalBfs(edges0: DataFrame, dists: DataFrame,
      edgeDeltas: DataFrame, seeds: DataFrame,
      maxIter: Int = 200, cap: Int = DriverFrontierCap,
      edgeCap: Int = DriverEdgeCap): DataFrame = {
    val oldE = edges0.select(col("u"), col("v"))
    val ins = edgeDeltas.filter(col("delta") > 0).select(col("u"), col("v"))
    val del = edgeDeltas.filter(col("delta") < 0).select(col("u"), col("v"))
    val newE = oldE.union(ins).except(del).localCheckpoint(true)
    // DRIVER-GRAPH tier (guide §2.4): when the post-churn edge relation
    // is model-sized, the SAME affected-region algorithm runs entirely
    // in memory off one collect — the distributed shape below pays one
    // job per descendants-BFS level plus one per relaxation round, all
    // scheduling floor at this size. Identical algebra (affected =
    // descendants of delta dsts; unaffected rows pass through; region
    // re-solved from boundary + member seeds), so the output matches to
    // the bit. A type mix falls through to the distributed path, whose
    // BFS widens ids itself; 100-TB graphs are untouched.
    val local = incrementalBfsLocal(newE, dists, edgeDeltas, seeds,
      maxIter, cap, edgeCap)
    if (local.isDefined) return local.get
    val deltaDst = edgeDeltas.select(col("v").as("id")).distinct()
    val affected = bfsDistances(newE, deltaDst, maxIter, cap, edgeCap)
      .select(col("id")).localCheckpoint(true)
    val affectedN = affected.count()
    val unaffected = dists.join(
      if (affectedN <= 500000) broadcast(affected) else affected,
      Seq("id"), "left_anti").localCheckpoint(true)
    // region-internal + incoming edges: the only ones relaxation reads
    val regionE = newE.join(affected.withColumnRenamed("id", "v"),
      Seq("v"), "left_semi").localCheckpoint(true)
    val boundary = regionE
      .join(unaffected.select(col("id").as("u"), col("dist").as("du")), Seq("u"))
      .select(col("v").as("id"), (col("du") + 1).as("dist"))
    val seedsIn = seeds.select(col("id")).distinct()
      .join(affected, Seq("id"), "left_semi")
      .select(col("id"), lit(0L).as("dist"))
    val best0 = boundary.unionByName(seedsIn)
      .groupBy(col("id")).agg(min(col("dist")).as("dist"))
      .localCheckpoint(false)
    // Every key the relaxation can ever hold — entry points, candidate
    // levels, the final map — is an AFFECTED node, so affectedN alone
    // decides the path: under the cap the whole relaxation state fits
    // on the driver (same one-job-per-round shape as [[bfsDistances]]'
    // driver-held loop, and NO mid-loop spill is even reachable);
    // over it, the fully distributed loop below.
    if (affectedN <= cap) {
      import scala.jdk.CollectionConverters._
      val spark = edges0.sparkSession
      val idType = best0.schema("id").dataType
      val pairSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("u", idType),
        org.apache.spark.sql.types.StructField("du",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val best = scala.collection.mutable.HashMap[Any, Long]()
      best0.collect().foreach(r => best(r.get(0)) = r.getLong(1))
      var frontier: Array[(Any, Long)] = best.iterator.toArray
      var i = 0
      while (frontier.nonEmpty && i < maxIter) {
        val fDf = spark.createDataFrame(frontier.toSeq
          .map { case (id, d) => org.apache.spark.sql.Row(id, d) }.asJava,
          pairSchema)
        val cand = regionE.join(broadcast(fDf), Seq("u"))
          .groupBy(col("v")).agg((min(col("du")) + 1).as("nd")).collect()
        val improved = cand.iterator
          .map(r => (r.get(0), r.getLong(1)))
          .filter { case (id, nd) => best.get(id).forall(nd < _) }.toArray
        improved.foreach { case (id, nd) => best(id) = nd }
        frontier = improved
        i += 1
      }
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("dist",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val solved = spark.createDataFrame(best.iterator
        .map { case (id, d) => org.apache.spark.sql.Row(id, d) }
        .toSeq.asJava, outSchema)
      unaffected.unionByName(solved)
    } else {
      var best = best0
      var frontier = best
      var frontierN = best.count()
      def small(df: DataFrame, n: Long) =
        if (n >= 0 && n <= 500000) broadcast(df) else df
      var i = 0
      while (frontierN > 0 && i < maxIter) {
        val cand = regionE
          .join(small(frontier.select(col("id").as("u"), col("dist").as("du")),
            frontierN), Seq("u"))
          .groupBy(col("v")).agg((min(col("du")) + 1).as("nd"))
          .withColumnRenamed("v", "id")
        val improved = cand.join(best, Seq("id"), "left")
          .filter(col("dist").isNull || col("nd") < col("dist"))
          .select(col("id"), col("nd").as("dist"))
          .localCheckpoint(false)
        frontierN = improved.count()
        if (frontierN > 0) {
          best = best.join(small(improved, frontierN), Seq("id"), "left_anti")
            .unionByName(improved).localCheckpoint(false)
          frontier = improved
        }
        i += 1
      }
      unaffected.unionByName(best)
    }
  }

  /** The driver-graph tier of [[incrementalBfs]]: the identical
    * affected-region algebra over bounded reads of the post-churn edges
    * (by `edgeCap`) and of the node-sized delta dsts, stored distances
    * and seeds (by the node cap `cap`) — the edge read alone bounds none
    * of the others (a delta that deletes most of a huge graph leaves
    * few edges yet `dists` node-sized for the PRE-churn graph; a seed
    * set can be any size). None, after at most the reads so far, when
    * one breaches its cap or the id columns do not share one type.
    * Edges read first, so a large graph falls through after one read.
    */
  private[graft] def incrementalBfsLocal(newE: DataFrame, dists: DataFrame,
      edgeDeltas: DataFrame, seeds: DataFrame, maxIter: Int, cap: Int,
      edgeCap: Int): Option[DataFrame] = {
    val idType = newE.schema("u").dataType
    val idTypes = Seq(idType, newE.schema("v").dataType,
      dists.schema("id").dataType, seeds.schema("id").dataType)
    if (idTypes.distinct.size != 1) return None
    for {
      edgeRows <- Bounded.collect(newE, edgeCap)
      dstRows <- Bounded.collect(edgeDeltas.select(col("v")).distinct(), cap)
      distRows <- Bounded.collect(dists.select(col("id"), col("dist")), cap)
      seedRows <- Bounded.collect(seeds.select(col("id")).distinct(), cap)
    } yield incrementalBfsSolve(newE.sparkSession, idType,
      edgeRows.map(r => (r.get(0), r.get(1))), dstRows.map(_.get(0)),
      distRows, seedRows.map(_.get(0)), maxIter)
  }

  private def incrementalBfsSolve(spark: org.apache.spark.sql.SparkSession,
      idType: org.apache.spark.sql.types.DataType, edges: Array[(Any, Any)],
      deltaDstIds: Array[Any], distRows: Array[org.apache.spark.sql.Row],
      seedIds: Array[Any], maxIter: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    val adj = scala.collection.mutable.HashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
    edges.foreach { case (u, v) =>
      adj.getOrElseUpdate(u,
        scala.collection.mutable.ArrayBuffer.empty[Any]) += v
    }
    // affected = delta dsts + their new-graph descendants (the same
    // bounded BFS the distributed path runs)
    val affected = scala.collection.mutable.HashSet[Any](deltaDstIds.toSeq: _*)
    var frontier: Array[Any] = deltaDstIds
    var it = 0
    while (frontier.nonEmpty && it < maxIter) {
      frontier = frontier.iterator
        .flatMap(id => adj.getOrElse(id, Nil))
        .filter(affected.add).toArray
      it += 1
    }
    // splice: unaffected stored distances pass through untouched
    val unaffected = distRows.filter(r => !affected.contains(r.get(0)))
    val distMap = scala.collection.mutable.HashMap.empty[Any, Long]
    distRows.foreach(r => distMap(r.get(0)) = r.getLong(1))
    // region entry points: boundary edges from unaffected nodes at
    // dist+1, member seeds at 0; relax over region-internal edges
    val best = scala.collection.mutable.HashMap.empty[Any, Long]
    def offer(id: Any, d: Long): Boolean =
      if (best.get(id).forall(d < _)) { best(id) = d; true } else false
    edges.foreach { case (u, v) =>
      if (affected.contains(v) && !affected.contains(u))
        distMap.get(u).foreach(du => offer(v, du + 1))
    }
    seedIds.filter(affected.contains).foreach(offer(_, 0L))
    val regionAdj = scala.collection.mutable.HashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
    edges.foreach { case (u, v) =>
      if (affected.contains(u) && affected.contains(v))
        regionAdj.getOrElseUpdate(u,
          scala.collection.mutable.ArrayBuffer.empty[Any]) += v
    }
    var relax: Array[(Any, Long)] = best.iterator.toArray
    it = 0
    while (relax.nonEmpty && it < maxIter) {
      val cand = scala.collection.mutable.HashMap.empty[Any, Long]
      relax.foreach { case (u, du) =>
        regionAdj.getOrElse(u, Nil).foreach { v =>
          val nd = du + 1
          if (cand.get(v).forall(nd < _)) cand(v) = nd
        }
      }
      relax = cand.iterator.filter { case (v, nd) => offer(v, nd) }.toArray
      it += 1
    }
    // dist is nullable = false to match bfsDistances / the distributed
    // incrementalBfs tiers bit-for-bit (schema parity included)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("dist",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = unaffected.iterator
      .map(r => org.apache.spark.sql.Row(r.get(0), r.getLong(1))) ++
      best.iterator.map { case (id, d) => org.apache.spark.sql.Row(id, d) }
    spark.createDataFrame(rows.toSeq.asJava, outSchema)
  }

  /** Deterministic train/val/test split by multiplicative integer hash
    * (Knuth 2654435761 mod 2^32) of the id — reproducible across runs,
    * engines, and partitionings, unlike rand()-based sampling, and
    * expressible in plain integer SQL so an external system can compute
    * the identical split. Boundaries: [0,.8) train, [.8,.9) val,
    * [.9,1) test of the 2^32 hash space.
    *
    * The id is reduced mod 2^30 BEFORE the multiply: a raw id × 2^31.3
    * multiplier overflows signed 64-bit for ids above ~3.5e9 (reachable
    * in a 100 TB corpus) — an ANSI-mode runtime error in Spark 4 and
    * DuckDB, a silent wrap otherwise. (2^30−1)·2654435761 < 2^62 keeps
    * every intermediate in range in ANY engine evaluating the same SQL.
    */
  private[graft] def knuthHash(id: Column, multiplier: Long): Column =
    pmod(pmod(id, lit(1073741824L)) * lit(multiplier), lit(4294967296L))

  def hashSplit(df: DataFrame, idCol: String): DataFrame = {
    val h = knuthHash(col(idCol), 2654435761L)
    df.withColumn("split",
      when(h < lit(3435973837L), "train")
        .when(h < lit(3865470566L), "val")
        .otherwise("test"))
  }

  /** CORPUS-LEARNED stopword scrub — [[removeStopwords]] with the stop
    * set DERIVED from the corpus instead of declared: a token is
    * boilerplate iff it appears in more than `maxShare` of the live
    * documents (the df/N test every web-corpus cleaning recipe applies
    * before training). `termDf` is any (token, df) relation — q134's
    * MAINTAINED term-posting fold serves it without a corpus rescan —
    * and `nDocs` is a 1-row (n) relation, so the threshold is data, not
    * a collected constant. Shape: positional explode → broadcast-sized
    * anti-join against the stop set → per-doc ordered re-assembly (one
    * shuffle keyed by doc). Docs whose every token is boilerplate
    * survive with empty clean_text — the scrub never drops a document.
    * `maxShare` is a RATIONAL num/den so the cut is integer arithmetic
    * (df · den > n · num), engine-exact.
    */
  def scrubFrequentTokens(docs: DataFrame, idCol: String, textCol: String,
      termDf: DataFrame, nDocs: DataFrame,
      shareNum: Long = 1L, shareDen: Long = 2L): DataFrame = {
    val stop = termDf.crossJoin(broadcast(nDocs)) // 1-row corpus total
      .filter(col("df") * shareDen > col("n") * shareNum)
      .select(col("token"))
    val toks = docs.select(col(idCol), size(split(col(textCol), " "))
        .cast("long").as("_n_tok"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "token")))
    val kept = toks.join(stop, Seq("token"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("token")))),
        x => x.getField("token")), " ").as("clean_text"),
        count(lit(1)).as("_kept"), first(col("_n_tok")).as("_nt"))
    docs.select(col(idCol), size(split(col(textCol), " "))
        .cast("long").as("_orig"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("_orig") - coalesce(col("_kept"), lit(0L))).as("n_removed"))
  }

  /** Stopword scrub: remove the given tokens from the text, reporting
    * how many were dropped. Pure codegen'd array functions (split /
    * filter / array_join) — single pass, no UDF, no shuffle.
    */
  def removeStopwords(docs: DataFrame, textCol: String,
      stopwords: Seq[String]): DataFrame = {
    val stop = typedlit(stopwords)
    val toks = split(col(textCol), " ")
    val kept = filter(toks, t => !array_contains(stop, t))
    docs.withColumn("clean_text", array_join(kept, " "))
      .withColumn("n_removed", (size(toks) - size(kept)).cast("long"))
  }

  /** Deterministic stratified sampling: keep a row iff its id-hash falls
    * below the stratum's rate threshold in the 2^32 hash space. Same
    * reproducibility story as [[hashSplit]] — no rand(), identical
    * result on any engine/partitioning — but with a DIFFERENT odd
    * multiplier (xxHash's prime32_2), so the sample is decorrelated from
    * the train/val/test split: sampling with the split's own hash would
    * silently sample only from fixed split regions.
    */
  def stratifiedSample(df: DataFrame, idCol: String, rate: Column): DataFrame = {
    val h = knuthHash(col(idCol), 2246822519L)
    df.filter(h < rate * lit(4294967296L))
  }

  /** Corpus MIXING: resample to a target distribution — `share` of the
    * corpus, split EQUALLY across the values of `stratumCol` (the
    * "balance the languages / sources" step of training-data assembly;
    * per-stratum targets beyond uniform are a rate-column swap). Each
    * stratum's acceptance rate is derived from its actual count
    * (min(1, target/n_s)) and applied with the same deterministic
    * Knuth-hash rule as [[stratifiedSample]], so membership is
    * reproducible, engine-portable, and independent of row order.
    * Shape: one count aggregate (stratum-cardinality rows, broadcast
    * back) + one map-side filter — no data shuffle.
    */
  def resampleToShare(df: DataFrame, stratumCol: String, idCol: String,
      share: Double): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_n_s"))
    // Corpus total and stratum count both reduce from the (tiny)
    // per-stratum counts relation — never a second scan of df.
    val tot = counts.agg(sum(col("_n_s")).as("_n"), count(lit(1)).as("_k"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col(stratumCol),
        least(lit(1.0), col("_n") * share / col("_k") / col("_n_s")).as("_rate"))
    stratifiedSample(df.join(broadcast(rates), stratumCol), idCol, col("_rate"))
      .drop("_rate")
  }

  /** Deterministic per-group contribution cap: keep at most `k` rows
    * per group, chosen by the decorrelated id-hash order — the
    * source-mixing step that stops one crawl / domain / dump from
    * dominating a training corpus. Reuses [[stratifiedSample]]'s hash
    * (NOT the split hash — capping with the split's own hash would keep
    * only fixed split regions), so the kept set is a reproducible
    * "random" k on any engine and any partitioning, no rand(). The
    * ranking window is partitioned BY THE GROUP — per-group state only,
    * never a global sort.
    */
  def capPerGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(knuthHash(col(idCol), 2246822519L), col(idCol))
    df.withColumn("grp_rank", row_number().over(w).cast("long"))
      .filter(col("grp_rank") <= k)
  }

  /** Token-budget shard packing: documents (in id order) are laid end to
    * end and cut into shards of ~`budget` weight — the training-shard
    * assembly step of a data pipeline (weight = token count). shard_id =
    * floor(prefix_weight_before / budget).
    *
    * A naive `sum() OVER (ORDER BY id)` global-order window funnels the
    * corpus through ONE partition; this is the classic two-phase
    * parallel prefix sum instead: ids are chunked (`chunk` consecutive
    * ids per bucket), per-bucket totals make a tiny relation whose
    * running sum is windowed on a single partition of #buckets ROWS
    * (metadata, not data), and each bucket's offset joins back
    * (broadcast) to an intra-bucket window partitioned BY bucket. All
    * integer arithmetic — the shard boundary never hinges on float
    * rounding.
    *
    * `chunk = 0` (the default) derives the chunk from a cheap
    * column-pruned `max(id)` scan so the bucket relation is capped at
    * ~1e5 rows at ANY id domain — the fixed-chunk form put max_id/chunk
    * rows through the offsets window's single task, which at a 10^9-row
    * dense domain was 10^6 rows and growing linearly with the corpus
    * (mirrors trainCentroids' `sampleMod = 0` auto stride). shard_id
    * depends only on prefix weights in id order, never on the chunking,
    * so any chunk value yields the identical result.
    */
  def packShards(docs: DataFrame, idCol: String, weight: Column,
      budget: Long, chunk: Long = 0): DataFrame = {
    val c = if (chunk > 0) chunk else deriveChunk(docs, idCol)
    val W = org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol), weight.cast("long").as("w"),
      floor(col(idCol) / c).cast("long").as("_bkt"))
    val offs = base.groupBy(col("_bkt")).agg(sum(col("w")).as("bw"))
      .withColumn("_off", coalesce(
        sum(col("bw")).over(
          W.orderBy(col("_bkt")).rowsBetween(W.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("_bkt"), col("_off"))
    val before = coalesce(
      sum(col("w")).over(
        W.partitionBy(col("_bkt")).orderBy(col(idCol))
          .rowsBetween(W.unboundedPreceding, -1)),
      lit(0L)) + col("_off")
    base.join(broadcast(offs), Seq("_bkt"))
      .withColumn("_before", before)
      // exact-multiple double division is exact; stay integral anyway
      .withColumn("shard_id",
        ((col("_before") - pmod(col("_before"), lit(budget))) / budget).cast("long"))
      .select(col(idCol), col("w").as("n_tokens"), col("shard_id"))
  }

  /** Shard MANIFEST — the reproducible data-loading contract a packed
    * corpus export ships alongside its shards: per shard, the document
    * count, token total, id range, and a cross-engine CONTENT checksum
    * (md5 of the shard's texts concatenated in doc-id order with a
    *  separator — the q90 pattern: any byte drift in any
    * document, or any doc landing in the wrong shard, changes the
    * hash), so a training loader can verify each shard it reads
    * against the manifest without touching neighbors. Built on
    * [[packShards]]' deterministic assignment; the per-shard aggregate
    * holds one shard's texts, which the token budget bounds by
    * construction — manifest memory is budget-sized, never corpus-
    * sized.
    */
  def shardManifest(docs: DataFrame, idCol: String, textCol: String,
      budget: Long): DataFrame = {
    val packed = packShards(docs, idCol,
      size(split(col(textCol), " ")), budget)
    packed
      .join(docs.select(col(idCol), col(textCol).as("_t")), Seq(idCol))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col(idCol)).as("min_doc_id"),
        max(col(idCol)).as("max_doc_id"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col(idCol), col("_t")))),
            s => s.getField("_t")), "\u0001")).as("checksum"))
  }

  /** Auto chunk for [[packShards]]: ceil((max(id)+1) / 1e5), so the
    * id-bucket count — the rows through the offsets window's single
    * task — never exceeds ~1e5 regardless of id-domain size or density.
    */
  private[graft] def deriveChunk(docs: DataFrame, idCol: String): Long = {
    val row = docs.agg(max(col(idCol).cast("long"))).head()
    val maxId = if (row.isNullAt(0)) 0L else row.getLong(0)
    math.max(1L, maxId / 100000L + 1L)
  }

  /** BM25 retrieval scoring against a fixed query-token set — the
    * lexical-retrieval pass of retrieval-based curation (find the
    * corpus documents most relevant to a probe query: near-benchmark
    * contamination hunting, topic surfacing, eval-neighbor audits).
    * Emits (doc_id, bm25) for every document containing at least one
    * query token; ranking/cutoff is the caller's (`orderBy.limit`
    * plans as TakeOrderedAndProject).
    *
    * Shape at scale: the explode is filtered to the query tokens BEFORE
    * any aggregation, so the shuffled relation is |matching tokens|
    * rows, not the corpus token stream; df (per query token) and the
    * corpus stats (N, avg len) are 1-to-|query| row relations joined by
    * broadcast. One keyed tf aggregate + one keyed score sum.
    *
    * BM25 (k1, b standard): idf = ln((N - df + 0.5)/(df + 0.5) + 1),
    * score = Σ idf · tf·(k1+1) / (tf + k1·(1 − b + b·len/avgLen)).
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queryTokens: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).as("len"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token").isin(queryTokens: _*))
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), max(col("len")).as("len"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      avg(size(split(col(textCol), " "))).as("avg_len"))
    val idf = log(
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    tf.join(broadcast(df), "token").crossJoin(broadcast(stats))
      .withColumn("s", idf * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / col("avg_len"))))
      .groupBy(col("doc_id")).agg(sum(col("s")).as("bm25"))
  }

  /** Signed TERM-POSTING deltas of a documents LWW delta relation
    * (StatefulLww.Delta shape: key/rowJson/prevJson) — the third
    * CDC-MAINTAINED index family after the LSH pair index
    * (MinHashLsh.indexDeltaStream) and the IVF posting index
    * (VectorSearch.postingDeltas): each document delta contributes
    * +term-frequencies for its new text and −term-frequencies for its
    * prev text, netted per (doc, token). The fold is order-free ±
    * algebra, so summing over ANY batch layout of the log lands on the
    * live index: a revision's old terms telescope away, a deletion
    * zeroes the doc's postings entirely. Per-delta cost is the delta
    * DOC's tokens — never corpus-sized.
    */
  def termPostingDeltas(deltas: DataFrame,
      textField: String = "text"): DataFrame =
    signedTexts(deltas, textField)
      .select(col("doc_id"), col("sgn"),
        explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(sum(col("sgn")).cast("long").as("d"))
      .filter(col("d") =!= 0)

  /** Signed DOC-LENGTH deltas (doc_id, ±token-count) of the same delta
    * relation — the maintained corpus statistics (N, avgdl) BM25 needs,
    * as the same ± fold.
    */
  def docLenDeltas(deltas: DataFrame, textField: String = "text"): DataFrame =
    signedTexts(deltas, textField)
      .groupBy(col("doc_id"))
      .agg(sum(col("sgn") * size(split(col("text"), " "))).cast("long").as("d"))
      .filter(col("d") =!= 0)

  private def signedTexts(deltas: DataFrame, textField: String): DataFrame =
    graft.streaming.StatefulLww.signed(deltas,
      get_json_object(_, s"$$.$textField").as("text"),
      col("key").cast("long").as("doc_id"))
      .select(col("doc_id"), col("c.sgn").as("sgn"), col("c.text").as("text"))

  /** Fold a term-posting delta log to the LIVE index: net tf per
    * (token, doc) — live iff > 0.
    */
  def liveTermPostings(postingDeltas: DataFrame): DataFrame =
    postingDeltas.groupBy(col("token"), col("doc_id"))
      .agg(sum(col("d")).cast("long").as("tf"))
      .filter(col("tf") > 0)

  /** Fold a doc-length delta log to the live (doc_id, len) relation. */
  def liveDocLens(lenDeltas: DataFrame): DataFrame =
    lenDeltas.groupBy(col("doc_id"))
      .agg(sum(col("d")).cast("long").as("len"))
      .filter(col("len") > 0)

  /** BM25 retrieval scoring served FROM the maintained index — the
    * same formula as [[bm25]], but every input (tf, df, len, N, avgdl)
    * comes from the folded posting/length relations instead of a
    * corpus scan: the production read path of a CDC-maintained search
    * index. Bit-compatible with [[bm25]] over the live corpus, which
    * is what q134's oracle certifies.
    */
  def bm25FromIndex(postings: DataFrame, docLens: DataFrame,
      queryTokens: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val tf = postings.filter(col("token").isin(queryTokens: _*))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val stats = docLens.agg(count(lit(1)).as("n_docs"),
      avg(col("len")).as("avg_len"))
    val idf = log(
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    tf.join(docLens, "doc_id")
      .join(broadcast(df), "token").crossJoin(broadcast(stats))
      .withColumn("s", idf * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / col("avg_len"))))
      .groupBy(col("doc_id")).agg(sum(col("s")).as("bm25"))
  }

  /** SUB-document dedup (the CCNet/Dolma line-level pass): across the
    * whole corpus, each distinct segment survives only at its FIRST
    * occurrence — ordered by (doc_id, seg_idx) — and every document is
    * reassembled from its surviving segments in original order
    * (documents whose every segment was seen earlier disappear).
    * Whole-doc dedup ([[graft.ops.Dedup]]) misses boilerplate repeated
    * INSIDE otherwise-distinct pages; this pass removes it.
    *
    * `segments` is any expression producing `array<string>` — the
    * operator is segmenter-agnostic (newline split, sentence split, the
    * disjoint token windows q81 uses — whatever the corpus supports).
    *
    * Scale shape: the first-occurrence winner per segment is
    * `min(struct(doc_id, seg_idx))` — a HASH AGGREGATE with map-side
    * partial merge, so a boilerplate segment duplicated 10^9 times
    * costs one candidate per map task in the shuffle, not 10^9 sorted
    * rows in one reducer (the row_number-window formulation the oracle
    * states has exactly that skew funnel). Reassembly is a second keyed
    * aggregate over the winners only. Two shuffles total, both keyed,
    * no join back to the exploded relation.
    */
  def dedupSegments(docs: DataFrame, idCol: String, segments: Column): DataFrame = {
    val ex = docs.select(col(idCol).cast("long").as("doc_id"), posexplode(segments))
      .select(col("doc_id"), col("pos").cast("long").as("seg_idx"), col("col").as("seg"))
    val winners = ex.groupBy(col("seg"))
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.seg_idx").as("seg_idx"), col("seg"))
    winners.groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          s => s.getField("seg")), " ").as("text_dedup"))
  }

  /** Fixed-window training-chunk split: each document's token stream is
    * cut into windows of `window` tokens every `stride` tokens (overlap
    * = window − stride) — the context-length packing step that turns
    * variable-length documents into model-sized training samples
    * (upstream of [[packShards]], which budgets whole docs into shards).
    * Chunk starts are 0, stride, 2·stride, … while < n_tokens; the tail
    * chunk may be short. Pure per-row explode — one scan, no shuffle.
    */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride,
      "window >= stride > 0 (gaps would drop tokens)")
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(t) - 1) div $stride), " +
          s"i -> slice(t, i * $stride + 1, $window))")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        size(col("col")).cast("long").as("n_tok"),
        concat_ws(" ", col("col")).as("chunk_text"))
  }

  /** Inverted index build: token → ascending posting list of documents
    * containing it (+ document frequency). One explode + one hash
    * aggregate; postings are emitted as a CSV string (bounded by corpus
    * here — a production index would chunk hot tokens' postings into
    * fixed-size blocks, which is this same query windowed by
    * row_number() DIV blocksize).
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // no pre-distinct: collect_set deduplicates (map-side too, in the
    // ObjectHashAggregate partial), so a distinct() here would shuffle
    // the exploded corpus — the largest intermediate — a second time
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("token"))
      .groupBy(col("token"))
      .agg(sort_array(collect_set(col("doc_id"))).as("_p"))
      .select(col("token"), array_join(col("_p"), ",").as("postings"),
        size(col("_p")).cast("long").as("df"))
  }

  /** All-pairs sparse cosine similarity over shingle TF-IDF vectors —
    * the inverted-index formulation of the text-similarity join: each
    * document is a sparse vector in shingle space, candidate pairs are
    * generated ONLY where a shingle is shared (self-join on the shingle,
    * never on the documents), and the cosine is assembled from partial
    * dot products per pair.
    *
    * Scale shape: the join fan-out is Σ_shingle df², and BOTH tails are
    * pruned before the join — df < `minDf` shingles cannot produce a
    * pair (at this corpus' 3-gram sparsity that is ~58 % of the index),
    * and df > `maxDf` shingles are dropped DISCO-style (a shingle in
    * thousands of documents contributes df² candidate rows but near-zero
    * IDF weight — all cost, no signal). With the cap, candidate volume
    * is ≤ maxDf · |index| — linear in the corpus for a fixed cap — and
    * the shuffle key is the shingle, so skew is bounded by maxDf too.
    *
    * Engine-stable arithmetic: weights are INTEGER-scaled
    * (round(tf·ln(N/df)·1e5), the q42 rank-key rule), so dot products
    * and norms are exact integer sums accumulated in DECIMAL(38,0)
    * (a long sum overflows once wᵢ reaches ~1e9 at web-corpus N), and
    * the final cosine is computed from identical integers on any
    * engine — division and sqrt are correctly rounded per IEEE-754, so
    * the doubles match bit-for-bit and a threshold can sit anywhere.
    * Norms ride THROUGH the inverted index rows (min() in the pair
    * aggregate) instead of joining norm tables onto the pair output.
    */
  def sparseCosinePairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minCos: Double = 0.5,
      minDf: Int = 2, maxDf: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The weight chain (tf → df-prune → IDF weight → norm) is consumed
    // ONCE: df and n2 come from windows over the same keyed relation
    // rather than groupBy+join-back (which would re-execute the
    // exploded-corpus subtree per consumer), and the pair generation is
    // a per-shingle posting-list expansion instead of a self-join — a
    // self-join's two branches each replay the whole chain. Every stage
    // here runs exactly once.
    val tf = Shingles.tokenShinglesRaw(docs, idCol, textCol, shingleN)
      .groupBy(col("id"), col("s")).agg(count(lit(1)).as("tf"))
    val n = docs.select(count(lit(1)).as("n"))
    val w = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("df").between(minDf, maxDf))
      .crossJoin(broadcast(n))
      .select(col("id"), col("s"),
        round(col("tf").cast("double")
          * log(col("n").cast("double") / col("df")) * 1e5).cast("long").as("wi"))
    val wn = w.withColumn("n2",
      sum((col("wi") * col("wi")).cast("decimal(38,0)"))
        .over(Window.partitionBy(col("id"))))
    // Posting list per shingle, ordered by id; pairwise expansion is
    // bounded by maxDf² per shingle — the df cap is what keeps both
    // this array and the hottest shuffle key small at any corpus size.
    val postings = wn.groupBy(col("s"))
      .agg(sort_array(collect_list(
        struct(col("id"), col("wi"), col("n2")))).as("ps"))
    postings
      // df < 2 shingles can't reach here while minDf ≥ 2, but guard
      // anyway: sequence(0, -1) would COUNT DOWN, not return empty
      .filter(size(col("ps")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ps) - 2), i ->
          |  transform(sequence(i + 1, size(ps) - 1), j ->
          |    struct(ps[i].id AS doc_a, ps[j].id AS doc_b,
          |           ps[i].wi * ps[j].wi AS prod,
          |           ps[i].n2 AS na2, ps[j].n2 AS nb2))))""".stripMargin)).as("p"))
      .select(col("p.*"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("prod").cast("decimal(38,0)")).as("dot"),
        min(col("na2")).as("na2"), min(col("nb2")).as("nb2"))
      .withColumn("cosine", col("dot").cast("double") /
        sqrt(col("na2").cast("double") * col("nb2").cast("double")))
      .filter(col("cosine") >= minCos)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
  }

  /** Hybrid retrieval: reciprocal-rank fusion of a lexical (BM25) and a
    * semantic (embedding-cosine) ranking — the standard two-tower
    * serving pattern (fused score = Σ 1/(rrfK + rank) over the lists a
    * doc appears in, rank from each list's top `listK`).
    *
    * Engine-stable ranking: each list is ranked on an INTEGER-scaled
    * score key (the q42 rank-key rule — raw double scores agree across
    * engines to ~12 digits, integer keys make the order identical),
    * ties to the smaller doc id; the fused score is then built from
    * integer ranks by one division per list — identical doubles on any
    * engine.
    *
    * Scale shape: both top-`listK` cuts plan as TakeOrderedAndProject
    * (per-partition heaps + driver merge of listK rows — never a global
    * sort), and ranks are assigned by position in the one collected
    * listK-row array, so no window touches an unbounded relation. The
    * semantic list here is the exact scan (the oracle-checkable form);
    * at corpus scale the same fusion takes the ANN candidate list
    * (VectorSearch.ivfSearch / ivfPqSearch) as a drop-in replacement.
    */
  def hybridRetrieve(docs: DataFrame, embeddings: DataFrame,
      queryTokens: Seq[String], queryVecId: Long, listK: Int = 100,
      topK: Int = 20, rrfK: Int = 60): DataFrame =
    rrfFuse(
      rankedTop(
        bm25(docs, "doc_id", "text", queryTokens)
          .select(col("doc_id"),
            floor(col("bm25") * 1e5 + 0.5).cast("long").as("key")),
        "r_lex", listK),
      semanticRankedTop(embeddings, queryVecId, listK),
      topK, rrfK)

  /** Hybrid retrieval served FROM THE MAINTAINED STORES — the
    * composition that turns the CDC-maintained index families into one
    * product: [[hybridRetrieve]]'s exact fusion with the lexical list
    * scored by [[bm25FromIndex]] over the folded ± term-posting /
    * doc-length relations (q134's store — no corpus scan) and the
    * semantic list scored over the live IVF posting relation
    * (VectorSearch.livePostings — q119's store; the query vector is
    * read from the SAME store, so a negated/deleted vector serves its
    * maintained state, never the bootstrap snapshot). Identical output
    * to the from-scratch formulation over the post-traffic corpus —
    * which is exactly what the q138 oracle certifies.
    *
    * The semantic side is the exact scan of the store (oracle-checkable
    * ranking); at corpus scale the same fusion takes the ANN candidate
    * list from the SAME postings (VectorSearch.knnIvfFromPostings) as a
    * drop-in — q119 certifies that path's recall on this store.
    */
  def hybridFromStores(postings: DataFrame, docLens: DataFrame,
      vecStore: DataFrame, queryTokens: Seq[String], queryVecId: Long,
      listK: Int = 100, topK: Int = 20, rrfK: Int = 60): DataFrame =
    rrfFuse(
      rankedTop(
        bm25FromIndex(postings, docLens, queryTokens)
          .select(col("doc_id"),
            floor(col("bm25") * 1e5 + 0.5).cast("long").as("key")),
        "r_lex", listK),
      semanticRankedTop(vecStore, queryVecId, listK),
      topK, rrfK)

  /** [[hybridFromStores]] at the AT-SCALE operating point: the semantic
    * list comes from the ANN candidate path over the SAME live posting
    * relation ([[VectorSearch.knnIvfFromPostings]] — the query touches
    * only its nProbe probed cells' postings, never the whole store),
    * the lexical list unchanged (BM25 already reads only the query
    * terms' postings). The probe path excludes the query's own row, so
    * it is re-added at the exact self-cosine key the exact list ranks
    * first — making the two semantic lists directly comparable, which
    * is what q157's engine-checked fused-recall certificate compares:
    * the ANN fusion must recover the declared floor of the exact
    * fusion's top-k (the q145 guarantee-band discipline applied to the
    * COMPOSED ranking, not just the vector leg).
    */
  def hybridFromStoresAnn(postings: DataFrame, docLens: DataFrame,
      vecStore: DataFrame, queryTokens: Seq[String], queryVecId: Long,
      cents: Array[Array[Float]], nProbe: Int = 4, listK: Int = 100,
      topK: Int = 20, rrfK: Int = 60): DataFrame = {
    val qRow = vecStore.filter(col("vec_id") === queryVecId)
      .select(col("vec_id"), col("embedding"))
    val sem = VectorSearch
      .knnIvfFromPostings(qRow, vecStore, listK - 1, cents, nProbe)
      .select(col("n_vec_id").as("doc_id"),
        floor(col("cos_sim") * 1e6 + 0.5).cast("long").as("key"))
      .unionByName(qRow.select(col("vec_id").as("doc_id"),
        lit(1000000L).as("key")))
    rrfFuse(
      rankedTop(
        bm25FromIndex(postings, docLens, queryTokens)
          .select(col("doc_id"),
            floor(col("bm25") * 1e5 + 0.5).cast("long").as("key")),
        "r_lex", listK),
      rankedTop(sem, "r_sem", listK),
      topK, rrfK)
  }

  /** [[hybridFromStoresAnn]] under a PRE-FILTER with a SELECTIVITY-
    * ADAPTIVE semantic width — the q158/q164 adaptive-probe policy
    * carried into the COMPOSED ranking (the r12 verdict's hybrid-parity
    * task): both legs search only the allowed corpus (the lexical leg's
    * BM25 stats re-derive over the allowed slice — a tenant's df/avgdl,
    * not the global corpus'), and the ANN leg's probe width derives
    * from the LIVE allowed count via [[VectorSearch.adaptiveProbes]]
    * (clamp(ceil(oversample·listK·nCells / nAllowed), nProbe, nCells)),
    * so sharp filters degrade gracefully toward the exact scan of the
    * matching sliver. The query vector must itself be allowed
    * (pre-filter semantics: an excluded query row has no self-hit and
    * its fused ranking is a different contract — fail loud).
    *
    * Returns (fused top-k, probes used, nAllowed) — the width and count
    * belong in the caller's certificate row, q164's lesson.
    */
  def hybridFromStoresAnnFiltered(postings: DataFrame, docLens: DataFrame,
      vecStore: DataFrame, allowed: DataFrame, queryTokens: Seq[String],
      queryVecId: Long, cents: Array[Array[Float]], nProbe: Int = 8,
      listK: Int = 100, topK: Int = 20, rrfK: Int = 60)
      : (DataFrame, Int, Long) = {
    val allow = allowed.select(col("vec_id")).distinct().localCheckpoint(true)
    val allowedVec = vecStore.join(allow, Seq("vec_id"), "left_semi")
      .localCheckpoint(true)
    // one job: the live allowed count AND the query-present check
    // (the certificate's fused aggregate — the SERVING path must not
    // pay two extra jobs its offline companion already avoids)
    val agg = allowedVec.agg(count(lit(1)).as("n"),
      max(when(col("vec_id") === queryVecId, 1).otherwise(0)).as("hasq"))
      .head()
    val nAllowed = agg.getLong(0)
    require(nAllowed > 0L && agg.getInt(1) == 1,
      s"hybridFromStoresAnnFiltered: query vector $queryVecId is not in " +
        "the allowed set — pre-filter semantics have no self-hit for an " +
        "excluded query; filter with the query included or use the " +
        "unfiltered fusion")
    val probes = VectorSearch.adaptiveProbes(cents.length, nProbe, listK,
      nAllowed)
    val allowedPostings = postings.join(
      allow.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val allowedLens = docLens.join(
      allow.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val qRow = allowedVec.filter(col("vec_id") === queryVecId)
      .select(col("vec_id"), col("embedding"))
    val sem = VectorSearch
      .knnIvfFromPostings(qRow, allowedVec, listK - 1, cents, probes)
      .select(col("n_vec_id").as("doc_id"),
        floor(col("cos_sim") * 1e6 + 0.5).cast("long").as("key"))
      .unionByName(qRow.select(col("vec_id").as("doc_id"),
        lit(1000000L).as("key")))
    val fused = rrfFuse(
      rankedTop(
        bm25FromIndex(allowedPostings, allowedLens, queryTokens)
          .select(col("doc_id"),
            floor(col("bm25") * 1e5 + 0.5).cast("long").as("key")),
        "r_lex", listK),
      rankedTop(sem, "r_sem", listK),
      topK, rrfK)
    (fused, probes, nAllowed)
  }

  /** Certificate evaluation of the filtered hybrid at ONE selectivity
    * band: runs the adaptive ANN fusion and its exact companion over
    * the allowed slice and returns (nAllowed, probes, fused recall ≥
    * floor). The LEXICAL leg is identical in both fusions by
    * construction (same allowed postings, same tokens), so it is
    * ranked ONCE and shared — a certificate sweep across bands pays
    * one BM25 per band, not two; the two semantic legs (exact cosine
    * vs adaptive IVF) are the thing being compared. This is the
    * offline-certification form; production serving stays
    * [[hybridFromStoresAnnFiltered]].
    */
  def filteredHybridCertificate(postings: DataFrame, docLens: DataFrame,
      vecStore: DataFrame, allowed: DataFrame, queryTokens: Seq[String],
      queryVecId: Long, cents: Array[Array[Float]], nProbe: Int = 8,
      listK: Int = 100, topK: Int = 20, rrfK: Int = 60,
      recallFloor: Double = 0.6): (Long, Int, Boolean) = {
    val allow = allowed.select(col("vec_id")).distinct().localCheckpoint(true)
    val allowedVec = vecStore.join(allow, Seq("vec_id"), "left_semi")
      .localCheckpoint(true)
    // one job: the band's live count AND the query-present check — this
    // aggregate also ABSORBS the caller's empty-band probe (an EMPTY
    // band certifies the saturated width vacuously: nothing to serve,
    // nothing to recall-check), so a band sweep pays no separate
    // isEmpty/checkpoint actions per band
    val agg = allowedVec.agg(count(lit(1)).as("n"),
      max(when(col("vec_id") === queryVecId, 1).otherwise(0)).as("hasq"))
      .head()
    val nAllowed = agg.getLong(0)
    if (nAllowed == 0L) return (0L, cents.length, true)
    require(agg.getInt(1) == 1,
      s"filteredHybridCertificate: query vector $queryVecId is not in " +
        "the allowed set — pre-filter semantics have no self-hit for an " +
        "excluded query")
    val probes = VectorSearch.adaptiveProbes(cents.length, nProbe, listK,
      nAllowed)
    val allowD = allow.select(col("vec_id").as("doc_id"))
    val lex = rankedTop(
      bm25FromIndex(
        postings.join(allowD, Seq("doc_id"), "left_semi"),
        docLens.join(allowD, Seq("doc_id"), "left_semi"), queryTokens)
        .select(col("doc_id"),
          floor(col("bm25") * 1e5 + 0.5).cast("long").as("key")),
      "r_lex", listK).localCheckpoint(true)
    val qRow = allowedVec.filter(col("vec_id") === queryVecId)
      .select(col("vec_id"), col("embedding"))
    val semAnn = VectorSearch
      .knnIvfFromPostings(qRow, allowedVec, listK - 1, cents, probes)
      .select(col("n_vec_id").as("doc_id"),
        floor(col("cos_sim") * 1e6 + 0.5).cast("long").as("key"))
      .unionByName(qRow.select(col("vec_id").as("doc_id"),
        lit(1000000L).as("key")))
    val semExact = allowedVec.crossJoin(broadcast(
        qRow.select(col("embedding").as("q_emb"))))
      .select(col("vec_id").as("doc_id"),
        floor(VectorSearch.cosine(col("embedding"), col("q_emb")) * 1e6 + 0.5)
          .cast("long").as("key"))
    val exactTop = rrfFuse(lex, rankedTop(semExact, "r_sem", listK),
      topK, rrfK).select(col("doc_id"))
    val annTop = rrfFuse(lex, rankedTop(semAnn, "r_sem", listK),
      topK, rrfK).select(col("doc_id"))
    // ONE action for the fused-recall floor: total and hit counts from
    // a single aggregate over a hit-marker left-join (was a checkpoint
    // + two count jobs — the certificate is job-count-bound)
    val hitRow = exactTop.join(
      annTop.withColumn("_hit", lit(1)).dropDuplicates("doc_id"),
      Seq("doc_id"), "left")
      .agg(count(lit(1)).as("_nt"),
        sum(coalesce(col("_hit"), lit(0))).as("_nh")).head()
    val nTot = hitRow.getLong(0)
    val nHit = if (hitRow.isNullAt(1)) 0L else hitRow.getLong(1)
    (nAllowed, probes, nTot == 0L || nHit.toDouble >= recallFloor * nTot)
  }

  /** Integer-keyed rank assignment of a scored list's top `listK` (the
    * q42 rank-key rule; ties to the smaller doc id): TakeOrderedAndProject
    * cut, ranks by position in the one collected listK-row array — no
    * window over an unbounded relation.
    */
  private def rankedTop(scored: DataFrame, rankName: String,
      listK: Int): DataFrame =
    scored
      .orderBy(col("key").desc, col("doc_id"))
      .limit(listK)
      .agg(sort_array(collect_list(
        struct((-col("key")).as("nk"), col("doc_id")))).as("l"))
      .select(posexplode(col("l")))
      .select(col("col.doc_id").as("doc_id"),
        (col("pos") + 1).cast("long").as(rankName))

  /** The semantic list: exact cosine of every stored vector against the
    * store's own `queryVecId` row, integer-scaled rank key.
    */
  private def semanticRankedTop(vectors: DataFrame, queryVecId: Long,
      listK: Int): DataFrame = {
    val qv = vectors.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    rankedTop(
      vectors.crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          floor(VectorSearch.cosine(col("embedding"), col("q_emb")) * 1e6 + 0.5)
            .cast("long").as("key")),
      "r_sem", listK)
  }

  private def rrfFuse(lex: DataFrame, sem: DataFrame, topK: Int,
      rrfK: Int): DataFrame =
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("r_sem")), lit(0.0)))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(topK)
      .select(col("doc_id"), col("r_lex"), col("r_sem"), col("rrf"))

  /** CDC-MAINTAINED curation funnel — the flagship LLM-pipeline
    * composition (q69's per-stage survivor counts) over the LIVE
    * corpus, derived from the documents DELTA LOG and the maintained
    * LSH pair index instead of a text rescan:
    *
    *  - s0/s1 (total, quality gate) and the per-(doc, text) live rows
    *    are pure ± folds of the log (the additive-LWW property every
    *    maintained index here rides: a revision's −prev telescopes its
    *    +insert away, a delete nets the doc to zero) with the
    *    integer-only gate evaluated on fold output — per-batch cost is
    *    the churn's rows.
    *  - s2 (exact dedup) elects min live doc_id per text among gate
    *    keepers — a text-keyed fold + keyed window, never all-pairs.
    *  - s3 (near-dup drop) rides the maintained pair index
    *    ([[MinHashLsh.livePairs]] of the banded candidate deltas):
    *    candidacy and Jaccard are pair-intrinsic, so the funnel's
    *    pairs-among-survivors are exactly the index's live pairs with
    *    both endpoints in s2, exact-verified at `threshold` over the
    *    endpoints' texts only (semi-joined — verification touches
    *    candidate docs, not the corpus).
    *  - s4 (per-source cap) joins s3 survivors against the static
    *    (doc, source) dimension (source is an immutable ingest-time
    *    attribute the change feed does not carry; the join reads a
    *    2-column pruned projection) and counts min(cap, per-source
    *    survivors) — the cap COUNT needs only per-source totals; the
    *    cap SET would additionally ride the q102 top-N support
    *    pattern.
    *
    * Output: the q69 report shape (stage, n_docs), which the q139
    * oracle certifies against the from-scratch batch funnel over the
    * post-traffic corpus.
    */
  def curationFunnelFromLog(spark: org.apache.spark.sql.SparkSession,
      deltas: DataFrame, pairDeltas: DataFrame, sources: DataFrame,
      minTok: Int = 25, minTtrPct: Int = 30, threshold: Double = 0.6,
      cap: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // live (doc, text) rows: the ± fold; persisted because the s2/s3
    // branches and the count pass all read it (the q118 lazy-cache
    // tradeoff: CacheManager dedupes the identical plan across runs)
    val live = signedTexts(deltas, "text")
      .groupBy(col("doc_id"), col("text"))
      .agg(sum(col("sgn")).as("m")).filter(col("m") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wText = Window.partitionBy(col("text"))
    val flagged = graft.ops.TextAnalysis
      .qualityFilter(live, "text", minTok, minTtrPct)
      .withColumn("is_s2", col("keep") &&
        col("doc_id") === min(when(col("keep"), col("doc_id"))).over(wText))
    val s2 = flagged.filter(col("is_s2")).select(col("doc_id"), col("text"))
    // maintained candidate pairs with both endpoints in s2, verified
    // exactly over the candidate endpoints' texts only
    val pairs = MinHashLsh.livePairs(pairDeltas)
    val ss = MinHashLsh.shingleSets(
      s2.join(pairs.select(explode(array(col("id_a"), col("id_b")))
          .as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi"),
      "doc_id", "text", 3)
    val dropped = pairs
      .join(ss.select(col("id").as("id_a"), col("ss").as("ssa")), Seq("id_a"))
      .join(ss.select(col("id").as("id_b"), col("ss").as("ssb")), Seq("id_b"))
      .withColumn("c",
        size(array_intersect(col("ssa"), col("ssb"))).cast("long"))
      .withColumn("jac", col("c").cast("double") /
        (size(col("ssa")) + size(col("ssb")) - col("c")))
      .filter(col("jac") >= threshold)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("_dropped", lit(true))
    // ONE action over a PINNED stage frame: the window + LSH-verify
    // chain above is expensive, and the previous two collect actions
    // (scalar counts, then the capped s4 aggregate) re-executed it per
    // action (guide §7.2, duplicated subtrees). The checkpoint
    // materializes it once; both aggregates read the pinned rows and
    // land in a single 1-row crossJoin collect.
    val staged = flagged
      .join(broadcast(dropped), Seq("doc_id"), "left")
      .withColumn("is_s3", col("is_s2") && col("_dropped").isNull)
      .localCheckpoint(true)
    val cc = staged
      .agg(count(lit(1)).as("c0"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("is_s2"), 1L).otherwise(0L)).as("c2"),
        sum(when(col("is_s3"), 1L).otherwise(0L)).as("c3"))
    val c4df = staged.filter(col("is_s3"))
      .join(sources.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(least(col("n"), lit(cap.toLong))), lit(0L)).as("c4"))
    val (c0, c1, c2, c3, c4) = cc.crossJoin(c4df)
      .as[(Long, Long, Long, Long, Long)].collect().head
    Seq("s0_total" -> c0, "s1_quality" -> c1, "s2_exact_dedup" -> c2,
      "s3_near_dedup" -> c3, "s4_source_cap" -> c4).toDF("stage", "n_docs")
  }
}
