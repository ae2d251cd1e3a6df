package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an edge list as plain DataFrame joins — the iterative
  * graph-analytics counterpart of [[CorpusOps.dupClusters]]'s label
  * propagation. Applied to a token co-occurrence graph this is TextRank,
  * the classic unsupervised keyword-extraction step of a corpus
  * pipeline.
  *
  * Each iteration is one join (ranks onto edges) + one aggregate
  * (contributions per destination) — both keyed and partitionable; rank
  * state is re-materialized per round via localCheckpoint (a reliable
  * checkpoint dir on a cluster) to truncate lineage, exactly the
  * dupClusters pattern. No data ever collects to the driver.
  *
  * Determinism: per-destination contribution sums run in FIXED POINT
  * (1e-15 grain into DECIMAL(38,0)) — a double sum would carry
  * partitioning-dependent ulp noise that compounds across iterations
  * and could reorder near-tied ranks run-to-run.
  *
  * Callers pass a graph where every node has at least one out-edge
  * (e.g. a symmetrized co-occurrence graph); dangling-mass
  * redistribution is deliberately out of scope and documented.
  */
object PageRank {

  private val Grain = 1e15

  /** Edge-count cap under which the power iteration runs ON THE DRIVER
    * (the BFS round-cost discipline, CorpusOps.DriverFrontierCap's
    * sibling): an iterative fold over a model-sized graph is pure
    * job-scheduling overhead distributed — measured 142 jobs / 15.6 s
    * for 8 rounds over a 64-node graph (q129's churn fold) — while the
    * identical fixed-point arithmetic runs in microseconds locally.
    * Above the cap the distributed loop is unchanged, so 100-TB graphs
    * keep the frontier-bounded incremental plan. Bit-stability: the
    * local tier mirrors the distributed algebra operation for
    * operation (floor(rank/out·1e15 + 0.5) summed as integers, one
    * final double division), so the two tiers agree to the bit — the
    * oracle, PageRankSpec's tier-parity test, and the q129 hash all
    * certify it.
    */
  private[graft] val DriverGraphCap = 200000

  /** The driver tier: identical power iteration over collected edges.
    * Keys stay `Any` (TextRank ranks string tokens); only hashing is
    * required, never ordering.
    */
  private def ranksLocal(edges: Array[(Any, Any)], iters: Int,
      damping: Double): scala.collection.mutable.HashMap[Any, Double] = {
    val out = scala.collection.mutable.HashMap.empty[Any, Long]
    edges.foreach { case (s, _) => out(s) = out.getOrElse(s, 0L) + 1L }
    val nodes = scala.collection.mutable.LinkedHashSet.empty[Any]
    edges.foreach { case (s, d) => nodes += s; nodes += d }
    val n = nodes.size.toDouble
    var rank = scala.collection.mutable.HashMap.empty[Any, Double]
    nodes.foreach(rank(_) = 1.0 / n)
    var it = 0
    while (it < iters) {
      val inSum = scala.collection.mutable.HashMap.empty[Any, Long]
      edges.foreach { case (s, d) =>
        // the distributed round's exact per-edge term:
        // floor(rank/out · Grain + 0.5) summed as integers
        val c = rank(s) / out(s)
        inSum(d) = inSum.getOrElse(d, 0L) +
          math.floor(c * Grain + 0.5).toLong
      }
      val next = scala.collection.mutable.HashMap.empty[Any, Double]
      nodes.foreach { v =>
        next(v) = (1.0 - damping) / n +
          damping * (inSum.getOrElse(v, 0L).toDouble / Grain)
      }
      rank = next
      it += 1
    }
    rank
  }

  /** Run [[ranksLocal]] over a materialized edge FRAME and return the
    * (node, rank) result as a one-partition DataFrame in the edge key's
    * type; None when the frame has more than [[DriverGraphCap]] edges.
    */
  private def ranksLocalFrame(e: DataFrame, iters: Int,
      damping: Double): Option[DataFrame] = {
    import scala.jdk.CollectionConverters._
    val spark = e.sparkSession
    // the declared node type must admit BOTH endpoint columns: collected
    // rank keys include dst values, so a mixed-width edge frame (src INT,
    // dst BIGINT) declared as src's type fails createDataFrame row
    // validation on the driver. The shared widening rule runs before the
    // read, so a non-integral mix fails loud at any graph size.
    val nodeType = Bounded.idType("PageRank.ranks",
      "src" -> e.schema("src").dataType, "dst" -> e.schema("dst").dataType)
    Bounded.collect(e.select(col("src").cast(nodeType),
        col("dst").cast(nodeType)), DriverGraphCap).map { rows =>
      val rank = ranksLocal(rows.map(r => (r.get(0), r.get(1))), iters, damping)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", nodeType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.DoubleType, nullable = false)))
      spark.createDataFrame(
        rank.iterator.map { case (v, r) =>
          org.apache.spark.sql.Row(v, r)
        }.toSeq.asJava, schema)
    }
  }

  /** @param edges (src, dst) directed edge list (deduplicated)
    * @return (node, rank), Σ rank = 1 for dangling-free graphs
    */
  def ranks(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    // materialize the edge list ONCE: it is referenced by every
    // iteration's join, and an unmaterialized edge plan (e.g. a shingle
    // scan) would re-derive from source each round — measured 3× the
    // whole loop's cost on the TextRank graph
    val e = edges.localCheckpoint(true)
    // model-sized graph → driver tier (see [[DriverGraphCap]]), gated
    // and read in one bounded collect of the checkpointed frame
    ranksLocalFrame(e, iters, damping)
      .getOrElse(ranksDistributed(e, iters, damping))
  }

  /** The distributed tier of [[ranks]] — the over-cap fixpoint (also
    * directly spec-targetable for tier-parity: PageRankSpec pins its
    * output bit-identical to the driver tier's).
    */
  private[graft] def ranksDistributed(e: DataFrame, iters: Int,
      damping: Double): DataFrame = {
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    val n = nodes.count().toDouble
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("out"))
      .localCheckpoint(true)
    var rank = nodes.withColumn("rank", lit(1.0 / n))
    var it = 0
    while (it < iters) {
      val contribs = e
        .join(rank.withColumnRenamed("node", "src"), Seq("src"))
        .join(outDeg, Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("out")).as("c"))
        .groupBy(col("node"))
        .agg((sum(floor(col("c") * Grain + 0.5).cast("decimal(38,0)"))
          .cast("double") / Grain).as("in_sum"))
      rank = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
      it += 1
      // lineage doubles per round — truncate every 3rd iteration (and on
      // exit) instead of every round: materialization is a job, and a
      // ≤8× plan between cuts parses fine
      if (it % 3 == 0 || it == iters) rank = rank.localCheckpoint(true)
    }
    rank
  }

  /** [[ranks]] keeping EVERY iteration's frame (k = 0 … iters, each
    * eagerly materialized): the per-iteration history an incremental
    * maintainer folds edge churn against — rank_k(v) of an UNAFFECTED
    * node is read from history instead of recomputed, which is what
    * bounds [[incrementalRanks]]' work by affected mass. Values are
    * bit-identical to [[ranks]] (same fixed-point contribution algebra;
    * only the checkpoint cadence differs, which never changes values).
    */
  def ranksWithHistory(edges: DataFrame, iters: Int,
      damping: Double = 0.85): Seq[DataFrame] = {
    val e = edges.localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    val n = nodes.count().toDouble
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("out"))
      .localCheckpoint(true)
    // LAZY checkpoints: each round's frame materializes under its first
    // consumer's job (the next round, or the incremental fold) instead
    // of costing a dedicated job per round — on a model-sized graph the
    // loop is job-scheduling-bound, the q122 lesson
    val hist = scala.collection.mutable.ArrayBuffer(
      nodes.withColumn("rank", lit(1.0 / n)).localCheckpoint())
    (1 to iters).foreach { _ =>
      val contribs = e
        .join(hist.last.withColumnRenamed("node", "src"), Seq("src"))
        .join(outDeg, Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("out")).as("c"))
        .groupBy(col("node"))
        .agg((sum(floor(col("c") * Grain + 0.5).cast("decimal(38,0)"))
          .cast("double") / Grain).as("in_sum"))
      hist += nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
        .localCheckpoint()
    }
    hist.toSeq
  }

  /** INCREMENTAL PageRank: fold an edge-churn wave into a base run's
    * [[ranksWithHistory]] instead of recomputing the graph. The churn
    * only perturbs rank where its influence has physically REACHED by
    * iteration k, so each round recomputes exactly the affected set
    *
    *   D_1 = dst(Δ) ∪ outNbr'(srcs whose out-edge set changed)
    *   D_k = D_1 ∪ outNbr'(D_{k-1})        (monotone, frontier-style)
    *
    * and splices history through for every other node: rank'_k(v) with
    * v ∉ D_k has unchanged in-edges, in-neighbors outside D_{k-1} and
    * in-neighbor out-degrees unchanged — so it EQUALS rank_k(v),
    * rounding included (the recomputed rows use the identical
    * fixed-point contribution algebra). The result is bit-identical to
    * running [[ranks]] on the post-churn edge set; per-round work is
    * the affected set's in-edges — churn-local, not graph-global.
    *
    * CONTRACT: the churn must preserve the node set (same src∪dst
    * universe, every node keeping ≥1 out-edge) — a node add/remove
    * changes the (1−d)/n teleport term for EVERY node, which is a
    * from-scratch run by definition. `edgeDeltas` is (src, dst, delta)
    * with +1 inserts / −1 removals at SET level (fold multi-source
    * support to set deltas first — [[MinHashLsh.livePairs]] shape).
    */
  def incrementalRanks(edges0: DataFrame, history: Seq[DataFrame],
      edgeDeltas: DataFrame, damping: Double = 0.85): DataFrame =
    incrementalRanksImpl(edges0, history, edgeDeltas, damping,
      withStats = false)._1

  /** [[incrementalRanks]] plus the per-round recomputed-node counts
    * (the affected-mass bound the spec pins; counts are driver-side
    * scalars over already-checkpointed frontier frames, never data).
    */
  private[graft] def incrementalRanksWithStats(edges0: DataFrame,
      history: Seq[DataFrame], edgeDeltas: DataFrame,
      damping: Double = 0.85): (DataFrame, Seq[Long]) =
    incrementalRanksImpl(edges0, history, edgeDeltas, damping,
      withStats = true)

  private def incrementalRanksImpl(edges0: DataFrame,
      history: Seq[DataFrame], edgeDeltas: DataFrame,
      damping: Double, withStats: Boolean): (DataFrame, Seq[Long]) = {
    val iters = history.size - 1
    val oldE = edges0.select(col("src"), col("dst"))
    val ins = edgeDeltas.filter(col("delta") > 0).select(col("src"), col("dst"))
    val del = edgeDeltas.filter(col("delta") < 0).select(col("src"), col("dst"))
    val newE = oldE.union(ins).except(del).localCheckpoint(true)
    // model-sized post-churn graph → driver tier: the incremental
    // splice exists to bound work by affected mass on graphs too big to
    // recompute, but under the cap the bit-identical local power
    // iteration beats 8 distributed rounds of frontier bookkeeping
    // (q129: 142 jobs → 2). History splicing and the local recompute
    // agree to the bit — unaffected nodes' history values ARE the
    // post-churn fixed-point values (the splice argument), and both
    // tiers share the fixed-point algebra. The stats path (spec-pinned
    // affected-mass counts) keeps the distributed loop.
    if (!withStats) {
      val local = ranksLocalFrame(newE, iters, damping)
      if (local.isDefined) return (local.get, Nil)
    }
    val nodes = newE.select(col("src").as("node"))
      .union(newE.select(col("dst").as("node"))).distinct()
    val n = nodes.count().toDouble
    val outDeg = newE.groupBy(col("src")).agg(count(lit(1)).as("out"))
      .localCheckpoint(true)
    val changedSrc = edgeDeltas.select(col("src")).distinct()
    val touched = edgeDeltas.select(col("dst").as("node"))
      .union(newE.join(changedSrc, Seq("src")).select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    var frontier = touched
    var rankPrev = history(0)
    var out = rankPrev
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    (1 to iters).foreach { k =>
      if (withStats) counts += frontier.count()
      val inEdges = newE
        .join(frontier.withColumnRenamed("node", "dst"), Seq("dst"))
      val contribs = inEdges
        .join(rankPrev.withColumnRenamed("node", "src")
          .withColumnRenamed("rank", "r"), Seq("src"))
        .join(outDeg, Seq("src"))
        .select(col("dst").as("node"), (col("r") / col("out")).as("c"))
        .groupBy(col("node"))
        .agg((sum(floor(col("c") * Grain + 0.5).cast("decimal(38,0)"))
          .cast("double") / Grain).as("in_sum"))
      val recomputed = frontier.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
      val rk = history(k).join(frontier, Seq("node"), "left_anti")
        .unionByName(recomputed).localCheckpoint()
      rankPrev = rk
      out = rk
      if (k < iters)
        // lazy: materializes under the next round's rk checkpoint job
        frontier = touched.union(
          newE.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
            .select(col("dst").as("node")))
          .distinct().localCheckpoint()
    }
    (out, counts.toSeq)
  }

  /** TextRank keyword scores: PageRank over the symmetrized
    * adjacent-token co-occurrence graph of a corpus.
    */
  def textRank(docs: DataFrame, textCol: String, iters: Int = 10): DataFrame = {
    val pairs = Shingles.tokenShingles(docs, idCol = docs.columns.head,
      textCol = textCol, n = 2)
      .select(split(col("s"), " ").as("p"))
      .select(element_at(col("p"), 1).as("src"), element_at(col("p"), 2).as("dst"))
      .filter(col("src") =!= col("dst"))
    val sym = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    ranks(sym, iters)
  }
}
