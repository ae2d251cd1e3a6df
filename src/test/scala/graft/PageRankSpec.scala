package graft

import graft.ops.PageRank

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  // in-memory power-iteration reference with the same update rule
  private def reference(edges: Seq[(String, String)], iters: Int,
      d: Double = 0.85): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val out = edges.groupBy(_._1).view.mapValues(_.size).toMap
    val n = nodes.size.toDouble
    var rank = nodes.map(_ -> 1.0 / n).toMap
    (0 until iters).foreach { _ =>
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / out(s) }.sum).toMap
      rank = nodes.map(v => v -> ((1 - d) / n + d * in.getOrElse(v, 0.0))).toMap
    }
    rank
  }

  private val diamond = Seq( // a -> {b,c} -> d -> a: every node has out-edges
    ("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "a"))

  test("ranks match an in-memory power-iteration reference") {
    val got = PageRank.ranks(diamond.toDF("src", "dst"), iters = 12)
      .as[(String, Double)].collect().toMap
    val want = reference(diamond, 12)
    assert(got.keySet === want.keySet)
    got.foreach { case (v, r) =>
      assert(math.abs(r - want(v)) < 1e-9, s"node $v: $r vs ${want(v)}")
    }
    // d collects from two paths: highest rank; sum ≈ 1 (dangling-free)
    assert(got("d") === got.values.max)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("ranks are bitwise identical under repartitioning (fixed-point sums)") {
    val e = diamond.toDF("src", "dst")
    val r1 = PageRank.ranks(e.repartition(1), 8).as[(String, Double)].collect().toMap
    val r7 = PageRank.ranks(e.repartition(7), 8).as[(String, Double)].collect().toMap
    assert(r1 === r7)
  }

  test("textRank favors hub tokens on a synthetic corpus") {
    val docs = Seq(
      (1L, "hub a hub b hub c"),
      (2L, "hub d hub e"),
      (3L, "f g")).toDF("doc_id", "text")
    val ranked = PageRank.textRank(docs, "text", iters = 10)
      .as[(String, Double)].collect().toMap
    // 'hub' co-occurs with everything on docs 1-2: strictly top rank
    assert(ranked("hub") === ranked.values.max)
    assert(ranked.size === 8) // hub + a..g
  }

  // a directed m-cycle: every node out-degree 1, influence travels one
  // hop per iteration — the cleanest graph for pinning that churn only
  // re-touches its own frontier
  private def cycle(m: Int): Seq[(String, String)] =
    (0 until m).map(i => (s"n$i", s"n${(i + 1) % m}"))

  test("incrementalRanks equals from-scratch on the post-churn graph (insert and delete)") {
    val m = 40
    val oldEdges = cycle(m) :+ (("n5", "n20")) // cycle + a chord
    val hist = PageRank.ranksWithHistory(oldEdges.toDF("src", "dst"), 6)
    // churn: delete the chord, insert a new one elsewhere
    val deltas = Seq(("n5", "n20", -1), ("n12", "n30", 1))
      .toDF("src", "dst", "delta")
    val got = PageRank.incrementalRanks(oldEdges.toDF("src", "dst"), hist, deltas)
      .as[(String, Double)].collect().toMap
    val newEdges = cycle(m) :+ (("n12", "n30"))
    val scratch = PageRank.ranks(newEdges.toDF("src", "dst"), 6)
      .as[(String, Double)].collect().toMap
    assert(got === scratch, "incremental fold must be bit-identical to from-scratch")
  }

  test("incrementalRanks re-touches only the churn's influence frontier, not the graph") {
    val m = 60
    val oldEdges = cycle(m)
    val hist = PageRank.ranksWithHistory(oldEdges.toDF("src", "dst"), 6)
    val deltas = Seq(("n10", "n40", 1)).toDF("src", "dst", "delta")
    val (got, counts) = PageRank.incrementalRanksWithStats(
      oldEdges.toDF("src", "dst"), hist, deltas)
    // frontier: D_1 = {n11 (n10's out-degree changed), n40 (new in-edge)};
    // each round can add at most one hop per frontier node on a cycle —
    // affected mass grows linearly and stays far below the graph
    assert(counts.head <= 2 && counts.last <= 2 + 2 * counts.size,
      s"frontier must stay churn-local, got $counts")
    assert(counts.last < m / 2, s"frontier must not approach graph size, got $counts")
    val scratch = PageRank.ranks((cycle(m) :+ (("n10", "n40"))).toDF("src", "dst"), 6)
      .as[(String, Double)].collect().toMap
    assert(got.as[(String, Double)].collect().toMap === scratch)
  }

  test("tier parity: the driver tier and the distributed fixpoint agree to the bit") {
    import org.apache.spark.sql.functions.col
    // an irregular graph with hubs, chains and a sink-ish tail
    val edges = ((1 to 60).map(i => (i.toLong, (i * 7 % 61 + 1).toLong))
      ++ (1 to 60 by 3).map(i => (i.toLong, (i * 11 % 61 + 1).toLong)))
      .distinct
    val e = edges.toDF("src", "dst")
    // ranks() takes the driver tier (60 nodes << cap); the distributed
    // fixpoint is called directly — results must be IDENTICAL doubles
    val local = PageRank.ranks(e, 8).as[(Long, Double)].collect().toMap
    val dist = PageRank.ranksDistributed(e.localCheckpoint(true), 8, 0.85)
      .as[(Long, Double)].collect().toMap
    assert(local == dist, "bitwise tier parity")
    // incremental: the stats path keeps the distributed splice; the
    // plain path takes the driver tier under the cap — same bits
    val hist = PageRank.ranksWithHistory(e, 6)
    val deltas = Seq((2L, 9L, 1), (1L, 8L, -1)).toDF("src", "dst", "delta")
      .filter(col("delta") =!= 0) // keep types honest
    val viaDriver = PageRank.incrementalRanks(e, hist, deltas)
      .as[(Long, Double)].collect().toMap
    val viaSplice = PageRank.incrementalRanksWithStats(e, hist, deltas)._1
      .as[(Long, Double)].collect().toMap
    assert(viaDriver == viaSplice, "incremental tier parity")
  }

  test("driver tier: mixed-width integral endpoints unify on the wider type; a non-integral mix fails loud") {
    import org.apache.spark.sql.functions.col
    // src INT, dst BIGINT with a dst above Int range: the collected
    // rank keys include dst values, so declaring the node column as
    // src's type would fail createDataFrame row validation — the
    // unified LONG type must carry both endpoints through the driver
    // tier and out
    val big = 5000000000L
    val mixed = Seq((1, 2L), (2, big), (3, 1L)).toDF("src", "dst")
      .select(col("src").cast("int").as("src"), col("dst"))
    val got = PageRank.ranks(mixed, 4).as[(Long, Double)].collect().toMap
    assert(got.keySet == Set(1L, 2L, 3L, big), s"got ${got.keySet}")
    // tier parity holds on the widened frame too (bit-identical)
    val dist = PageRank.ranksDistributed(
      mixed.select(col("src").cast("long").as("src"), col("dst"))
        .localCheckpoint(true), 4, 0.85)
      .as[(Long, Double)].collect().toMap
    assert(got == dist, s"driver $got vs distributed $dist")
    // STRING dst vs INT src: no lossless unified type — fail loud
    val bad = Seq((1, "a")).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](PageRank.ranks(bad, 2))
    assert(e.getMessage.contains("integral"), s"got: ${e.getMessage}")
  }
}
