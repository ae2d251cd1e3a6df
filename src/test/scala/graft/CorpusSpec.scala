package graft

import graft.ops._
import org.apache.spark.sql.functions._

/** Corpus-curation operators: cluster resolution, TF-IDF, decontamination,
  * hash splits, stopword scrub.
  */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf001)

  test("dupClusters resolves a chain and an isolated pair into min-label components") {
    // chain 1-2-3-4 (diameter 3 forces multiple propagation rounds) + pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_id_a", "doc_id_b")
    val got = CorpusOps.dupClusters(pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got === Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))
  }

  /** Driver-side union-find — the obviously-correct oracle the
    * distributed large-star/small-star implementation is checked
    * against (min-of-component labeling).
    */
  private def unionFindOracle(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("dupClusters converges in O(log n) rounds on a 1024-node path (worst case for label propagation)") {
    // a path is the diameter-maximizing shape: min-label propagation
    // needs 1023 rounds here; alternating large-star/small-star must
    // finish in ~log n
    val pairs = (0L until 1023L).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
    val (labels, rounds) = CorpusOps.dupClustersWithRounds(pairs)
    assert(rounds <= 12, s"expected O(log n) convergence, took $rounds rounds")
    val got = labels.as[(Long, Long, Boolean)].collect()
    assert(got.length === 1024)
    assert(got.forall(_._2 == 0L), "path must collapse to one component rooted at 0")
    assert(got.count(_._3) === 1)
  }

  test("dupClusters matches a union-find oracle on a random multi-component graph") {
    val rnd = new scala.util.Random(11)
    // ~3 components' worth of random edges over a 300-node id space
    val raw = Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
    val expected = unionFindOracle(raw)
    val got = CorpusOps.dupClusters(raw.toDF("doc_id_a", "doc_id_b"))
      .as[(Long, Long, Boolean)].collect()
    assert(got.map(r => r._1 -> r._2).toMap === expected)
  }

  test("dupClusters driver tier is bit-identical to the distributed star contraction") {
    val rnd = new scala.util.Random(71)
    val raw = Seq.fill(500)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter { case (a, b) => a != b }
    val pairs = raw.toDF("doc_id_a", "doc_id_b")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Boolean)].collect().toSet
    // default path: under DriverComponentsEdgeCap → the union-find tier
    val local = norm(CorpusOps.dupClusters(pairs))
    // the distributed tier, directly
    val dist = norm(CorpusOps.dupClustersWithRounds(pairs)._1)
    assert(local == dist, "driver-tier labels diverged from star contraction")
    // STRING ids take the same driver tier (lexicographic min = least())
    val sPairs = raw.map { case (a, b) => (f"n$a%04d", f"n$b%04d") }
      .toDF("doc_id_a", "doc_id_b")
    val sLocal = CorpusOps.dupClusters(sPairs)
      .as[(String, String, Boolean)].collect().toSet
    val sDist = CorpusOps.dupClustersWithRounds(sPairs)._1
      .as[(String, String, Boolean)].collect().toSet
    assert(sLocal == sDist, "string-id driver tier diverged")
    // NON-BMP ids: Java's String.compareTo (UTF-16 code units) and
    // Spark's least()/min (unsigned UTF-8 bytes) DISAGREE here —
    // U+FFFF sorts above the surrogate pair for U+1F600 in UTF-16 but
    // below it in UTF-8 — so the driver tier must order by UTF-8 bytes
    // to pick the same min-id root as the distributed contraction
    val uFFFF = "￿"
    val emoji = "😀" // U+1F600
    val nPairs = Seq((uFFFF, emoji), ("za", "zb"))
      .toDF("doc_id_a", "doc_id_b")
    val nLocal = CorpusOps.dupClusters(nPairs)
      .as[(String, String, Boolean)].collect().toSet
    val nDist = CorpusOps.dupClustersWithRounds(nPairs)._1
      .as[(String, String, Boolean)].collect().toSet
    assert(nLocal == nDist, "non-BMP string-id driver tier diverged")
    assert(nLocal.exists(r => r._1 == emoji && r._2 == uFFFF),
      "U+FFFF must be the component min in UTF-8 byte order")
  }

  test("dupClusters on real near-dup pairs: every pair lands in one cluster, canonical is min") {
    val pairs = MinHashLsh.nearDupPairs(docs, "doc_id", "text", 3, 0.6)
    val clusters = CorpusOps.dupClusters(pairs)
      .as[(Long, Long, Boolean)].collect()
    assert(clusters.nonEmpty)
    val byDoc = clusters.map(c => c._1 -> c._2).toMap
    pairs.select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().foreach {
      case (a, b) => assert(byDoc(a) === byDoc(b), s"pair ($a,$b) split across clusters")
    }
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min === cid, s"cluster $cid canonical is not min member")
      assert(members.count(_._3) === 1, s"cluster $cid must have exactly one canonical")
    }
  }

  test("tfIdf: corpus-universal tokens score zero, top terms are distinctive") {
    val tiny = Seq(
      (1L, "x x common"), (2L, "y common"), (3L, "z common")).toDF("doc_id", "text")
    val got = CorpusOps.tfIdfTopTerms(tiny, "doc_id", "text", 3)
      .as[(Long, String, Double, Int)].collect()
    // 'common' appears in all 3 docs -> idf = ln(1) = 0
    got.filter(_._2 == "common").foreach(r => assert(r._3 === 0.0))
    // doc 1's top term is 'x' (tf=2, df=1): score 2*ln(3)
    val top1 = got.filter(r => r._1 == 1L && r._4 == 1).head
    assert(top1._2 === "x")
    assert(math.abs(top1._3 - 2 * math.log(3.0)) < 1e-12)
  }

  test("contaminated flags exactly the docs sharing a 5-gram with the eval set") {
    val eval = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val cands = Seq(
      (1L, "alpha beta gamma delta epsilon other tail"), // shares a 5-gram
      (2L, "alpha beta gamma delta other epsilon zeta"), // only 4-gram overlap
      (3L, "unrelated words entirely here present okay")).toDF("doc_id", "text")
    val got = CorpusOps.contaminated(cands, eval, "doc_id", "text", 5)
      .as[Long].collect().toSet
    assert(got === Set(1L))
  }

  test("hashSplit is deterministic, total, and roughly proportioned") {
    val s1 = CorpusOps.hashSplit(docs, "doc_id").select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    val s2 = CorpusOps.hashSplit(docs.repartition(7), "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1 === s2, "split must not depend on partitioning")
    assert(s1.values.toSet.subsetOf(Set("train", "val", "test")))
    val n = s1.size.toDouble
    val train = s1.values.count(_ == "train") / n
    assert(train > 0.6 && train < 0.95, s"train fraction $train far from 0.8")
  }

  test("removeStopwords drops exactly the stop tokens and counts them") {
    val tiny = Seq((1L, "the cat and the hat")).toDF("doc_id", "text")
    val got = CorpusOps.removeStopwords(tiny, "text", Seq("the", "a", "of", "and", "to"))
      .select("clean_text", "n_removed").as[(String, Long)].head()
    assert(got === ("cat hat", 3L))
  }

  test("stratifiedSample: partition-independent, per-stratum rates, decorrelated from split") {
    val rate = when(col("lang") === "en", lit(0.75)).otherwise(lit(0.5))
    val s1 = CorpusOps.stratifiedSample(docs, "doc_id", rate)
      .select("doc_id").as[Long].collect().toSet
    val s2 = CorpusOps.stratifiedSample(docs.repartition(5), "doc_id", rate)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 === s2, "sample must not depend on partitioning")
    val en = docs.filter(col("lang") === "en").select("doc_id").as[Long].collect().toSet
    val enRate = (s1 intersect en).size.toDouble / en.size
    val restRate = (s1 diff en).size.toDouble / (docs.count() - en.size)
    assert(enRate > 0.6 && enRate < 0.9, s"en rate $enRate far from 0.75")
    assert(restRate > 0.35 && restRate < 0.65, s"rest rate $restRate far from 0.5")
    // decorrelation: the sample must hit all three split classes
    val splits = CorpusOps.hashSplit(docs, "doc_id")
      .filter(col("doc_id").isin(s1.toSeq: _*))
      .select("split").distinct().as[String].collect().toSet
    assert(splits === Set("train", "val", "test"))
  }

  test("packShards equals the single-window prefix-sum formulation") {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("doc_id").rowsBetween(Long.MinValue, -1)
    val weight = size(split(col("text"), " ")).cast("long")
    val expected = docs
      .withColumn("b", coalesce(sum(weight).over(w), lit(0L)))
      .select(col("doc_id"), weight.as("n_tokens"),
        ((col("b") - pmod(col("b"), lit(100L))) / 100L).cast("long").as("shard_id"))
      .as[(Long, Long, Long)].collect().toSet
    val got = CorpusOps.packShards(docs, "doc_id", size(split(col("text"), " ")),
      100L, chunk = 64)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === expected)
    // shards are contiguous in id order and every doc is assigned
    assert(got.size === docs.count())
  }

  test("packShards auto chunk caps the offsets relation at ~1e5 buckets on a sparse huge id domain") {
    // ids spread over a ~10^11 domain: the old fixed chunk=1024 would
    // put max_id/1024 ≈ 10^8 bucket values through the offsets window's
    // single task on a dense domain; the derived chunk caps it at ~1e5
    // for ANY domain, and the shard assignment is chunk-invariant.
    val sparse = (0L until 200L).map(i => (i * 499999999L, s"doc $i text"))
      .toDF("doc_id", "text")
    val chunk = CorpusOps.deriveChunk(sparse, "doc_id")
    val maxId = 199L * 499999999L
    assert(chunk === maxId / 100000L + 1L)
    assert(maxId / chunk + 1 <= 100001L, "bucket id range must stay <= ~1e5")
    val auto = CorpusOps.packShards(sparse, "doc_id", lit(7L), 100L)
      .as[(Long, Long, Long)].collect().toSet
    val fixed = CorpusOps.packShards(sparse, "doc_id", lit(7L), 100L, chunk = 64)
      .as[(Long, Long, Long)].collect().toSet
    assert(auto === fixed, "shard assignment must not depend on the chunking")
  }

  test("repetitionSignals: hand-computed fractions on a crafted doc; clean doc scores ~0") {
    val tiny = Seq(
      (1L, "a a a b"),                 // heavy repetition
      (2L, "w x y z q r s t")).toDF("doc_id", "text") // all distinct
    val got = TextAnalysis.repetitionSignals(tiny, "doc_id", "text")
      .as[(Long, Double, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1: 4 tokens 2 distinct -> dup_token 0.5; bigrams {a a:2, a b:1}
    // -> top_bigram 2*2/4 = 1.0; trigrams {a a a, a a b} both unique -> 0
    assert(got(1L) === ((0.5, 1.0, 0.0)))
    // doc 2: everything unique
    assert(got(2L)._1 === 0.0)
    assert(got(2L)._3 === 0.0)
    assert(math.abs(got(2L)._2 - 2.0 / 8) < 1e-15) // each bigram occurs once: 2*1/8
  }

  test("repetitionSignals is a map-only plan: zero shuffles") {
    assert(shufflesOf(TextAnalysis.repetitionSignals(docs, "doc_id", "text")) == 0)
  }

  test("capPerGroup: cap respected, deterministic under repartitioning, decorrelated from split") {
    val capped = CorpusOps.capPerGroup(docs, Seq("source"), "doc_id", 50)
    val sizes = capped.groupBy("source").count().as[(String, Long)].collect()
    assert(sizes.forall(_._2 <= 50))
    val again = CorpusOps.capPerGroup(docs.repartition(7), Seq("source"), "doc_id", 50)
      .select("doc_id").as[Long].collect().toSet
    assert(again === capped.select("doc_id").as[Long].collect().toSet,
      "kept set must not depend on partitioning")
    // the kept set must span all three hash-split classes (decorrelated)
    val splits = CorpusOps.hashSplit(docs, "doc_id")
      .filter(col("doc_id").isin(again.toSeq: _*))
      .select("split").distinct().as[String].collect().toSet
    assert(splits === Set("train", "val", "test"))
  }

  test("invertedIndex: postings are ascending, df matches, membership is exact") {
    val tiny = Seq((3L, "b a"), (1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val got = CorpusOps.invertedIndex(tiny, "doc_id", "text")
      .as[(String, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("a") === (("1,3", 2L)))
    assert(got("b") === (("1,2,3", 3L)))
    assert(got("c") === (("2", 1L)))
  }


  test("bm25: hand-computed score, non-matching docs absent, rare term outweighs common") {
    val d = Seq(
      (1L, "x x x y"),   // matches x (tf 3), y (tf 1)
      (2L, "x z z z"),   // matches x (tf 1)
      (3L, "z z z z")    // no query token -> absent
    ).toDF("doc_id", "text")
    val out = CorpusOps.bm25(d, "doc_id", "text", Seq("x", "y"), k1 = 1.2, b = 0.75)
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    // N=3, avg_len=4, all len=4 -> length norm = 1; idf_x = ln(1.5/2.5+1),
    // idf_y = ln(2.5/1.5+1); tf term = tf*2.2/(tf+1.2)
    val ix = math.log(1.5 / 2.5 + 1); val iy = math.log(2.5 / 1.5 + 1)
    def t(tf: Double) = tf * 2.2 / (tf + 1.2)
    assert(math.abs(out(0)._2 - (ix * t(3) + iy * t(1))) < 1e-12)
    assert(math.abs(out(1)._2 - ix * t(1)) < 1e-12)
    // the rarer y (df 1) contributes more than common x at equal tf
    assert(iy > ix)
  }

  test("hybridRetrieve: RRF fuses the two lists — both-list docs beat single-list, ranks are 1-based") {
    // lexical order by bm25: doc 1 (tf 3) > doc 2 (tf 1); doc 3 absent.
    // semantic order vs query vec [1,0]: doc 2 (cos 1) > doc 1 (~.707) > doc 3 (0).
    val d = Seq(
      (1L, "x x x pad"),
      (2L, "x pad pad pad"),
      (3L, "pad pad pad pad")).toDF("doc_id", "text")
    val e = Seq(
      (1L, Array(1f, 1f)), (2L, Array(1f, 0f)), (3L, Array(0f, 1f)),
      (7L, Array(1f, 0f))) // the query vector row
      .toDF("vec_id", "embedding")
    val got = CorpusOps.hybridRetrieve(d, e, Seq("x"), 7L, listK = 10, topK = 10)
      .as[(Long, Option[Long], Option[Long], Double)].collect()
    val byDoc = got.map(r => r._1 -> r).toMap
    // doc 1: lex rank 1, sem rank 3 (doc 7 itself ranks as corpus row too)
    // doc 2: lex rank 2, sem rank 1  -- 7 is in the embeddings corpus:
    // sem list = [2 or 7 (cos 1, tie -> smaller id 2 first), then ...]
    assert(byDoc(1L)._2 == Some(1L))
    assert(byDoc(2L)._2 == Some(2L))
    assert(byDoc(2L)._3 == Some(1L), "cos=1 tie breaks to smaller doc_id")
    assert(byDoc(3L)._2.isEmpty, "doc 3 matches no query token -> no lexical rank")
    // fused score is exactly the sum of the two reciprocal terms
    val r1 = byDoc(1L)
    val expected = 1.0 / (60 + r1._2.get) + 1.0 / (60 + r1._3.get)
    assert(r1._4 == expected)
    // a doc present in both lists outranks one present in one list only
    assert(byDoc(2L)._4 > byDoc(3L)._4)
  }

  test("hybridFromStores: store-served fusion equals from-scratch hybridRetrieve on the folded corpus") {
    // delta log: doc1 insert; doc2 insert then REVISION (old terms must
    // telescope away); doc3 insert then DELETE (must vanish entirely)
    val deltas = Seq(
      ("1", """{"text":"x x x pad"}""", null),
      ("2", """{"text":"y pad"}""", null),
      ("2", """{"text":"x pad pad pad"}""", """{"text":"y pad"}"""),
      ("3", """{"text":"x x"}""", null),
      ("3", null, """{"text":"x x"}"""))
      .toDF("key", "rowJson", "prevJson")
    val vecStore = Seq( // q119's livePostings shape (cell unused by fusion)
      (1L, 0, Array(1f, 1f)), (2L, 0, Array(1f, 0f)),
      (7L, 1, Array(1f, 0f))).toDF("vec_id", "cell", "embedding")
    val served = CorpusOps.hybridFromStores(
      CorpusOps.liveTermPostings(CorpusOps.termPostingDeltas(deltas)),
      CorpusOps.liveDocLens(CorpusOps.docLenDeltas(deltas)),
      vecStore, Seq("x"), 7L, listK = 10, topK = 10)
      .as[(Long, Option[Long], Option[Long], Double)].collect().toSeq
    // the post-traffic corpus the folds represent, scored from scratch
    val scratch = CorpusOps.hybridRetrieve(
      Seq((1L, "x x x pad"), (2L, "x pad pad pad")).toDF("doc_id", "text"),
      vecStore.select(col("vec_id"), col("embedding")),
      Seq("x"), 7L, listK = 10, topK = 10)
      .as[(Long, Option[Long], Option[Long], Double)].collect().toSeq
    assert(served == scratch)
    assert(served.map(_._1).contains(1L) && !served.map(_._1).contains(3L),
      "deleted doc 3 must not rank from the maintained store")
  }

  test("filteredHybridCertificate: empty allowed band certifies vacuously at saturated width") {
    // the empty-band answer moved INTO the certificate's first
    // aggregate (q171 r17: no separate isEmpty/checkpoint per band) —
    // it must return n=0, the saturated probe width, and a vacuous ok
    val deltas = Seq(("1", """{"text":"x pad"}""", null: String))
      .toDF("key", "rowJson", "prevJson")
    val vecStore = Seq((1L, 0, Array(1f, 0f)), (7L, 1, Array(1f, 1f)))
      .toDF("vec_id", "cell", "embedding")
    val cents = Array(Array(1f, 0f), Array(0f, 1f))
    val (n, probes, ok) = CorpusOps.filteredHybridCertificate(
      CorpusOps.liveTermPostings(CorpusOps.termPostingDeltas(deltas)),
      CorpusOps.liveDocLens(CorpusOps.docLenDeltas(deltas)),
      vecStore, vecStore.select(col("vec_id")).filter(lit(false)),
      Seq("x"), 7L, cents)
    assert(n == 0L && probes == cents.length && ok)
  }

  test("curationFunnelFromLog: stage counts fold from the log — deletes retract, non-s2 pairs drop nothing, cap is min(cap, n)") {
    val t1 = (1 to 30).map("w" + _).mkString(" ")  // 30 distinct: passes gate
    val t3 = (1 to 30).map("v" + _).mkString(" ")
    def ins(id: Long, text: String) =
      (id.toString, s"""{"text":"$text"}""", null: String)
    val deltas = (Seq(
      ins(1, t1), ins(2, t1),            // exact dup: s2 keeps doc 1
      ins(3, t1 + " zz"),                // near-dup of 1: s3 drops 3
      ins(4, "short text"), ins(9, "short text too"), // both fail gate
      ins(10, t3),
      ins(5, t1 + " yy"),                // inserted THEN deleted
      ("5", null: String, s"""{"text":"$t1 yy"}"""))
      ).toDF("key", "rowJson", "prevJson")
    val pairDeltas = Seq(
      (1L, 3L, 1L),                       // live pair among s2
      (1L, 5L, 1L), (1L, 5L, -1L),        // retracted with the delete
      (4L, 9L, 1L))                       // endpoints fail the gate: no-op
      .toDF("id_a", "id_b", "delta")
    val sources = Seq(1L, 2L, 3L, 4L, 5L, 9L, 10L)
      .map(id => (id, "sA")).toDF("doc_id", "source")
    val got = CorpusOps.curationFunnelFromLog(spark, deltas, pairDeltas,
      sources, cap = 1)
      .as[(String, Long)].collect().toMap
    assert(got == Map(
      "s0_total" -> 6L,       // 1,2,3,4,9,10 live; 5 deleted
      "s1_quality" -> 4L,     // 1,2,3,10
      "s2_exact_dedup" -> 3L, // texts t1 (doc 1), t1+zz, t3
      "s3_near_dedup" -> 2L,  // pair (1,3) drops 3; (4,9) not in s2
      "s4_source_cap" -> 1L)) // min(1, |{1,10}|) in the one source
  }

  test("dedupSegments: corpus-first occurrence wins, docs reassemble in order, empty docs vanish") {
    val d = Seq(
      (1L, Seq("boiler", "plate", "body1")),  // all first occurrences
      (2L, Seq("boiler", "body2", "plate")),  // boiler+plate repeat -> only body2 survives
      (3L, Seq("plate", "boiler")),           // nothing new -> doc disappears
      (4L, Seq("body2", "tail"))              // body2 seen (doc 2) -> tail only
    ).toDF("doc_id", "segs")
    def run(df: org.apache.spark.sql.DataFrame) =
      CorpusOps.dedupSegments(df, "doc_id", col("segs"))
        .as[(Long, String)].collect().sortBy(_._1).toSeq
    val out = run(d)
    assert(out == Seq((1L, "boiler plate body1"), (2L, "body2"), (4L, "tail")))
    // first-occurrence choice must not depend on physical row order
    assert(run(d.repartition(7)) == out)
    // intra-doc repetition also dedups (first index in the SAME doc wins)
    val intra = CorpusOps.dedupSegments(
      Seq((9L, Seq("x", "y", "x", "x"))).toDF("doc_id", "segs"), "doc_id", col("segs"))
      .as[(Long, String)].collect()
    assert(intra.toSeq == Seq((9L, "x y")))
  }

  test("Sessions.assign: exact-gap stays in-session, strictly-greater breaks") {
    import java.sql.Timestamp
    def ts(us: Long) = new Timestamp(us / 1000L)
    val gap = 60_000_000L // 60 s
    val ev = Seq(
      (1L, 100L, ts(0L)),
      (1L, 101L, ts(gap)),                       // gap == timeout: same session
      (1L, 102L, ts(2L * gap + 1000L)),          // gap > timeout: breaks
      (2L, 200L, ts(0L)))
      .toDF("user_id", "event_id", "ts")
    val got = graft.ops.Sessions.assign(ev, "user_id", "ts", "event_id", gap)
      .select("user_id", "event_id", "session_no")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 100L)) === 1L)
    assert(got((1L, 101L)) === 1L) // exact gap merges, matching session_window
    assert(got((1L, 102L)) === 2L)
    assert(got((2L, 200L)) === 1L)
  }


  test("Resample.locf fills gap hours with cnt 0 and carries the last value") {
    import java.sql.Timestamp
    def h(n: Int) = new Timestamp(1700000000000L / 3600000L * 3600000L + n * 3600000L)
    val ev = Seq(
      (1L, h(0), 10.0), (1L, h(0), 2.5),   // hour 0: cnt 2, val 12.5
      (1L, h(3), 4.0))                     // hours 1-2 are gaps
      .toDF("user_id", "ts", "value")
    val got = graft.ops.Resample.locf(ev, "user_id", "ts", "value",
      "hour", "interval 1 hour")
      .as[(Long, Timestamp, Long, Double)].collect().sortBy(_._2.getTime)
    assert(got.map(r => (r._3, r._4)).toSeq ===
      Seq((2L, 12.5), (0L, 12.5), (0L, 12.5), (1L, 4.0)))
  }


  test("hashSplit and stratifiedSample survive ids beyond 2^32 (no overflow)") {
    val big = Seq(0L, 1L, 4294967296L, 1L << 40, Long.MaxValue - 1).toDF("doc_id")
    val splits = CorpusOps.hashSplit(big, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(splits.size === 5)
    assert(splits.values.forall(Set("train", "val", "test")))
    val sampled = CorpusOps.stratifiedSample(big, "doc_id", lit(1.0))
    assert(sampled.count() === 5, "rate 1.0 must keep everything at any id")
  }

  test("resampleToShare balances strata toward equal targets, keeps scarce strata whole") {
    import spark.implicits._
    // skewed corpus: 3 strata with 1600 / 320 / 80 rows; 30% target
    // over 3 strata = 200/stratum: big strata sample DOWN toward 200,
    // the 80-row stratum clamps to rate 1 and is kept whole
    val docs = (Seq.tabulate(1600)(i => (i.toLong * 3, "big")) ++
      Seq.tabulate(320)(i => (i.toLong * 3 + 1, "mid")) ++
      Seq.tabulate(80)(i => (i.toLong * 3 + 2, "small")))
      .toDF("doc_id", "lang")
    val mixed = CorpusOps.resampleToShare(docs, "lang", "doc_id", 0.3)
    val byLang = mixed.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("small") == 80L, "under-target stratum must be kept whole")
    // hash sampling is Bernoulli per row: expect ~200 ± statistical noise
    assert(byLang("big") > 140 && byLang("big") < 260, s"big=${byLang("big")}")
    assert(byLang("mid") > 140 && byLang("mid") < 260, s"mid=${byLang("mid")}")
    // deterministic: same input -> same membership
    val again = CorpusOps.resampleToShare(docs, "lang", "doc_id", 0.3)
    assert(mixed.select("doc_id").except(again.select("doc_id")).isEmpty)
  }

  test("spanDedup merges overlapping repeated runs and cuts exactly those spans") {
    import spark.implicits._
    // docs 1 and 2 share a 7-token run ("one two three four five six seven"),
    // which contains three overlapping repeated 5-grams -> ONE merged span
    // of 7 tokens in each doc. doc 3 is all-unique; doc 4 is shorter than n.
    val d = Seq(
      (1L, "alpha one two three four five six seven beta gamma"),
      (2L, "delta epsilon one two three four five six seven zeta"),
      (3L, "only unique tokens here nothing repeats in this doc"),
      (4L, "tiny doc")
    ).toDF("doc_id", "text")
    val got = CorpusOps.spanDedup(d, "doc_id", "text", 5)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1: span covers positions 1..7 -> kept "alpha beta gamma"
    assert(got(1L)._2 == 1L && got(1L)._3 == 7L && got(1L)._4 == 10L)
    assert(got(1L)._5 == "alpha beta gamma")
    // doc 2: span 2..8 -> kept "delta epsilon zeta"
    assert(got(2L)._2 == 1L && got(2L)._3 == 7L)
    assert(got(2L)._5 == "delta epsilon zeta")
    // doc 3: untouched -> the full original text byte-identical
    assert(got(3L)._2 == 0L && got(3L)._3 == 0L)
    assert(got(3L)._5 == "only unique tokens here nothing repeats in this doc")
    // doc 4 (< n tokens): no occurrences, untouched, counted correctly
    assert(got(4L)._2 == 0L && got(4L)._4 == 2L && got(4L)._5 == "tiny doc")
  }

  test("spanDedup matches a driver-side brute-force reference on random corpora") {
    import spark.implicits._
    // tiny vocabulary forces heavy cross-doc repetition; the reference
    // recomputes everything positionally with plain Scala collections
    val rnd = new scala.util.Random(20260813L)
    val n = 3
    val docs = (0 until 40).map { i =>
      val len = 1 + rnd.nextInt(30)
      (i.toLong, Seq.fill(len)(('a' + rnd.nextInt(6)).toChar.toString).mkString(" "))
    }
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val grams = docs.flatMap { case (id, _) =>
      val t = toks(id)
      if (t.size >= n)
        t.sliding(n).zipWithIndex.map { case (g, p) => (id, p, g.mkString(" ")) }.toSeq
      else Seq.empty
    }
    val repeated = grams.groupBy(_._3).collect {
      case (g, occs) if occs.map(_._1).distinct.size >= 2 => g
    }.toSet
    val expected = docs.map { case (id, _) =>
      val t = toks(id)
      val cov = grams.collect {
        case (d, p, g) if d == id && repeated(g) => p until (p + n)
      }.flatten.toSet
      // merged spans (adjacent included) == maximal runs of covered positions
      val nSpans = cov.toSeq.sorted.count(p => !cov.contains(p - 1))
      val clean = t.zipWithIndex.collect { case (tok, p) if !cov.contains(p) => tok }
        .mkString(" ")
      (id, nSpans.toLong, cov.size.toLong, t.size.toLong, clean)
    }.toSet
    val got = CorpusOps.spanDedup(docs.toDF("doc_id", "text"), "doc_id", "text", n)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got === expected)
  }

  test("spanDedup separates non-adjacent repeats into distinct spans") {
    import spark.implicits._
    // the repeated 5-gram appears at the start AND end of doc 20 with a
    // unique middle: two spans, not one (the gap keeps them apart)
    val run = "one two three four five"
    val d = Seq(
      (10L, s"$run filler stuff"),
      (20L, s"$run a b c d e f $run")
    ).toDF("doc_id", "text")
    val got = CorpusOps.spanDedup(d, "doc_id", "text", 5)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(20L)._2 == 2L && got(20L)._3 == 10L)
    assert(got(20L)._5 == "a b c d e f")
  }

  test("sparseCosinePairs: pairs only where a surviving shingle is shared; df caps prune both tails") {
    val docs = Seq(
      (1L, "a b c d e f"), // identical to 2
      (2L, "a b c d e f"),
      (3L, "x y z w q r"), // every shingle df=1 → absent from the index
      (4L, "a b c q q q")  // shares only "a b c" with 1/2
    ).toDF("doc_id", "text")
    val got = CorpusOps.sparseCosinePairs(docs, "doc_id", "text",
      shingleN = 3, minCos = 0.0, minDf = 2, maxDf = 50)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // doc 3 can never pair (all its shingles are unique), docs 1-2 are
    // identical vectors, 4 touches 1/2 through one shared shingle
    assert(got.keySet === Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(got((1L, 2L)) > 0.9999999) // S/sqrt(S·S): 1.0 up to sqrt ulp
    assert(got((1L, 4L)) < 0.5 && got((1L, 4L)) > 0.0)
    assert(got((1L, 4L)) === got((2L, 4L))) // identical vectors, same dot
    // maxDf = 2 prunes "a b c" (df 3) — the only bridge to doc 4
    val capped = CorpusOps.sparseCosinePairs(docs, "doc_id", "text",
      shingleN = 3, minCos = 0.0, minDf = 2, maxDf = 2)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(capped === Set((1L, 2L)))
  }

  test("mergeComponents: wave folds are split-invariant vs one-shot clustering") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    // random sparse graph on 60 nodes: chains, merges, isolated pairs
    val allPairs = (1 to 90).map { _ =>
      val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val pairsDf = allPairs.toDF("doc_id_a", "doc_id_b")
    val batch = CorpusOps.dupClusters(pairsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // fold in three waves of arbitrary composition
    for (seed <- Seq(1, 2, 3)) {
      val shuffled = new scala.util.Random(seed).shuffle(allPairs)
      val waves = shuffled.grouped(math.max(1, shuffled.size / 3 + 1)).toSeq
      var labels = CorpusOps.dupClusters(waves.head.toDF("doc_id_a", "doc_id_b"))
      waves.tail.foreach { w =>
        labels = CorpusOps.mergeComponents(labels, w.toDF("doc_id_a", "doc_id_b"))
      }
      val folded = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(folded == batch, s"seed $seed: incremental fold diverged from batch")
      // canonical flags re-derive from the labels
      assert(labels.filter(col("is_canonical") =!= (col("doc_id") === col("cluster_id")))
        .isEmpty)
    }
  }

  test("splitComponents: a revoked bridge edge splits the cluster; untouched components pass through") {
    // two 2-doc clusters bridged into one component by edge (2,3),
    // plus an untouched far-away component {10,11}
    val pairs = Seq((1L, 2L), (3L, 4L), (2L, 3L), (10L, 11L))
    val labels0 = CorpusOps.dupClusters(pairs.toDF("doc_id_a", "doc_id_b"))
    assert(labels0.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L)))
    // the bridge is revoked (the doc revision dropped the near-dup pair)
    val live = Seq((1L, 2L), (3L, 4L), (10L, 11L)).toDF("doc_id_a", "doc_id_b")
    val retracted = Seq((2L, 3L)).toDF("doc_id_a", "doc_id_b")
    val out = CorpusOps.splitComponents(labels0, live, retracted)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (10L, 10L), (11L, 10L)),
      "bridge revocation must split {1,2,3,4} into {1,2} and {3,4}")
  }

  test("maintained inverted index: ± posting folds equal a from-scratch index under revise/delete") {
    // delta history: doc1 "a b a" inserted then revised to "a c";
    // doc2 "b c" inserted then deleted; doc3 "c c a" inserted
    def j(t: String) = s"""{"doc_id":0,"text":"$t"}"""
    val deltas = Seq(
      (1L, "upsert", j("a b a"), null),
      (2L, "upsert", j("b c"), null),
      (1L, "upsert", j("a c"), j("a b a")),
      (2L, "delete", null, j("b c")),
      (3L, "upsert", j("c c a"), null))
      .toDF("key", "action", "rowJson", "prevJson")
    val postings = CorpusOps.liveTermPostings(
      CorpusOps.termPostingDeltas(deltas))
      .as[(String, Long, Long)].collect().toSet
    assert(postings == Set(
      ("a", 1L, 1L), ("c", 1L, 1L), ("a", 3L, 1L), ("c", 3L, 2L)),
      s"revision telescopes, deletion zeroes — got $postings")
    val lens = CorpusOps.liveDocLens(CorpusOps.docLenDeltas(deltas))
      .as[(Long, Long)].collect().toSet
    assert(lens == Set((1L, 2L), (3L, 3L)))
    // BM25 served from the maintained index equals the batch scorer
    // over the live corpus
    val corpus = Seq((1L, "a c"), (3L, "c c a")).toDF("doc_id", "text")
    val fromIndex = CorpusOps.bm25FromIndex(
      CorpusOps.liveTermPostings(CorpusOps.termPostingDeltas(deltas)),
      CorpusOps.liveDocLens(CorpusOps.docLenDeltas(deltas)), Seq("a", "c"))
      .as[(Long, Double)].collect().toMap
    val batch = CorpusOps.bm25(corpus, "doc_id", "text", Seq("a", "c"))
      .as[(Long, Double)].collect().toMap
    assert(fromIndex.keySet == batch.keySet)
    fromIndex.foreach { case (id, s) =>
      assert(math.abs(s - batch(id)) < 1e-12, s"doc $id: $s vs ${batch(id)}")
    }
  }

  test("incrementalBfs: orphaned tail drops, skip link shortens, untouched chain passes through") {
    // chain A: 1→2→3→4 (seeded), chain B: 10→11→12 (seeded, untouched)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L))
    val seeds = Seq(1L, 10L).toDF("id")
    val base = CorpusOps.bfsDistances(edges.toDF("u", "v"), seeds)
    // churn: cut 2→3 (orphans 3,4 unless rerouted), insert skip 1→4
    val deltas = Seq((2L, 3L, -1), (1L, 4L, 1)).toDF("u", "v", "delta")
    val got = CorpusOps.incrementalBfs(edges.toDF("u", "v"), base, deltas, seeds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 10L -> 0L, 11L -> 1L, 12L -> 2L),
      s"3 orphaned, 4 rerouted via skip, B untouched — got $got")
  }

  test("bfsDistances: driver-held, mid-loop-spilled, and distributed tiers agree") {
    val rnd = new scala.util.Random(47)
    val edges = (1 to 150).map { _ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)
    }.filter(p => p._1 != p._2).distinct.toDF("u", "v")
    val seeds = Seq(0L, 3L, 9L).toDF("id")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // default: the DRIVER-GRAPH tier (edges under DriverEdgeCap)
    val local = norm(CorpusOps.bfsDistances(edges, seeds))
    // edgeCap=0 disables the graph tier — the driver-FRONTIER loop
    val held = norm(CorpusOps.bfsDistances(edges, seeds, edgeCap = 0))
    // cap=5 admits the 3 seeds, then breaches on an early level —
    // exercises the spill() handoff with partial driver-held state
    val spilled = norm(CorpusOps.bfsDistances(edges, seeds, cap = 5, edgeCap = 0))
    // cap=1 < seedN — fully distributed from round 0
    val dist = norm(CorpusOps.bfsDistances(edges, seeds, cap = 1, edgeCap = 0))
    assert(local == held, "driver-graph tier diverged from driver-held")
    assert(spilled == held, "spilled tier diverged from driver-held")
    assert(dist == held, "distributed tier diverged from driver-held")
  }

  test("incrementalBfs: distributed relaxation path agrees with driver-held") {
    val rnd = new scala.util.Random(53)
    val allEdges = (1 to 120).map { _ =>
      (rnd.nextInt(70).toLong, rnd.nextInt(70).toLong)
    }.filter(p => p._1 != p._2).distinct
    val seeds = Seq(0L, 7L).toDF("id")
    val base = CorpusOps.bfsDistances(allEdges.toDF("u", "v"), seeds)
    val (gone, kept) = allEdges.partition(_._1 % 5 == 0)
    val extra = Seq((7L, 66L), (66L, 67L))
      .filterNot(kept.contains)
    val deltas = (gone.map { case (u, v) => (u, v, -1) } ++
      extra.map { case (u, v) => (u, v, 1) }).toDF("u", "v", "delta")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // default: the DRIVER-GRAPH tier; edgeCap=0 forces the driver-held
    // relaxation; cap=0 on top forces the fully distributed one
    val local = norm(CorpusOps.incrementalBfs(
      allEdges.toDF("u", "v"), base, deltas, seeds))
    val held = norm(CorpusOps.incrementalBfs(
      allEdges.toDF("u", "v"), base, deltas, seeds, edgeCap = 0))
    val dist = norm(CorpusOps.incrementalBfs(
      allEdges.toDF("u", "v"), base, deltas, seeds, cap = 0, edgeCap = 0))
    val scratch = norm(CorpusOps.bfsDistances(
      (kept ++ extra).toDF("u", "v"), seeds))
    assert(local == scratch, "driver-graph tier diverged from scratch")
    assert(held == scratch, "driver-held relaxation diverged from scratch")
    assert(dist == scratch, "distributed relaxation diverged from scratch")
  }

  test("incrementalBfs: node-sized dists forces the distributed path even when post-churn edges fit") {
    // star 0→1..40, then a churn that deletes 36 spokes: the POST-churn
    // edge list (4 edges) passes the edge cap, but the stored distance
    // relation is PRE-churn node-sized — over the node cap its bounded
    // read must force the distributed path instead of collecting it
    // (and the result must still equal from-scratch BFS on the
    // post-churn graph)
    val edges = (1 to 40).map(i => (0L, i.toLong))
    val seeds = Seq(0L).toDF("id")
    val base = CorpusOps.bfsDistances(edges.toDF("u", "v"), seeds)
    val deltas = (5 to 40).map(i => (0L, i.toLong, -1)).toDF("u", "v", "delta")
    val out = CorpusOps.incrementalBfs(edges.toDF("u", "v"), base, deltas,
      seeds, cap = 10, edgeCap = 10)
    assert(!out.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "over the node cap the update must leave the driver tier")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val scratch = CorpusOps.bfsDistances(
      (1 to 4).map(i => (0L, i.toLong)).toDF("u", "v"), seeds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == scratch, "over-cap dists fallthrough diverged from scratch")
  }

  test("incrementalBfs: more stored nodes than edgeCap but within the node cap stays on the driver tier") {
    // the same star churn: 41 stored distances and 36 delta dsts exceed
    // edgeCap = 10, but node-sized relations answer to the node cap
    // (default 500k), so only the 4 post-churn edges meet edgeCap and
    // the whole update runs on the driver — its result is a
    // LocalRelation, not the distributed tier's union of frames
    val edges = (1 to 40).map(i => (0L, i.toLong))
    val seeds = Seq(0L).toDF("id")
    val base = CorpusOps.bfsDistances(edges.toDF("u", "v"), seeds)
    val deltas = (5 to 40).map(i => (0L, i.toLong, -1)).toDF("u", "v", "delta")
    val out = CorpusOps.incrementalBfs(edges.toDF("u", "v"), base, deltas,
      seeds, edgeCap = 10)
    assert(out.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      s"expected the driver tier, got:\n${out.queryExecution.analyzed}")
    val scratch = CorpusOps.bfsDistances(
      (1 to 4).map(i => (0L, i.toLong)).toDF("u", "v"), seeds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == scratch)
  }

  test("incrementalBfs: an over-cap seed set falls through to the distributed path with the same distances") {
    // a small graph whose edges, dists and delta dsts all fit caps of
    // 10, queried with 12 seeds that were not derived from the stored
    // distances (11 lie outside the graph): the seed read alone must
    // close the driver-graph tier, and the distributed answer must
    // equal the driver tier's and from-scratch BFS on the post-churn graph
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val base = CorpusOps.bfsDistances(edges.toDF("u", "v"), Seq(1L).toDF("id"))
    val seeds = (Seq(1L) ++ (100L to 110L)).toDF("id")
    val deltas = Seq((2L, 3L, -1), (1L, 4L, 1)).toDF("u", "v", "delta")
    val post = Seq((1L, 2L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    assert(CorpusOps.incrementalBfsLocal(post, base, deltas, seeds,
      200, cap = 10, edgeCap = 10).isEmpty, "12 seeds must breach a cap of 10")
    assert(CorpusOps.incrementalBfsLocal(post, base, deltas,
      Seq(1L).toDF("id"), 200, cap = 10, edgeCap = 10).isDefined,
      "the same graph with one seed fits the tier")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = norm(CorpusOps.incrementalBfs(edges.toDF("u", "v"), base,
      deltas, seeds, cap = 10, edgeCap = 10))
    val local = norm(CorpusOps.incrementalBfs(edges.toDF("u", "v"), base,
      deltas, seeds))
    val scratch = norm(CorpusOps.bfsDistances(post, Seq(1L).toDF("id")))
    assert(got == local, s"fallthrough $got vs driver tier $local")
    assert(got == scratch, s"fallthrough $got vs scratch $scratch")
  }

  test("incrementalBfs equals from-scratch BFS on random churn waves") {
    val rnd = new scala.util.Random(31)
    val allEdges = (1 to 120).map { _ =>
      (rnd.nextInt(70).toLong, rnd.nextInt(70).toLong)
    }.filter(p => p._1 != p._2).distinct
    val seeds = Seq(0L, 7L, 13L).toDF("id")
    val base = CorpusOps.bfsDistances(allEdges.toDF("u", "v"), seeds)
    for (seed <- Seq(11, 12, 13)) {
      val r2 = new scala.util.Random(seed)
      val (gone, kept) = allEdges.partition(_ => r2.nextInt(4) == 0)
      val extra = (1 to 10).map { _ =>
        (r2.nextInt(70).toLong, r2.nextInt(70).toLong)
      }.filter(p => p._1 != p._2).filterNot(kept.contains).distinct
      val deltas = (gone.map { case (u, v) => (u, v, -1) } ++
        extra.map { case (u, v) => (u, v, 1) }).toDF("u", "v", "delta")
      val got = CorpusOps.incrementalBfs(allEdges.toDF("u", "v"), base,
        deltas, seeds).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val scratch = CorpusOps.bfsDistances((kept ++ extra).toDF("u", "v"), seeds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == scratch, s"seed $seed: incremental BFS diverged from re-run")
    }
  }

  test("splitComponents equals from-scratch clustering on random delete waves") {
    val rnd = new scala.util.Random(23)
    val allPairs = (1 to 90).map { _ =>
      val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val labels0 = CorpusOps.dupClusters(allPairs.toDF("doc_id_a", "doc_id_b"))
    for (seed <- Seq(5, 6, 7)) {
      // delete a random ~20% of edges — including node-removal shapes
      // (every edge of a node) and pure single-edge revocations
      val r2 = new scala.util.Random(seed)
      val (gone, kept) = allPairs.partition(_ => r2.nextInt(5) == 0)
      if (gone.nonEmpty) {
        val out = CorpusOps.splitComponents(labels0,
          kept.toDF("doc_id_a", "doc_id_b"), gone.toDF("doc_id_a", "doc_id_b"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
        val scratch = CorpusOps.dupClusters(kept.toDF("doc_id_a", "doc_id_b"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
        assert(out == scratch, s"seed $seed: bounded repair diverged from re-clustering")
      }
    }
  }

  test("weightedSample: weight-proportional inclusion, deterministic, TakeOrdered plan") {
    // two weight classes: heavy rows 10x the weight of light rows
    val rows = (1L to 2000L).map(i => (i, if (i % 2 == 0) 100L else 10L))
    val df = rows.toDF("doc_id", "n_chars")
    val pick = CorpusOps.weightedSample(df, "doc_id", "n_chars", 400)
      .collect().map(_.getLong(0)).toSet
    assert(pick.size == 400)
    val heavy = pick.count(_ % 2 == 0)
    // E-S inclusion tilts hard toward the heavy class; with a 10x
    // weight ratio the heavy share of a 20% cut is far above half
    assert(heavy > 300, s"heavy class should dominate the sample, got $heavy/400")
    // deterministic: same input, same sample
    val again = CorpusOps.weightedSample(df, "doc_id", "n_chars", 400)
      .collect().map(_.getLong(0)).toSet
    assert(again == pick)
    // scale shape: the cut is a TakeOrderedAndProject, not a global sort
    val plan = CorpusOps.weightedSample(df, "doc_id", "n_chars", 400)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("scrubFrequentTokens: df-threshold stop set, order-preserving reassembly, fully-boilerplate docs survive empty") {
    import spark.implicits._
    // 'the' in 3/4 docs (75% > 1/2 → stripped); 'rare' in 1 doc only
    val docs = Seq(
      (1L, "the quick rare the fox"),
      (2L, "the slow dog"),
      (3L, "the the the"),       // fully boilerplate → survives empty
      (4L, "calm waters here")).toDF("doc_id", "text")
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("token"))
    val termDf = tok.groupBy("token").agg(count(lit(1)).cast("long").as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val out = CorpusOps.scrubFrequentTokens(docs, "doc_id", "text", termDf, n)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == (("quick rare fox", 2L)), s"got $out")
    assert(out(2L) == (("slow dog", 1L)), s"got $out")
    assert(out(3L) == (("", 3L)), "fully-boilerplate doc kept, empty")
    assert(out(4L) == (("calm waters here", 0L)))
  }

  test("bfsDistances: mixed id widths unify on the WIDER type — INT edges vs BIGINT seeds and ids above Int range both traverse correctly") {
    // INT edges, BIGINT seeds: chain 1 -> 2 -> 3
    val eInt = Seq((1, 2), (2, 3)).toDF("u", "v")
    val sLong = Seq(1L).toDF("id")
    val got1 = CorpusOps.bfsDistances(eInt, sLong)
      .collect().map(r => (r.get(0).toString.toLong, r.getLong(1))).toMap
    assert(got1 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L), s"got $got1")
    // BIGINT edges with ids beyond Int range, INT seeds: narrowing to
    // the seed type would wrap/null the far endpoint
    val big = 5000000000L
    val eLong = Seq((7L, big), (big, big + 1)).toDF("u", "v")
    val sInt = Seq(7).toDF("id")
    val got2 = CorpusOps.bfsDistances(eLong, sInt)
      .collect().map(r => (r.get(0).toString.toLong, r.getLong(1))).toMap
    assert(got2 == Map(7L -> 0L, big -> 1L, (big + 1) -> 2L), s"got $got2")
  }

  test("bfsDistances: a non-integral id mix fails loud instead of casting edges to a mangled graph") {
    // STRING edges vs BIGINT seeds: a cast would null every
    // unparseable endpoint and the BFS would silently traverse a
    // subgraph — the contract is fail-loud naming all three types
    val eStr = Seq(("a", "b"), ("b", "c")).toDF("u", "v")
    val sLong = Seq(1L).toDF("id")
    val e = intercept[IllegalArgumentException](
      CorpusOps.bfsDistances(eStr, sLong))
    assert(e.getMessage.contains("integral")
      && e.getMessage.contains("STRING"), s"got: ${e.getMessage}")
    // homogeneous STRING ids stay supported (no cast needed)
    val sStr = Seq("a").toDF("id")
    val got = CorpusOps.bfsDistances(eStr, sStr)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 2L), s"got $got")
  }
}
