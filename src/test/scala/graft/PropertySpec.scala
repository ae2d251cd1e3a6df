package graft

import graft.cdc.{Envelope, EventFilters}
import graft.ops.{Dedup, Shingles}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based invariants (SURVEY §5.2): parser totality on arbitrary
  * junk (scalacheck generators), dedup idempotence, Jaccard bounds.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  test("envelope parse + filters are total on arbitrary strings (no throw, junk dropped)") {
    val junkGen = Gen.oneOf(
      Gen.alphaNumStr,
      Gen.const(null: String),
      Gen.const(""),
      Gen.const("{"),
      Gen.const("[1,2,3]"),
      Gen.const("""{"payload": 7}"""),
      Gen.const("""{"payload": {"op": []}}"""),
      Gen.asciiPrintableStr)
    val samples = Gen.listOfN(200, junkGen).sample.get
    val df = samples.zipWithIndex.map { case (s, i) => (s, i.toLong) }
      .toDF("value", "offset")
    // must not throw; nothing junk-shaped survives the filter chain
    val kept = EventFilters.all(Envelope.parse(df)).collect()
    assert(kept.isEmpty)
  }

  test("dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val docs = Tables.documents(spark, sf001)
    val once = Dedup.keepMinBy(docs, Seq("lang"), col("doc_id"))
    val twice = Dedup.keepMinBy(once, Seq("lang"), col("doc_id"))
    assert(once.except(twice).isEmpty && twice.except(once).isEmpty)
  }

  test("jaccard is bounded in [0,1], pairs ordered, self-pairs absent") {
    val sh = Shingles.tokenShingles(Tables.documents(spark, sf001), "doc_id", "text", 3)
    val pairs = Shingles.jaccardPairs(sh, 0.0)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, j) =>
      assert(a < b && j >= 0.0 && j <= 1.0, s"($a,$b,$j)")
    }
  }

  test("JsonKeyProbe matches a Jackson ground truth on generated envelopes") {
    // ground truth: the unwrap-then-containsKey rule computed with a real
    // JSON parser (payload key present and non-null ⇒ wrapped form)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def truth(js: String, key: String): Boolean =
      try {
        val root = mapper.readTree(js)
        if (root == null || !root.isObject) false
        else {
          val payload = root.get("payload")
          if (payload == null || payload.isNull) root.has(key)
          else if (payload.isObject) payload.has(key)
          else false
        }
      } catch { case _: Exception => false }

    val strVal = Gen.oneOf("x", "say \"after\": noon", "a\\b", "{", "null",
      "\"after\"", "after", "", "\\\"", "[1,2]")
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c => c.toString
      } + "\""
    val scalarGen: Gen[String] = Gen.oneOf(
      Gen.const("null"), Gen.const("17"), Gen.const("true"),
      strVal.map(jstr))
    def objGen(depth: Int): Gen[String] =
      for {
        n <- Gen.choose(0, 4)
        keys <- Gen.listOfN(n, Gen.oneOf("after", "before", "op", "source",
          "x after x", "schema", "payload_x", "ddl"))
        vals <- Gen.listOfN(n, if (depth <= 0) scalarGen
          else Gen.frequency(3 -> scalarGen, 1 -> objGen(depth - 1),
            1 -> scalarGen.map(v => s"[$v, $v]")))
      } yield keys.zip(vals).map { case (k, v) => s"${jstr(k)}: $v" }
        .mkString("{", ", ", "}")
    val envelopeGen: Gen[String] = Gen.frequency(
      2 -> objGen(2), // bare form
      2 -> objGen(2).map(p => s"""{"schema": {"fields": [{"field": "after"}]}, "payload": $p}"""),
      1 -> Gen.const("""{"payload": null, "after": 1}"""),
      1 -> Gen.const("""{"payload": "after"}"""),
      1 -> scalarGen, 1 -> Gen.alphaNumStr)

    val samples = Gen.listOfN(500, envelopeGen).sample.get
    samples.foreach { js =>
      val got = graft.functions.JsonKeyProbe.payloadHasKey(js, "after")
      val want = truth(js, "after")
      assert(got == want, s"payloadHasKey mismatch on: $js (got $got, want $want)")
    }
  }

  test("payloadSourceField matches Jackson on generated envelopes") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def truth(js: String, field: String): String =
      try {
        val root = mapper.readTree(js)
        if (root == null || !root.isObject) null
        else {
          val payload = {
            val p = root.get("payload")
            if (p == null || p.isNull) root
            else if (p.isObject) p
            else return null
          }
          val src = payload.get("source")
          if (src == null || !src.isObject) null
          else {
            val v = src.get(field)
            if (v != null && v.isTextual) v.asText() else null
          }
        }
      } catch { case _: Exception => null }

    val dbName = Gen.oneOf("shop", "a\"b", "x\\y", "t\tn", "héllo", "",
      "ué中")
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val srcGen: Gen[String] = for {
      db <- dbName; tbl <- dbName
      extra <- Gen.oneOf("", """, "ts_ms": 12""", """, "db_x": "decoy"""")
    } yield s"""{"db": ${jstr(db)}, "table": ${jstr(tbl)}$extra}"""
    val payloadGen: Gen[String] = Gen.frequency(
      4 -> srcGen.map(s => s"""{"op": "c", "source": $s, "after": {"source": {"db": "inner"}}}"""),
      1 -> Gen.const("""{"op": "c"}"""),
      1 -> Gen.const("""{"source": 7}"""),
      1 -> Gen.const("""{"source": null}"""),
      1 -> Gen.const("""{"source": ["db"]}"""))
    val envGen: Gen[String] = Gen.frequency(
      2 -> payloadGen,
      2 -> payloadGen.map(p => s"""{"schema": {"source": {"db": "wrapperdecoy"}}, "payload": $p}"""),
      1 -> Gen.const("""{"payload": null, "source": {"db": "bare"}}"""),
      1 -> Gen.const("junk"))
    val samples = Gen.listOfN(400, envGen).sample.get
    samples.foreach { js =>
      Seq("db", "table").foreach { f =>
        val got = graft.functions.JsonKeyProbe.payloadSourceField(js, f)
        val want = truth(js, f)
        assert(got == want, s"payloadSourceField($f) mismatch on: $js (got $got, want $want)")
      }
    }
  }

  test("payloadRawField parses to the same node Jackson extracts (generated envelopes)") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def truth(js: String, key: String): com.fasterxml.jackson.databind.JsonNode =
      try {
        val root = mapper.readTree(js)
        if (root == null || !root.isObject) null
        else {
          val payload = {
            val p = root.get("payload")
            if (p == null || p.isNull) root
            else if (p.isObject) p
            else return null
          }
          val v = payload.get(key)
          if (v == null || v.isNull) null else v
        }
      } catch { case _: Exception => null }
    val payloadGen: Gen[String] = Gen.frequency(
      4 -> Gen.oneOf(
        """{"op": "c", "after": {"id": 7, "v": "a\"b", "nested": {"x": [1, null]}}}""",
        """{"op": "u", "after": {"id": 1}, "source": {"db": "d"}}""",
        """{"op": "d", "after": null, "before": {"id": 2}}"""),
      1 -> Gen.const("""{"op": "c"}"""),
      1 -> Gen.const("""{"after": 7}"""),
      1 -> Gen.const("""{"after": [1, 2]}"""),
      1 -> Gen.const("""{"after": "scalar string"}"""))
    val envGen: Gen[String] = Gen.frequency(
      2 -> payloadGen,
      2 -> payloadGen.map(p => s"""{"schema": {"after": {"id": "decoy"}}, "payload": $p}"""),
      1 -> Gen.const("""{"payload": null, "after": {"id": "bare"}}"""),
      1 -> Gen.const("""{"payload": "scalar"}"""),
      1 -> Gen.const("junk"))
    val samples = Gen.listOfN(400, envGen).sample.get
    samples.foreach { js =>
      Seq("after", "op", "source", "missing").foreach { k =>
        val got = graft.functions.JsonKeyProbe.payloadRawField(js, k)
        val want = truth(js, k)
        if (want == null)
          assert(got == null, s"payloadRawField($k) on: $js (got $got, want null)")
        else {
          assert(got != null, s"payloadRawField($k) on: $js (got null, want $want)")
          assert(mapper.readTree(got) == want,
            s"payloadRawField($k) on: $js (got $got, want $want)")
        }
      }
    }
  }

  test("topStringField/topLongField match Jackson on generated wire records") {
    // the DSv2 reader cracks {"value": <event>, "offset": <n>} with
    // these instead of a full Jackson parse — parity is the contract
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def truthStr(js: String, key: String): String =
      try {
        val root = mapper.readTree(js)
        if (root == null || !root.isObject) null
        else {
          val v = root.get(key)
          if (v != null && v.isTextual) v.asText() else null
        }
      } catch { case _: Exception => null }
    def truthLong(js: String, key: String): Long =
      try {
        val root = mapper.readTree(js)
        if (root == null || !root.isObject) -1L
        else {
          val v = root.get(key)
          if (v == null) -1L
          else if (v.isIntegralNumber) v.asLong()
          else if (v.isTextual)
            try java.lang.Long.parseLong(v.asText().trim)
            catch { case _: NumberFormatException => -1L }
          else -1L
        }
      } catch { case _: Exception => -1L }

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val eventGen = Gen.oneOf(
      """{"payload": {"op": "c", "after": {"k": 1}}}""",
      """say "value": here""", "a\\b\"c", "", "{nested \"offset\": 9}")
    val valueFieldGen: Gen[String] = Gen.frequency(
      4 -> eventGen.map(e => s""""value": ${jstr(e)}"""),
      1 -> Gen.const(""""value": null"""),
      1 -> Gen.const(""""value": 42"""),
      1 -> Gen.const(""""value": {"offset": 5}"""))
    val offsetFieldGen: Gen[String] = Gen.frequency(
      4 -> Gen.choose(0L, Long.MaxValue).map(n => s""""offset": $n"""),
      1 -> Gen.const(""""offset": "17""""),
      1 -> Gen.const(""""offset": null"""),
      1 -> Gen.const(""""offset": 1.5"""),
      1 -> Gen.const(""""offset": -3"""))
    val recGen: Gen[String] = for {
      v <- valueFieldGen
      o <- offsetFieldGen
      order <- Gen.oneOf(true, false)
      decoy <- Gen.oneOf("", """"decoy value": "x", """, """"z": [1, {"value": "in"}], """)
    } yield if (order) s"""{$decoy$v, $o}""" else s"""{$decoy$o, $v}"""
    val junk = Gen.oneOf(Gen.const("not json"), Gen.const("[1]"), Gen.const("{"),
      Gen.alphaNumStr)
    val samples = Gen.listOfN(400, Gen.frequency(5 -> recGen, 1 -> junk)).sample.get
    samples.foreach { js =>
      val gotV = graft.functions.JsonKeyProbe.topStringField(js, "value")
      val gotO = graft.functions.JsonKeyProbe.topLongField(js, "offset", -1L)
      assert(gotV == truthStr(js, "value"),
        s"topStringField mismatch on: $js (got $gotV)")
      assert(gotO == truthLong(js, "offset"),
        s"topLongField mismatch on: $js (got $gotO, want ${truthLong(js, "offset")})")
    }
  }

  test("identical texts have jaccard exactly 1.0") {
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w q r"))
      .toDF("doc_id", "text")
    val pairs = Shingles.jaccardPairs(
      Shingles.tokenShingles(df, "doc_id", "text", 3), 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1.0)))
  }


  test("FixedPoint sums are bitwise identical under any partitioning") {
    import graft.ops.FixedPoint
    val rnd = new scala.util.Random(11)
    val vals = Seq.fill(5000)(math.round(rnd.nextDouble() * 1e7) / 100.0)
    val df = vals.toDF("v")
    def total(d: org.apache.spark.sql.DataFrame) =
      d.agg(FixedPoint.moneySum(col("v")).as("s")).as[Double].head()
    val t1 = total(df.repartition(1))
    val t32 = total(df.repartition(32))
    assert(t1 == t32, s"fixed-point sum must not depend on partitioning: $t1 vs $t32")
    // and it equals the decimal-exact reference
    val ref = df.agg(sum(col("v").cast("decimal(28,2)")).cast("double")).as[Double].head()
    assert(t1 == ref)
  }

  test("packShards: every shard except via a single oversized doc stays within budget") {
    import graft.ops.CorpusOps
    val rnd = new scala.util.Random(13)
    val docs = Seq.tabulate(500)(i => (i.toLong, rnd.nextInt(120) + 1))
      .toDF("doc_id", "w")
    val budget = 300L
    val shards = CorpusOps.packShards(docs, "doc_id", col("w"), budget, chunk = 37)
      .groupBy("shard_id").agg(sum("n_tokens").as("tot"), max("n_tokens").as("mx"))
      .as[(Long, Long, Long)].collect()
    shards.foreach { case (sid, tot, mx) =>
      assert(tot <= budget + mx,
        s"shard $sid holds $tot > budget $budget + largest doc $mx")
    }
    // shard ids are dense 0..n
    val ids = shards.map(_._1).sorted
    assert(ids.toSeq == (0L until ids.length).toSeq)
  }

  test("intervalJoin equals the naive overlap predicate on random intervals") {
    import graft.ops.Joins
    val rnd = new scala.util.Random(7)
    def mkSide(n: Int) = Seq.tabulate(n) { i =>
      val s = rnd.nextInt(10000).toLong * 60000L
      (rnd.nextInt(5).toLong, i.toLong, new java.sql.Timestamp(s),
        new java.sql.Timestamp(s + (rnd.nextInt(600) + 1).toLong * 60000L))
    }
    val l = mkSide(300).toDF("k", "id", "s", "e")
    val r = mkSide(300).toDF("k", "id", "s", "e")
    val got = Joins.intervalJoin(l, r, "k", "s", "e", binSec = 3600)
      .select(col("l_id"), col("r_id")).as[(Long, Long)].collect().toSeq
    val naive = l.as("a").join(r.as("b"),
        col("a.k") === col("b.k") && col("a.s") < col("b.e") && col("b.s") < col("a.e"))
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSeq
    assert(got.sorted == naive.sorted,
      s"bin-bucketed form diverged: ${got.size} vs ${naive.size} pairs")
    assert(got.size == got.distinct.size, "canonical bin must emit each pair once")
  }

  test("chunkDocs: stride==window partitions the token stream exactly; overlap bounded") {
    import graft.ops.CorpusOps
    val rnd = new scala.util.Random(11)
    val docs = Seq.tabulate(50) { i =>
      (i.toLong, Seq.fill(rnd.nextInt(100) + 1)(s"t${rnd.nextInt(30)}").mkString(" "))
    }.toDF("doc_id", "text")
    // partition case: concatenating chunks in order restores the document
    val parts = CorpusOps.chunkDocs(docs, "doc_id", "text", 32, 32)
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
        x => x.getField("chunk_text")), " ").as("rt"))
    val diff = parts.join(docs, "doc_id")
      .filter(col("rt") =!= col("text")).count()
    assert(diff == 0, "stride==window must reassemble every doc exactly")
    // overlap case: every chunk is <= window tokens, starts align to stride
    val ch = CorpusOps.chunkDocs(docs, "doc_id", "text", 32, 24)
      .select(col("n_tok")).as[Long].collect()
    assert(ch.forall(n => n >= 1 && n <= 32))
  }

  test("mmrRerank matches an in-memory reference greedy on seeded random corpora") {
    import graft.ops.VectorSearch
    // the reference implementation shares the operator's EXACT integer
    // algebra: sequential double dot products, floor(cos*1e6+0.5),
    // score = rel - maxSimToPicked, ties to the smallest id
    def refMmr(vecs: Map[Long, Array[Float]], qIds: Seq[Long],
        candK: Int, k: Int): Map[Long, Seq[Long]] = {
      def dot(a: Array[Float], b: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
        s
      }
      def cos(a: Array[Float], b: Array[Float]): Double =
        dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      def toI(c: Double): Long = math.floor(c * 1e6 + 0.5).toLong
      qIds.map { q =>
        val qv = vecs(q)
        val cand = vecs.toSeq.filter(_._1 != q)
          .map { case (id, v) => (id, cos(qv, v)) }
          .sortBy { case (id, c) => (-c, id) }.take(candK)
          .map { case (id, c) => (id, toI(c)) }
        val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (picked.length < k && picked.length < cand.length) {
          val best = cand.filter(c => !picked.contains(c._1)).minBy {
            case (id, rel) =>
              val maxSim = if (picked.isEmpty) 0L
                else picked.map(p => toI(cos(vecs(id), vecs(p)))).max
              (-(rel - maxSim), id)
          }
          picked += best._1
        }
        q -> picked.toSeq
      }.toMap
    }
    val rnd = new scala.util.Random(421)
    for (trial <- 0 until 3) {
      val n = 20 + trial * 5
      val vecs = (0L until n.toLong).map { id =>
        id -> Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)
      }.toMap
      val df = vecs.toSeq.map { case (id, v) => (id, v.toSeq) }
        .toDF("vec_id", "embedding")
      val qIds = Seq(0L, 1L, 2L)
      val got = VectorSearch.mmrRerank(
        df.filter(col("vec_id") < 3), df, candK = 8, k = 4)
        .as[(Long, String)].collect()
        .map { case (q, s) => q -> s.split(",").map(_.toLong).toSeq }.toMap
      val want = refMmr(vecs, qIds, candK = 8, k = 4)
      assert(got == want, s"trial $trial: got $got want $want")
    }
  }

  test("expectations match plain-Scala reference counts on seeded random data with nulls and duplicates") {
    import graft.ops.Profile
    val rnd = new scala.util.Random(1137)
    for (trial <- 0 until 3) {
      val rows: Seq[(java.lang.Long, java.lang.Double)] =
        Seq.fill(120 + trial * 40) {
          val k: java.lang.Long =
            if (rnd.nextDouble() < 0.1) null
            else java.lang.Long.valueOf(rnd.nextInt(60).toLong)
          val v: java.lang.Double =
            if (rnd.nextDouble() < 0.1) null
            else java.lang.Double.valueOf(rnd.nextDouble() * 20 - 5)
          (k, v)
        }
      val df = rows.toDF("k", "v")
      val out = Profile.expectations(df, Seq(
        Profile.NotNull("k_not_null", "k", budget = 3L),
        Profile.Unique("k_unique", "k"),
        Profile.InRange("v_0_10", "v", 0.0, 10.0, budget = 20L)))
        .as[(String, Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._4))).toMap
      val nullK = rows.count(_._1 == null).toLong
      // Unique: rows beyond the first per value, nulls one shared value
      val dups = rows.size.toLong -
        rows.map(r => Option(r._1).map(_.longValue)).distinct.size
      val rangeViol = rows.count(r =>
        r._2 != null && (r._2 < 0.0 || r._2 > 10.0)).toLong
      assert(out("k_not_null") == ((nullK, nullK <= 3L)), s"trial $trial")
      assert(out("k_unique") == ((dups, dups <= 0L)), s"trial $trial")
      assert(out("v_0_10") == ((rangeViol, rangeViol <= 20L)), s"trial $trial")
    }
  }

  test("drop enforcement partitions the input: clean + tagged = all rows, the clean side has zero violations, every tagged row violates its named rules (seeded random)") {
    import graft.ops.Profile
    import org.apache.spark.sql.functions.{col, size => asize}
    val rnd = new scala.util.Random(40717)
    for (trial <- 0 until 3) {
      val rows: Seq[(Long, java.lang.Long, java.lang.Double)] =
        (0 until (100 + trial * 50)).map { i =>
          val k: java.lang.Long =
            if (rnd.nextDouble() < 0.15) null
            else java.lang.Long.valueOf(rnd.nextInt(40).toLong)
          val v: java.lang.Double =
            if (rnd.nextDouble() < 0.1) null
            else java.lang.Double.valueOf(rnd.nextDouble() * 20 - 5)
          (i.toLong, k, v)
        }
      val df = rows.toDF("id", "k", "v")
      val rules: Seq[Profile.Rule] = Seq(
        Profile.NotNull("k_set", "k", action = Profile.Drop),
        Profile.Unique("k_uniq", "k", action = Profile.Drop),
        Profile.InRange("v_band", "v", 0.0, 10.0, action = Profile.Drop))
      val tagged = df.transform(Profile.tagViolations(_, rules, Seq("id")))
        .localCheckpoint(true)
      val clean = tagged.filter(asize(col("violated")) === 0)
      val dropped = tagged.filter(asize(col("violated")) > 0)
      // partition: nothing lost, nothing duplicated
      assert(clean.count() + dropped.count() == rows.size.toLong,
        s"trial $trial")
      assert(tagged.select(col("id")).distinct().count() == rows.size.toLong,
        s"trial $trial: row identity preserved")
      // the CLEAN side re-judged has zero violations for every drop rule
      val cleanVerdicts = Profile.expectations(clean.drop("violated"), rules)
        .as[(String, Long, Long, Boolean)].collect()
        .map(r => r._1 -> r._2).toMap
      assert(cleanVerdicts.values.forall(_ == 0L),
        s"trial $trial: clean side must satisfy every rule, got $cleanVerdicts")
      // every tagged row actually violates each rule its tag names
      val byId = rows.map(r => r._1 -> ((r._2, r._3))).toMap
      val kCounts = rows.groupBy(r => Option(r._2).map(_.longValue))
        .view.mapValues(_.map(_._1).sorted).toMap
      dropped.select(col("id"), col("violated"))
        .as[(Long, Seq[String])].collect().foreach { case (id, tags) =>
          val (k, v) = byId(id)
          tags.foreach {
            case "k_set" => assert(k == null, s"trial $trial id $id")
            case "k_uniq" =>
              // beyond the first per value, survivors ranked by id
              val ids = kCounts(Option(k).map(_.longValue))
              assert(ids.head != id, s"trial $trial id $id: first survives")
            case "v_band" =>
              assert(v != null && (v < 0.0 || v > 10.0),
                s"trial $trial id $id")
            case other => fail(s"unknown tag $other")
          }
        }
    }
  }

  test("schema-drift verdicts match a plain-Scala reference on randomized wire (extra fields, corrupted types, clean rows)") {
    import graft.cdc.Subscription
    import graft.sinks.EsSink
    import graft.streaming.{CdcPipeline, PipelineMetrics}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StructType
    val url = "jdbc:derby:memory:graftdriftprop;create=true"
    val target = PipelineMetrics.Target(url, "driftprop_metrics")
    PipelineMetrics.ensureTable(target)
    PipelineMetrics.ensureDriftTable(target)
    val pipe = CdcPipeline("driftprop",
      Subscription(Set("d"), Set("t")),
      StructType.fromDDL("id BIGINT, txt STRING, score DOUBLE"), "id",
      metrics = Some(target), driftCheck = true)
    val ok = new EsSink.Transport { def send(r: EsSink.Request): Int = 200 }
    val cfg = EsSink.Config("http://es/idx", "u", "p", "id")
    val extras = Vector("note", "flag", "extra")
    val rnd = new scala.util.Random(90210)
    for (trial <- 0 until 3) {
      var expNew = Set.empty[String]
      var expChanged = Set.empty[String]
      var expRowsNew = 0L
      var expRowsBad = 0L
      val events = (0 until (40 + trial * 20)).map { i =>
        val roll = rnd.nextDouble()
        val (after, isNew, isBad) =
          if (roll < 0.25) {
            val fs = extras.take(1 + rnd.nextInt(2))
            (s"""{"id":$i,"txt":"a","score":1.5,""" +
              fs.map(f => s""""$f":1""").mkString(",") + "}", fs.toSet, false)
          } else if (roll < 0.45) {
            // corrupt a typed field: score gets a non-numeric string
            (s"""{"id":$i,"txt":"a","score":"bad"}""",
              Set.empty[String], true)
          } else
            (s"""{"id":$i,"txt":"a","score":1.5}""", Set.empty[String], false)
        if (isNew.nonEmpty) { expNew ++= isNew; expRowsNew += 1 }
        if (isBad) { expChanged += "score"; expRowsBad += 1 }
        (s"""{"payload":{"before":null,"after":$after,""" +
          s""""source":{"db":"d","table":"t","ts_ms":$i},"op":"c","ts_ms":$i}}""",
          i.toLong)
      }
      pipe.applyBatch(pipe.changeRows(events.toDF("value", "offset")),
        cfg, ok, batchId = trial.toLong)
      val row = PipelineMetrics.driftRows(spark, target)
        .filter(col("pipeline") === "driftprop"
          && col("batch_id") === trial.toLong)
        .select(col("new_cols"), col("type_changes"), col("rows_new"),
          col("rows_badtype"), col("new_col_names"), col("changed_names"))
        .as[(Long, Long, Long, Long, String, String)].collect().head
      assert(row == ((expNew.size.toLong, expChanged.size.toLong,
        expRowsNew, expRowsBad,
        expNew.toSeq.sorted.mkString(","),
        expChanged.toSeq.sorted.mkString(","))), s"trial $trial: got $row")
    }
  }

  test("replay lifecycle converges to the never-dropped LWW model on randomized multi-batch feeds (stable verdicts)") {
    // The documented supported path: verdicts are a stable function of
    // the KEY (the additive-store registration rule, and the epoch
    // contract's 'no newer upstream truth' premise — deletes only touch
    // clean keys here; replaying over upstream deletes is the operator
    // breaking the stamped-epoch contract, not the verb). Model: plain
    // Scala LWW over ALL generated events with no rule at all — after
    // strict batches + conf fix + replay, the served store must land
    // exactly there.
    import graft.cdc.Subscription
    import graft.ops.Profile
    import graft.sinks.EsSink
    import graft.streaming.{CdcPipeline, PipelineMetrics}
    import org.apache.spark.sql.types.StructType
    import java.nio.file.Files
    val url = "jdbc:derby:memory:graftreplayprop;create=true"
    val target = PipelineMetrics.Target(url, "replayprop_metrics")
    PipelineMetrics.ensureTable(target)
    PipelineMetrics.ensureExpectTable(target)
    val rnd = new scala.util.Random(61803)
    for (trial <- 0 until 3) {
      val dl = Files.createTempDirectory(s"graft_rplprop_dl_$trial").toString
      val feed = Files.createTempDirectory(s"graft_rplprop_feed_$trial").toString
      val store = Files.createTempDirectory(s"graft_rplprop_st_$trial").toString
      val sink = new EsSink.FileDocStore(store)
      val cfg = EsSink.Config("http://es/idx", "u", "p", "id")
      def pipe(name: String, hi: Double) = CdcPipeline(name,
        Subscription(Set("d"), Set("t")),
        StructType.fromDDL("id BIGINT, score DOUBLE"), "id",
        deadLetterDir = Some(dl), metrics = Some(target),
        expectations = Seq(Profile.InRange("k_band", "id", 0.0, hi,
          action = Profile.Drop)))
      val strict = pipe(s"rpl$trial", 6.0)  // keys 7..9 violate, stably
      val nBatches = 2 + rnd.nextInt(3)
      // model state: key -> (ts, op, score); LWW by (ts, offset)
      var events = Vector.empty[(Long, Long, String, Double, Long)]
      var off = 0L
      (0 until nBatches).foreach { b =>
        val batch = (0 until (10 + rnd.nextInt(15))).map { _ =>
          val k = rnd.nextInt(10).toLong
          // deletes only for stably-clean keys (see header comment)
          val op = if (k <= 6 && rnd.nextDouble() < 0.15) "d" else "c"
          val score = math.floor(rnd.nextDouble() * 100) / 10.0
          off += 1
          val ts = b * 1000L + off
          events :+= ((k, ts, op, score, off))
          val after = if (op == "d") "null"
            else s"""{"id":$k,"score":$score}"""
          val before = if (op == "d") s"""{"id":$k,"score":$score}"""
            else "null"
          (s"""{"payload":{"before":$before,"after":$after,""" +
            s""""source":{"db":"d","table":"t","ts_ms":$ts},""" +
            s""""op":"$op","ts_ms":$ts}}""", off)
        }
        strict.applyBatch(strict.changeRows(batch.toDF("value", "offset")),
          cfg, sink, batchId = b.toLong)
      }
      // conf fix + replay through the normal path at an epoch above
      // every generated ts
      val replayed = PipelineMetrics.replayExpectDeadLetters(spark, dl,
        s"rpl$trial", "d", "t", feed, tsMs = 1000000L)
      val fixed = pipe(s"rpl$trial", 1e18)
      if (replayed > 0) {
        val raw = spark.read.schema(StructType.fromDDL(
          "value STRING, offset BIGINT")).json(feed)
        fixed.applyBatch(fixed.changeRows(raw), cfg, sink,
          batchId = nBatches.toLong)
      }
      // plain-Scala never-dropped model: per-key LWW over all events
      val model = events.groupBy(_._1).flatMap { case (k, evs) =>
        val (_, _, op, score, _) = evs.maxBy(e => (e._2, e._5))
        if (op == "d") None else Some(k -> score)
      }
      val served = new java.io.File(store).listFiles()
        .filter(f => f.getName.endsWith(".json")
          && !f.getName.contains("_graft_progress_"))
        .map { f =>
          val n = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(java.nio.file.Files.readString(f.toPath))
          n.get("id").asLong() -> n.get("score").asDouble()
        }.toMap
      assert(served == model,
        s"trial $trial ($nBatches batches): served $served vs model $model")
    }
  }

  test("view keyed-replay lifecycle converges to the never-dropped enriched model on randomized fact+dim feeds") {
    // The view-kind completion of the lww property above: dead letters
    // are DERIVED enriched rows, so replay resolves them to fact keys
    // and re-drives the keys' current truth from the table log
    // (ViewPipeline.replayExpectDeadLetters). Model: plain-Scala LWW of
    // the fact events inner-joined to plain-Scala LWW of the dim events
    // with NO rule at all — after strict drives + conf fix + keyed
    // replay + a normal drive, the JDBC store must land exactly there.
    import graft.ops.Profile
    import graft.streaming.{JdbcTarget, PipelineMetrics, ViewPipeline}
    import org.apache.spark.sql.types.StructType
    import java.nio.file.Files
    val url = "jdbc:derby:memory:graftviewprop;create=true"
    val target = PipelineMetrics.Target(url, "viewprop_metrics")
    PipelineMetrics.ensureTable(target)
    PipelineMetrics.ensureExpectTable(target)
    val rnd = new scala.util.Random(271828)
    for (trial <- 0 until 2) {
      val tbl = s"viewprop_t$trial"
      val c0 = java.sql.DriverManager.getConnection(url)
      c0.createStatement().execute(
        s"""CREATE TABLE $tbl ("fid" BIGINT NOT NULL PRIMARY KEY,
           | "cust" BIGINT, "score" DOUBLE, "cid" BIGINT,
           | "nm" VARCHAR(16))""".stripMargin.replace("\n", ""))
      c0.close()
      val dl = Files.createTempDirectory(s"graft_vwprop_dl_$trial").toString
      val feed = Files.createTempDirectory(s"graft_vwprop_feed_$trial").toFile
      val work = Files.createTempDirectory(s"graft_vwprop_wk_$trial").toString
      def pipe(hi: Double) = ViewPipeline(
        name = s"vwp$trial", databases = Set("d"),
        factTable = "f", factSchema = StructType.fromDDL(
          "fid BIGINT, cust BIGINT, score DOUBLE"),
        factIdField = "fid", factJoinField = "cust",
        dimTable = "dm", dimSchema = StructType.fromDDL(
          "cid BIGINT, nm STRING"),
        dimIdField = "cid", dimJoinField = "cid", leftOuter = false,
        target = JdbcTarget(url, tbl, Some("nm VARCHAR(16)")),
        metrics = Some(target), deadLetterDir = Some(dl),
        expectations = Seq(Profile.InRange("fid_band", "fid", 0.0, hi,
          action = Profile.Drop)))
      def env(table: String, after: String, before: String, op: String,
          ts: Long, off: Long): String = {
        val ev = s"""{"payload":{"before":$before,"after":$after,""" +
          s""""source":{"db":"d","table":"$table","ts_ms":$ts},""" +
          s""""op":"$op","ts_ms":$ts}}"""
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        s"""{"value":${m.writeValueAsString(ev)},"offset":$off}"""
      }
      var off = 0L
      var facts = Vector.empty[(Long, Long, String, Long, Double)] // fid, ts, op, cust, score
      var dims = Vector.empty[(Long, Long, Long, String)] // cid, ts, cid, nm
      val lines = scala.collection.mutable.ArrayBuffer[String]()
      // every cust exists from ts 1 (facts always enrich)
      (0L until 3L).foreach { c =>
        off += 1
        dims :+= ((c, 1L, c, s"n$c"))
        lines += env("dm", s"""{"cid":$c,"nm":"n$c"}""", "null", "c", 1L, off)
      }
      val nEvents = 25 + rnd.nextInt(25)
      (0 until nEvents).foreach { _ =>
        off += 1
        val ts = 10L + off
        if (rnd.nextDouble() < 0.2) { // dim rename
          val c = rnd.nextInt(3).toLong
          val nm = s"n$c${rnd.nextInt(5)}"
          dims :+= ((c, ts, c, nm))
          lines += env("dm", s"""{"cid":$c,"nm":"$nm"}""", "null", "u",
            ts, off)
        } else {
          val k = rnd.nextInt(10).toLong
          // deletes only for stably-clean keys (the lww property's
          // stamped-epoch premise)
          val op = if (k <= 6 && rnd.nextDouble() < 0.15) "d" else "c"
          val score = math.floor(rnd.nextDouble() * 100) / 10.0
          val cust = k % 3
          facts :+= ((k, ts, op, cust, score))
          val body = s"""{"fid":$k,"cust":$cust,"score":$score}"""
          lines += env("f", if (op == "d") "null" else body,
            if (op == "d") body else "null", op, ts, off)
        }
      }
      // several feed files: the streams batch them as they arrive
      lines.grouped(12).zipWithIndex.foreach { case (g, i) =>
        import scala.jdk.CollectionConverters._
        Files.write(new java.io.File(feed, f"$i%03d.json").toPath,
          g.toSeq.asJava)
        ()
      }
      pipe(hi = 6.0).runOnce(spark, feed.toString, work) // 7..9 violate
      val fixed = pipe(hi = 1e18)
      fixed.replayExpectDeadLetters(spark, work, feed.toString, "d",
        tsMs = 1000000L)
      fixed.runOnce(spark, feed.toString, work)
      // plain-Scala never-dropped enriched model
      val dimNow = dims.groupBy(_._1).map { case (c, evs) =>
        c -> evs.maxBy(_._2)._4
      }
      val model = facts.groupBy(_._1).flatMap { case (k, evs) =>
        val (_, _, op, cust, score) = evs.maxBy(_._2)
        if (op == "d") None
        else dimNow.get(cust).map(nm => k -> ((cust, score, nm)))
      }
      val served = spark.read.jdbc(url, tbl, new java.util.Properties())
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getString(4)))).toMap
      assert(served == model,
        s"trial $trial: served $served vs model $model")
      assert(PipelineMetrics.expectDeadLetters(spark, dl).count() == 0L,
        "all dead letters consumed (live keys re-served, deleted retired)")
    }
  }

  test("drift replay lifecycle converges to the tolerated-schema model on randomized wire (stable drift classes)") {
    // The drift completion of the replay properties above (q172's
    // contract, randomized): drift class is a STABLE function of the
    // key — keys 0..5 clean wire, 6..7 carry an undeclared `note`,
    // 8..9 a bad-typed score. Strict batches (newColsBudget 0, Drop)
    // quarantine 6..9's winners; the conf EVOLVES (budget raise) and
    // the raw dead letters replay through the fixed pipeline. Model:
    // plain-Scala LWW over the STRUCTURALLY-VALID keys (0..7) — the
    // note carriers converge (each key's newest dead letter is its
    // global LWW winner, the epoch tie-break by originating batch id),
    // the bad-typed keys stay out (Drop withholds bad types at ANY
    // budget — they re-quarantine, never silently null) and end the
    // lifecycle as the ONLY remaining dead letters. Deletes only touch
    // stably-clean keys (the stamped-epoch premise shared by all three
    // properties).
    import graft.cdc.Subscription
    import graft.ops.Profile
    import graft.sinks.EsSink
    import graft.streaming.{CdcPipeline, PipelineMetrics}
    import org.apache.spark.sql.types.StructType
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, get_json_object}
    val url = "jdbc:derby:memory:graftdriftprop;create=true"
    val target = PipelineMetrics.Target(url, "driftprop_metrics")
    PipelineMetrics.ensureTable(target)
    PipelineMetrics.ensureDriftTable(target)
    val rnd = new scala.util.Random(141421)
    for (trial <- 0 until 3) {
      val dl = Files.createTempDirectory(s"graft_dfprop_dl_$trial").toString
      val feed = Files.createTempDirectory(s"graft_dfprop_fd_$trial").toString
      val store = Files.createTempDirectory(s"graft_dfprop_st_$trial").toString
      val sink = new EsSink.FileDocStore(store)
      val cfg = EsSink.Config("http://es/idx", "u", "p", "id")
      def pipe(budget: Long) = CdcPipeline(s"dfp$trial",
        Subscription(Set("d"), Set("t")),
        StructType.fromDDL("id BIGINT, score DOUBLE"), "id",
        deadLetterDir = Some(dl), metrics = Some(target),
        driftPolicy = Some(CdcPipeline.DriftPolicy(newColsBudget = budget,
          action = Profile.Drop)))
      val strict = pipe(0L)
      val nBatches = 2 + rnd.nextInt(3)
      var events = Vector.empty[(Long, Long, String, Double, Long)]
      var off = 0L
      (0 until nBatches).foreach { b =>
        val batch = (0 until (10 + rnd.nextInt(15))).map { _ =>
          val k = rnd.nextInt(10).toLong
          val op = if (k <= 5 && rnd.nextDouble() < 0.15) "d" else "c"
          val score = math.floor(rnd.nextDouble() * 100) / 10.0
          off += 1
          val ts = b * 1000L + off
          events :+= ((k, ts, op, score, off))
          val body =
            if (k >= 8) s"""{"id":$k,"score":"bad"}"""
            else if (k >= 6) s"""{"id":$k,"score":$score,"note":"x"}"""
            else s"""{"id":$k,"score":$score}"""
          val after = if (op == "d") "null" else body
          val before = if (op == "d") body else "null"
          (s"""{"payload":{"before":$before,"after":$after,""" +
            s""""source":{"db":"d","table":"t","ts_ms":$ts},""" +
            s""""op":"$op","ts_ms":$ts}}""", off)
        }
        strict.applyBatch(strict.changeRows(batch.toDF("value", "offset")),
          cfg, sink, batchId = b.toLong)
      }
      // conf fix (budget raise — `note` tolerated) + drift replay at an
      // epoch above every generated ts
      val replayed = PipelineMetrics.replayDriftDeadLetters(spark, dl,
        s"dfp$trial", "d", "t", feed, tsMs = 1000000L)
      val evolved = pipe(Long.MaxValue)
      if (replayed > 0) {
        val raw = spark.read.schema(StructType.fromDDL(
          "value STRING, offset BIGINT")).json(feed)
        evolved.applyBatch(evolved.changeRows(raw), cfg, sink,
          batchId = nBatches.toLong)
      }
      // plain-Scala model: LWW over the structurally-valid keys; the
      // bad-typed keys never serve. Served docs carry only the DECLARED
      // fields (the undeclared note is tolerated, not served).
      val model = events.filter(_._1 <= 7).groupBy(_._1)
        .flatMap { case (k, evs) =>
          val (_, _, op, score, _) = evs.maxBy(e => (e._2, e._5))
          if (op == "d") None else Some(k -> score)
        }
      val served = new java.io.File(store).listFiles()
        .filter(f => f.getName.endsWith(".json")
          && !f.getName.contains("_graft_progress_"))
        .map { f =>
          val n = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(java.nio.file.Files.readString(f.toPath))
          n.get("id").asLong() -> n.get("score").asDouble()
        }.toMap
      assert(served == model,
        s"trial $trial ($nBatches batches): served $served vs model $model")
      // judgment never skipped: the bad-typed keys — and ONLY they —
      // re-quarantined under the replay batch (originals retired)
      val requarantined = PipelineMetrics.driftDeadLetters(spark, dl)
        .filter(col("pipeline") === s"dfp$trial")
        .select(get_json_object(col("row_json"), "$.id").cast("long"),
          col("batch_id"))
        .as[(Long, Long)].collect().toSeq
      val hadBadtype = events.exists(e => e._1 >= 8 && e._3 == "c")
      assert(requarantined.forall(r =>
        r._1 >= 8L && r._2 == nBatches.toLong),
        s"trial $trial: got $requarantined")
      assert(!hadBadtype || requarantined.nonEmpty,
        s"trial $trial: bad-typed winners must re-quarantine")
    }
  }

  test("ann keyed-replay lifecycle converges to the never-dropped postings model on randomized vector churn") {
    // The ann-kind completion of the keyed-replay properties (q176's
    // contract, randomized): dead letters are DERIVED posting actions,
    // so replay resolves them to vector ids and re-drives each id's
    // current table-log truth. Model: plain-Scala LWW over the vector
    // events with NO rule at all — live keys' vectors, each served
    // posting's advisory cell engine-checked against the quantizer.
    import graft.ops.Profile
    import graft.streaming.{AnnServingPipeline, PipelineMetrics}
    import java.nio.file.Files
    val url = "jdbc:derby:memory:graftannprop;create=true"
    val target = PipelineMetrics.Target(url, "annprop_metrics")
    PipelineMetrics.ensureTable(target)
    PipelineMetrics.ensureExpectTable(target)
    val cents = Array(Array(1f, 0f), Array(-1f, 0f),
      Array(0f, 1f), Array(0f, -1f))
    val rnd = new scala.util.Random(314159)
    for (trial <- 0 until 2) {
      val tbl = s"annprop_t$trial"
      val c0 = java.sql.DriverManager.getConnection(url)
      c0.createStatement().execute(
        s"""CREATE TABLE $tbl ("vec_id" BIGINT NOT NULL PRIMARY KEY,
           | "cell" INTEGER, "emb_json" VARCHAR(32000))"""
          .stripMargin.replace("\n", ""))
      c0.close()
      val dl = Files.createTempDirectory(s"graft_annprop_dl_$trial").toString
      val feed = Files.createTempDirectory(s"graft_annprop_feed_$trial").toFile
      val work = Files.createTempDirectory(s"graft_annprop_wk_$trial").toString
      def pipe(hi: Double) = AnnServingPipeline(
        name = s"annp$trial", databases = Set("d"), table = "embeddings",
        idField = "vec_id", vectorField = "embedding", cents = cents,
        jdbcUrl = url, postingsTable = tbl,
        metrics = Some(target), deadLetterDir = Some(dl),
        expectations = Seq(Profile.InRange("id_band", "vec_id", 0.0, hi,
          action = Profile.Drop)))
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      def env(after: String, before: String, op: String,
          ts: Long, off: Long): String = {
        val ev = s"""{"payload":{"before":$before,"after":$after,""" +
          s""""source":{"db":"d","table":"embeddings","ts_ms":$ts},""" +
          s""""op":"$op","ts_ms":$ts}}"""
        s"""{"value":${m.writeValueAsString(ev)},"offset":$off}"""
      }
      // quarter-steps are float-exact, so the JSON round trip and the
      // model agree bitwise
      def q4(): Double = (rnd.nextInt(9) - 4) * 0.25
      var off = 0L
      var events = Vector.empty[(Long, Long, String, Double, Double)]
      val lines = scala.collection.mutable.ArrayBuffer[String]()
      val nEvents = 25 + rnd.nextInt(25)
      (0 until nEvents).foreach { _ =>
        off += 1
        val ts = 10L + off
        val k = rnd.nextInt(10).toLong
        val op = if (rnd.nextDouble() < 0.15) "d" else "c"
        val (x, y) = (q4(), q4())
        events :+= ((k, ts, op, x, y))
        val body = s"""{"vec_id":$k,"embedding":[$x,$y]}"""
        lines += env(if (op == "d") "null" else body,
          if (op == "d") body else "null", op, ts, off)
      }
      lines.grouped(10).zipWithIndex.foreach { case (g, i) =>
        import scala.jdk.CollectionConverters._
        Files.write(new java.io.File(feed, f"$i%03d.json").toPath,
          g.toSeq.asJava)
        ()
      }
      pipe(hi = 6.0).runOnce(spark, feed.toString, work) // 7..9 violate
      val fixed = pipe(hi = 1e18)
      fixed.replayExpectDeadLetters(spark, work, feed.toString, "d",
        tsMs = 1000000L)
      fixed.runOnce(spark, feed.toString, work)
      // plain-Scala never-dropped LWW model over the vector events
      val model = events.groupBy(_._1).flatMap { case (k, evs) =>
        val (_, _, op, x, y) = evs.maxBy(_._2)
        if (op == "d") None else Some(k -> ((x.toFloat, y.toFloat)))
      }
      val served = pipe(hi = 1e18).servedPostings(spark)
        .select(col("vec_id"), col("embedding"),
          (col("cell") === graft.ops.VectorSearch
            .nearestCell(col("embedding"), cents)).as("cell_ok"))
        .collect().map(r => (r.getLong(0),
          r.getSeq[Float](1).toList, r.getBoolean(2)))
      assert(served.map(_._1).toSet == model.keySet,
        s"trial $trial: served ids ${served.map(_._1).toSet} vs " +
          s"model ${model.keySet}")
      served.foreach { case (k, emb, cellOk) =>
        val (x, y) = model(k)
        assert(emb == List(x, y), s"trial $trial key $k: $emb vs ($x,$y)")
        assert(cellOk, s"trial $trial key $k: advisory cell mismatch")
      }
      assert(PipelineMetrics.expectDeadLetters(spark, dl).count() == 0L,
        "all dead letters consumed (live keys re-indexed, deleted retired)")
    }
  }

  test("search rebuild lifecycle converges to the never-dropped index model on randomized doc churn") {
    // The fifth kind's lifecycle property (q178's contract,
    // randomized): an additive store's drop verdicts are frozen, so
    // the conf fix REBUILDS — work dir + verdicts cleared, store
    // truncated, quarantine retired, the whole feed re-judged. Model:
    // plain-Scala whitespace-token tf counts over the LWW fold with NO
    // rule at all; the rebuilt postings and doc lengths must land
    // exactly there and the quarantine must be gone.
    import graft.ops.Profile
    import graft.streaming.{PipelineMetrics, SearchServingPipeline}
    import java.nio.file.Files
    val url = "jdbc:derby:memory:graftsrchprop;create=true"
    val target = PipelineMetrics.Target(url, "srchprop_metrics")
    PipelineMetrics.ensureTable(target)
    PipelineMetrics.ensureExpectTable(target)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon")
    val rnd = new scala.util.Random(161803)
    for (trial <- 0 until 2) {
      val (pt, lt) = (s"srchprop_p$trial", s"srchprop_l$trial")
      val c0 = java.sql.DriverManager.getConnection(url)
      c0.createStatement().execute(
        s"""CREATE TABLE $pt ("token" VARCHAR(256) NOT NULL,
           | "doc_id" BIGINT NOT NULL, "tf" BIGINT,
           | PRIMARY KEY ("token", "doc_id"))"""
          .stripMargin.replace("\n", ""))
      c0.createStatement().execute(
        s"""CREATE TABLE $lt ("doc_id" BIGINT NOT NULL PRIMARY KEY,
           | "len" BIGINT)""".stripMargin.replace("\n", ""))
      c0.close()
      val dl = Files.createTempDirectory(s"graft_srchprop_dl_$trial")
        .toString
      val feed = Files.createTempDirectory(s"graft_srchprop_feed_$trial")
        .toFile
      val work = Files.createTempDirectory(s"graft_srchprop_wk_$trial")
        .toString
      def pipe(hi: Double) = SearchServingPipeline(
        name = s"srchp$trial", databases = Set("d"), table = "documents",
        idField = "doc_id", textField = "text",
        jdbcUrl = url, postingsTable = pt, lensTable = lt,
        metrics = Some(target), deadLetterDir = Some(dl),
        expectations = Seq(Profile.InRange("id_band", "doc_id", 0.0, hi,
          action = Profile.Drop)))
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      def env(after: String, before: String, op: String,
          ts: Long, off: Long): String = {
        val ev = s"""{"payload":{"before":$before,"after":$after,""" +
          s""""source":{"db":"d","table":"documents","ts_ms":$ts},""" +
          s""""op":"$op","ts_ms":$ts}}"""
        s"""{"value":${m.writeValueAsString(ev)},"offset":$off}"""
      }
      var off = 0L
      var events = Vector.empty[(Long, Long, String, String)]
      val lines = scala.collection.mutable.ArrayBuffer[String]()
      val nEvents = 20 + rnd.nextInt(20)
      (0 until nEvents).foreach { _ =>
        off += 1
        val ts = 10L + off
        val k = rnd.nextInt(8).toLong
        val op = if (rnd.nextDouble() < 0.15) "d" else "c"
        val text = Seq.fill(2 + rnd.nextInt(4))(
          vocab(rnd.nextInt(vocab.size))).mkString(" ")
        events :+= ((k, ts, op, text))
        val body = s"""{"doc_id":$k,"text":"$text"}"""
        lines += env(if (op == "d") "null" else body,
          if (op == "d") body else "null", op, ts, off)
      }
      lines.grouped(8).zipWithIndex.foreach { case (g, i) =>
        import scala.jdk.CollectionConverters._
        Files.write(new java.io.File(feed, f"$i%03d.json").toPath,
          g.toSeq.asJava)
        ()
      }
      // strict cap: docs 5..7 quarantine their contributions
      pipe(hi = 4.0).runOnce(spark, feed.toString, work)
      // conf fix + REBUILD through the evolved conf — alternating the
      // offline and ONLINE (build-beside + pointer-flip) variants: the
      // model is variant-blind, so both must land on the identical
      // never-dropped index
      if (trial % 2 == 0)
        pipe(hi = 1e18).rebuildStore(spark, feed.toString, work)
      else {
        // a FAILED build first (a halt rule every posting trips): the
        // serving store AND its quarantine must survive untouched —
        // the build quarantines into the staged root, never the live
        // tree, and the pointer only flips on success
        val lettersBefore = PipelineMetrics.expectDeadLetters(spark, dl)
          .filter($"pipeline" === s"srchp$trial").count()
        val servedBefore = pipe(hi = 4.0).servedPostings(spark).count()
        intercept[Exception] {
          val good = pipe(hi = 1e18)
          good.copy(expectations = good.expectations :+ Profile.InRange(
            "halt_all", "tf", -2.0, -1.0, action = Profile.Halt))
            .rebuildStoreOnline(spark, feed.toString, work)
        }
        assert(pipe(hi = 1e18).currentVersion() == 0,
          "a failed build must never flip the pointer")
        assert(PipelineMetrics.expectDeadLetters(spark, dl)
            .filter($"pipeline" === s"srchp$trial").count() == lettersBefore,
          "a failed build must not retire the serving quarantine")
        assert(pipe(hi = 4.0).servedPostings(spark).count() == servedBefore,
          "the old store keeps serving through a failed build")
        pipe(hi = 1e18).rebuildStoreOnline(spark, feed.toString, work)
        assert(pipe(hi = 1e18).currentVersion() == 1)
      }
      // plain-Scala never-dropped index model over the LWW fold
      val live = events.groupBy(_._1).flatMap { case (k, evs) =>
        val (_, _, op, text) = evs.maxBy(_._2)
        if (op == "d") None else Some(k -> text)
      }
      val modelTf = live.toSeq.flatMap { case (k, text) =>
        text.split(" ").toSeq.groupBy(identity).map { case (t, g) =>
          (t, k, g.size.toLong) }
      }.toSet
      val modelLen = live.map { case (k, t) =>
        k -> t.split(" ").length.toLong }
      val servedTf = pipe(hi = 1e18).servedPostings(spark)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      val servedLen = pipe(hi = 1e18).servedLens(spark)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(servedTf == modelTf,
        s"trial $trial: postings $servedTf vs model $modelTf")
      assert(servedLen == modelLen,
        s"trial $trial: lens $servedLen vs model $modelLen")
      assert(PipelineMetrics.expectDeadLetters(spark, dl)
          .filter($"pipeline" === s"srchp$trial").count() == 0L,
        "the rebuild closes the quarantine")
    }
  }
}
