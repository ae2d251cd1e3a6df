package graft

import graft.cdc.IncrementalJoin
import graft.streaming.StatefulLww.Delta
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Multi-batch delta evolution of the incrementally-maintained join
  * view: late dim arrival, dim-update fan-out, fact key-moves, dim
  * deletes — each batch's emissions folded through
  * IncrementalJoin.applyBatch and checked against the expected view.
  */
class IncrementalJoinSpec extends SparkSpec {
  import spark.implicits._

  private def f(okey: Long, cust: Long, v: String) =
    s"""{"okey":$okey,"cust":$cust,"v":"$v"}"""
  private def d(cust: Long, name: String) =
    s"""{"cust":$cust,"name":"$name"}"""

  test("view deltas: late dim, dim-update fan-out, key-move, dim delete") {
    implicit val ctx = spark.sqlContext
    val facts = MemoryStream[Delta]
    val dims = MemoryStream[Delta]
    val name = "incr_join_out"
    val q = IncrementalJoin.viewDeltaStream(
        facts.toDF(), dims.toDF(), "cust", "cust").writeStream
      .format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()

    var view = Map.empty[Long, (String, String)]
    def step(fb: Seq[Delta], db: Seq[Delta]): Seq[IncrementalJoin.ViewDelta] = {
      val before = spark.table(name).count()
      if (fb.nonEmpty) facts.addData(fb: _*)
      if (db.nonEmpty) dims.addData(db: _*)
      q.processAllAvailable()
      val out = spark.table(name)
        .as[(Long, String, String, String, String, String)].collect()
        .drop(before.toInt).toSeq
        .map(t => IncrementalJoin.ViewDelta(t._1, t._2, t._3, t._4, t._5, t._6))
      view = IncrementalJoin.applyBatch(view, out)
      out
    }

    // batch 1: fact before its dim — inner join ⇒ nothing in the view yet
    val b1 = step(Seq(Delta(10, "upsert", f(10, 1, "x"), null)), Nil)
    assert(b1.isEmpty && view.isEmpty)

    // batch 2: dim arrives — the parked fact's enriched row emits
    val b2 = step(Nil, Seq(Delta(1, "upsert", d(1, "A"), null)))
    assert(b2 == Seq(IncrementalJoin.ViewDelta(10, "upsert",
      f(10, 1, "x"), d(1, "A"), null, null)))
    assert(view == Map(10L -> (f(10, 1, "x"), d(1, "A"))))

    // batch 3: dim 1 renamed + fact 11 joins key 1 + dim 2 appears —
    // the dim update must re-emit EVERY live fact of the key
    val b3 = step(
      Seq(Delta(11, "upsert", f(11, 1, "y"), null)),
      Seq(Delta(1, "upsert", d(1, "A2"), d(1, "A")),
        Delta(2, "upsert", d(2, "B"), null)))
    assert(b3.toSet == Set(
      // the dim-update upsert CARRIES the retired enriched row — what a
      // downstream incremental aggregate retracts
      IncrementalJoin.ViewDelta(10, "upsert", f(10, 1, "x"), d(1, "A2"),
        f(10, 1, "x"), d(1, "A")),
      IncrementalJoin.ViewDelta(11, "upsert", f(11, 1, "y"), d(1, "A2"),
        null, null)))
    assert(view == Map(
      10L -> (f(10, 1, "x"), d(1, "A2")),
      11L -> (f(11, 1, "y"), d(1, "A2"))))

    // batch 4: fact 10 MOVES cust 1 → 2: the old key's group retracts,
    // the new key's group inserts, and applyBatch's deletes-first order
    // lands the same fact id on the upsert
    val b4 = step(Seq(Delta(10, "upsert", f(10, 2, "x2"), f(10, 1, "x"))), Nil)
    assert(b4.toSet == Set(
      IncrementalJoin.ViewDelta(10, "delete", null, null,
        f(10, 1, "x"), d(1, "A2")),
      IncrementalJoin.ViewDelta(10, "upsert", f(10, 2, "x2"), d(2, "B"),
        null, null)))
    assert(view == Map(
      10L -> (f(10, 2, "x2"), d(2, "B")),
      11L -> (f(11, 1, "y"), d(1, "A2"))))

    // batch 5: dim 1 deleted — its remaining fact leaves the view
    val b5 = step(Nil, Seq(Delta(1, "delete", null, d(1, "A2"))))
    assert(b5 == Seq(IncrementalJoin.ViewDelta(11, "delete", null, null,
      f(11, 1, "y"), d(1, "A2"))))
    assert(view == Map(10L -> (f(10, 2, "x2"), d(2, "B"))))

    // batch 6: deleting a fact whose dim is gone emits nothing (it was
    // never in the view); deleting fact 10 emits its delete
    val b6 = step(Seq(
      Delta(11, "delete", null, f(11, 1, "y")),
      Delta(10, "delete", null, f(10, 2, "x2"))), Nil)
    assert(b6 == Seq(IncrementalJoin.ViewDelta(10, "delete", null, null,
      f(10, 2, "x2"), d(2, "B"))))
    assert(view.isEmpty)

    q.stop()
  }

  test("LEFT-OUTER view deltas: null-enriched serve, dim upgrade, dim-delete downgrade") {
    implicit val ctx = spark.sqlContext
    val facts = MemoryStream[Delta]
    val dims = MemoryStream[Delta]
    val name = "incr_left_join_out"
    val q = IncrementalJoin.viewDeltaStream(
        facts.toDF(), dims.toDF(), "cust", "cust", leftOuter = true).writeStream
      .format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()

    var view = Map.empty[Long, (String, String)]
    def step(fb: Seq[Delta], db: Seq[Delta]): Seq[IncrementalJoin.ViewDelta] = {
      val before = spark.table(name).count()
      if (fb.nonEmpty) facts.addData(fb: _*)
      if (db.nonEmpty) dims.addData(db: _*)
      q.processAllAvailable()
      val out = spark.table(name)
        .as[(Long, String, String, String, String, String)].collect()
        .drop(before.toInt).toSeq
        .map(t => IncrementalJoin.ViewDelta(t._1, t._2, t._3, t._4, t._5, t._6))
      view = IncrementalJoin.applyBatch(view, out)
      out
    }

    // batch 1: fact BEFORE its dim — left-outer serves it null-enriched
    val b1 = step(Seq(Delta(10, "upsert", f(10, 1, "x"), null)), Nil)
    assert(b1 == Seq(IncrementalJoin.ViewDelta(10, "upsert",
      f(10, 1, "x"), null, null, null)))
    assert(view == Map(10L -> (f(10, 1, "x"), null: String)))

    // batch 2: dim arrives — the null-enriched row UPGRADES in place,
    // the upsert carrying the retired null-enriched prev
    val b2 = step(Nil, Seq(Delta(1, "upsert", d(1, "A"), null)))
    assert(b2 == Seq(IncrementalJoin.ViewDelta(10, "upsert",
      f(10, 1, "x"), d(1, "A"), f(10, 1, "x"), null)))
    assert(view == Map(10L -> (f(10, 1, "x"), d(1, "A"))))

    // batch 3: dim deleted — the fact DOWNGRADES to null-enriched, it
    // does not leave the view (the inner-join delete becomes an upsert)
    val b3 = step(Nil, Seq(Delta(1, "delete", null, d(1, "A"))))
    assert(b3 == Seq(IncrementalJoin.ViewDelta(10, "upsert",
      f(10, 1, "x"), null, f(10, 1, "x"), d(1, "A"))))
    assert(view == Map(10L -> (f(10, 1, "x"), null: String)))

    // batch 4: fact delete removes the null-enriched row
    val b4 = step(Seq(Delta(10, "delete", null, f(10, 1, "x"))), Nil)
    assert(b4 == Seq(IncrementalJoin.ViewDelta(10, "delete", null, null,
      f(10, 1, "x"), null)))
    assert(view.isEmpty)

    q.stop()
  }

  test("3-way composition: a nation rename fans out through two join levels") {
    import org.apache.spark.sql.types._
    // stage-1 payloads carry the dim-of-dim key (nat) inside the dim
    // row; dim field names are DISTINCT from fact field names because
    // asDeltaRelation merges both into one flat payload
    def dn(cust: Long, nat: Long, name: String) =
      s"""{"dcust":$cust,"nat":$nat,"name":"$name"}"""
    def nj(nat: Long, nname: String) = s"""{"nat":$nat,"nname":"$nname"}"""
    val factSchema = StructType(Seq(StructField("okey", LongType),
      StructField("cust", LongType), StructField("v", StringType)))
    val dimSchema = StructType(Seq(StructField("dcust", LongType),
      StructField("nat", LongType), StructField("name", StringType)))

    implicit val ctx = spark.sqlContext
    val facts = MemoryStream[Delta]
    val custs = MemoryStream[Delta]
    val nations = MemoryStream[Delta]
    val s1Name = "threeway_s1"
    val s2Name = "threeway_s2"
    val stage2In = MemoryStream[Delta]
    val q1 = IncrementalJoin.viewDeltaStream(
        facts.toDF(), custs.toDF(), "cust", "dcust").writeStream
      .format("memory").queryName(s1Name).outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    val q2 = IncrementalJoin.viewDeltaStream(
        stage2In.toDF(), nations.toDF(), "nat", "nat").writeStream
      .format("memory").queryName(s2Name).outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()

    var s1Seen = 0L
    var s2Seen = 0L
    var view = Map.empty[Long, (String, String)] // factId -> (merged oc, nation)
    // one composed step: drive stage 1, collapse its batch output to the
    // next stage's one-delta-per-key contract, re-express it as a delta
    // relation (merged payloads), feed stage 2, fold stage 2's emissions
    def step(fb: Seq[Delta], cb: Seq[Delta], nb: Seq[Delta]): Seq[IncrementalJoin.ViewDelta] = {
      if (fb.nonEmpty) facts.addData(fb: _*)
      if (cb.nonEmpty) custs.addData(cb: _*)
      q1.processAllAvailable()
      val s1Out = spark.table(s1Name)
        .as[(Long, String, String, String, String, String)].collect()
        .drop(s1Seen.toInt).toSeq
      s1Seen += s1Out.size
      val s1Batch = s1Out
        .toDF("factId", "action", "factJson", "dimJson",
          "prevFactJson", "prevDimJson")
      val converted = IncrementalJoin.asDeltaRelation(
        IncrementalJoin.collapseBatch(s1Batch), factSchema, dimSchema)
        .as[Delta].collect().toSeq
      if (converted.nonEmpty) stage2In.addData(converted: _*)
      if (nb.nonEmpty) nations.addData(nb: _*)
      q2.processAllAvailable()
      val s2Out = spark.table(s2Name)
        .as[(Long, String, String, String, String, String)].collect()
        .drop(s2Seen.toInt).toSeq
        .map(t => IncrementalJoin.ViewDelta(t._1, t._2, t._3, t._4, t._5, t._6))
      s2Seen += s2Out.size
      view = IncrementalJoin.applyBatch(view, s2Out)
      s2Out
    }

    // batch 1: two facts on cust 1 (nation 7), one on cust 2 (nation 8)
    step(
      Seq(Delta(10, "upsert", f(10, 1, "x"), null),
        Delta(11, "upsert", f(11, 1, "y"), null),
        Delta(20, "upsert", f(20, 2, "z"), null)),
      Seq(Delta(1, "upsert", dn(1, 7, "A"), null),
        Delta(2, "upsert", dn(2, 8, "B"), null)),
      Seq(Delta(7, "upsert", nj(7, "FR"), null),
        Delta(8, "upsert", nj(8, "DE"), null)))
    assert(view.keySet == Set(10L, 11L, 20L))
    assert(view(10L)._2 == nj(7, "FR") && view(20L)._2 == nj(8, "DE"))

    // batch 2: nation 7 RENAMED — no base-table or customer change, yet
    // both enriched orders of nation-7 customers must re-emit (level-2
    // fan-out), and nation-8's order must NOT
    val b2 = step(Nil, Nil, Seq(Delta(7, "upsert", nj(7, "FRA"), nj(7, "FR"))))
    assert(b2.map(_.factId).toSet == Set(10L, 11L))
    assert(b2.forall(v => v.action == "upsert" && v.dimJson == nj(7, "FRA")
      && v.prevDimJson == nj(7, "FR")))
    assert(view(20L)._2 == nj(8, "DE"))

    // batch 3: customer 1 MOVES nation 7→8 — a stage-1 dim update whose
    // fan-out (two upserts with changed dim payloads) converts to two
    // stage-2 fact deltas that ROUTE to a new nation group. Stage 2
    // emits each as a join-key move: a delete whose −prev retracts the
    // row under nation 7, and an upsert whose +new inserts under nation 8
    val b3 = step(Nil, Seq(Delta(1, "upsert", dn(1, 8, "A"), dn(1, 7, "A"))), Nil)
    assert(b3.map(v => (v.factId, v.action)).sorted == Seq(
      (10L, "delete"), (10L, "upsert"), (11L, "delete"), (11L, "upsert")))
    assert(b3.filter(_.action == "delete").forall(v =>
      v.dimJson == null && v.prevDimJson == nj(7, "FRA")))
    assert(b3.filter(_.action == "upsert").forall(v =>
      v.dimJson == nj(8, "DE") && v.prevDimJson == null))
    assert(view(10L)._2 == nj(8, "DE") && view(11L)._2 == nj(8, "DE"))

    // batch 4: fact key-move cust 2→1 — stage 1 emits (delete, upsert)
    // for factId 20; collapseBatch folds the pair so stage 2 sees ONE
    // delta and the enriched row lands under cust 1's nation (8)
    step(Seq(Delta(20, "upsert", f(20, 1, "z2"), f(20, 2, "z"))), Nil, Nil)
    assert(view(20L)._1.contains("\"z2\"") && view(20L)._2 == nj(8, "DE"))

    q1.stop(); q2.stop()
  }

  test("aligned view deltas: a fact+dim source transaction never exposes a half-applied row") {
    import IncrementalJoin.TsDelta
    implicit val ctx = spark.sqlContext

    // the scenario: consistent state at ts 100 (order 10 + cust 1 "A"),
    // then ONE source transaction at ts 200 touching BOTH tables
    // (insert order 11 AND rename cust 1 to "A2") whose two deltas
    // arrive in DIFFERENT micro-batches — fact half first
    def run(aligned: Boolean): Seq[Map[Long, (String, String)]] = {
      val facts = MemoryStream[TsDelta]
      val dims = MemoryStream[TsDelta]
      val name = s"tx_align_${aligned}_out"
      val stream =
        if (aligned) IncrementalJoin.alignedViewDeltaStream(
          facts.toDS(), dims.toDS(), "cust", "cust")
        else IncrementalJoin.viewDeltaStream(
          facts.toDF().drop("tsMs"), dims.toDF().drop("tsMs"), "cust", "cust")
      val q = stream.writeStream
        .format("memory").queryName(name).outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      var view = Map.empty[Long, (String, String)]
      var seen = 0L
      val history = Seq.newBuilder[Map[Long, (String, String)]]
      def step(fb: Seq[TsDelta], db: Seq[TsDelta]): Unit = {
        if (fb.nonEmpty) facts.addData(fb: _*)
        if (db.nonEmpty) dims.addData(db: _*)
        q.processAllAvailable()
        val out = spark.table(name)
          .as[(Long, String, String, String, String, String)].collect()
          .drop(seen.toInt).toSeq
          .map(t => IncrementalJoin.ViewDelta(t._1, t._2, t._3, t._4, t._5, t._6))
        seen += out.size
        view = IncrementalJoin.applyBatch(view, out)
        history += view
      }
      // batch 1: ts-100 state on both feeds, PLUS the transaction's
      // FACT half (ts 200) — its dim half has not arrived yet
      step(
        Seq(TsDelta(10, "upsert", f(10, 1, "x"), null, 100),
          TsDelta(11, "upsert", f(11, 1, "y"), null, 200)),
        Seq(TsDelta(1, "upsert", d(1, "A"), null, 100)))
      // batch 2: the transaction's DIM half lands
      step(Nil, Seq(TsDelta(1, "upsert", d(1, "A2"), d(1, "A"), 200)))
      // batches 3-4: heartbeats on BOTH feeds drag the min watermark
      // past ts 200 (unrelated join keys; filtered out of assertions)
      step(Seq(TsDelta(90, "upsert", f(90, 9, "hb"), null, 300)),
        Seq(TsDelta(9, "upsert", d(9, "HB"), null, 300)))
      step(Seq(TsDelta(91, "upsert", f(91, 9, "hb"), null, 400)),
        Seq(TsDelta(9, "upsert", d(9, "HB2"), d(9, "HB"), 400)))
      q.stop()
      history.result().map(_.filter { case (id, _) => id <= 50 })
    }

    val alignedHist = run(aligned = true)
    // the INVARIANT: no intermediate view state may pair the
    // transaction's order 11 with the PRE-transaction customer row —
    // that is the half-applied state a serving sink must never see
    assert(alignedHist.forall(v => !v.get(11L).exists(_._2 == d(1, "A"))),
      s"half-applied transaction exposed: $alignedHist")
    // and the transaction DID fully apply once the watermark passed it
    assert(alignedHist.last == Map(
      10L -> ((f(10, 1, "x"), d(1, "A2"))),
      11L -> ((f(11, 1, "y"), d(1, "A2")))))
    // control: the UNALIGNED stream applies each half as it arrives and
    // DOES expose order 11 enriched with the stale customer row — the
    // anomaly alignment exists to prevent (proves the spec has teeth)
    val plainHist = run(aligned = false)
    assert(plainHist.exists(v => v.get(11L).exists(_._2 == d(1, "A"))))
  }

  test("E2E: join-view deltas land in a JDBC serving table transactionally (RocksDB state)") {
    import graft.sinks.JdbcSink
    val pk = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(pk)
    spark.conf.set(pk,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val url = "jdbc:derby:memory:graftjoinview;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE enriched ("id" BIGINT NOT NULL PRIMARY KEY,
        | "fact" VARCHAR(200), "dim" VARCHAR(200))""".stripMargin.replace("\n", ""))
    c0.close()
    try {
      implicit val ctx = spark.sqlContext
      val facts = MemoryStream[Delta]
      val dims = MemoryStream[Delta]
      val types = "fact VARCHAR(200), dim VARCHAR(200)"
      val q = IncrementalJoin.viewDeltaStream(
          facts.toDF(), dims.toDF(), "cust", "cust").writeStream
        .outputMode("append")
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[IncrementalJoin.ViewDelta], _: Long) =>
            JdbcSink.applyViewDeltas(
              batch.toDF().select($"factId".as("id"), $"action",
                $"factJson".as("fact"), $"dimJson".as("dim")),
              url, "enriched", Seq("id"), stagingColumnTypes = types)
            ()
        }.start()
      def view(): Map[Long, (String, String)] =
        spark.read.jdbc(url, "enriched", new java.util.Properties())
          .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap

      facts.addData(Delta(10, "upsert", f(10, 1, "x"), null),
        Delta(11, "upsert", f(11, 1, "y"), null))
      dims.addData(Delta(1, "upsert", d(1, "A"), null),
        Delta(2, "upsert", d(2, "B"), null))
      q.processAllAvailable()
      assert(view() == Map(
        10L -> ((f(10, 1, "x"), d(1, "A"))),
        11L -> ((f(11, 1, "y"), d(1, "A")))))

      // key-move: the (delete, upsert) pair for id 10 lands on the upsert
      facts.addData(Delta(10, "upsert", f(10, 2, "x2"), f(10, 1, "x")))
      q.processAllAvailable()
      assert(view() == Map(
        10L -> ((f(10, 2, "x2"), d(2, "B"))),
        11L -> ((f(11, 1, "y"), d(1, "A")))))

      // dim delete cascades; fact delete removes its row
      dims.addData(Delta(1, "delete", null, d(1, "A")))
      facts.addData(Delta(10, "delete", null, f(10, 2, "x2")))
      q.processAllAvailable()
      q.stop()
      assert(view().isEmpty)

      // at-least-once replay: re-applying a batch's deltas is idempotent
      val replay = Seq(
        (11L, "delete", null: String, null: String),
        (10L, "delete", null: String, null: String))
        .toDF("id", "action", "fact", "dim")
      JdbcSink.applyViewDeltas(replay, url, "enriched", Seq("id"),
        stagingColumnTypes = types)
      assert(view().isEmpty, "replayed key-addressed effects must be no-ops")
    } finally {
      prevProv match {
        case Some(v) => spark.conf.set(pk, v)
        case None => spark.conf.unset(pk)
      }
    }
  }

  test("sumCountByGroup over view deltas: dim renames move whole fact sets between groups") {
    import org.apache.spark.sql.types._
    def fv(okey: Long, cust: Long, v: Double) =
      s"""{"okey":$okey,"cust":$cust,"v":$v}"""
    def dg(cust: Long, g: String) = s"""{"cust":$cust,"g":"$g"}"""
    val factSchema = StructType(Seq(StructField("okey", LongType),
      StructField("cust", LongType), StructField("v", DoubleType)))
    val dimSchema = StructType(Seq(StructField("cust", LongType),
      StructField("g", StringType)))
    def agg(rows: (Long, String, String, String, String, String)*) =
      IncrementalJoin.sumCountByGroup(
        rows.toDF("factId", "action", "factJson", "dimJson",
          "prevFactJson", "prevDimJson"),
        factSchema, dimSchema, "g", "v")
        .as[(String, Long, Double)].collect().sortBy(_._1).toSeq

    val inserts = Seq(
      (1L, "upsert", fv(1, 1, 1.50), dg(1, "a"), null, null),
      (2L, "upsert", fv(2, 1, 2.25), dg(1, "a"), null, null),
      (3L, "upsert", fv(3, 2, 4.00), dg(2, "b"), null, null))
    assert(agg(inserts: _*) == Seq(("a", 2L, 3.75), ("b", 1L, 4.00)))

    // dim 1 renamed a→b: fan-out upserts CARRY the retired enriched
    // rows, so group a nets to zero and leaves the view
    val rename = inserts ++ Seq(
      (1L, "upsert", fv(1, 1, 1.50), dg(1, "b"), fv(1, 1, 1.50), dg(1, "a")),
      (2L, "upsert", fv(2, 1, 2.25), dg(1, "b"), fv(2, 1, 2.25), dg(1, "a")))
    assert(agg(rename: _*) == Seq(("b", 3L, 7.75)))

    // deleting a fact retracts its enriched contribution
    val del = rename :+
      ((3L, "delete", null: String, null: String, fv(3, 2, 4.00), dg(2, "b")))
    assert(agg(del: _*) == Seq(("b", 2L, 3.75)))
  }

  test("E2E: Δ(A⋈B)→γ lands in a JDBC additive view exactly-once (foreachBatch + MERGE)") {
    import graft.sinks.JdbcSink
    import org.apache.spark.sql.types._
    def fv(okey: Long, cust: Long, v: Double) =
      s"""{"okey":$okey,"cust":$cust,"v":$v}"""
    def dg(cust: Long, g: String) = s"""{"cust":$cust,"g":"$g"}"""
    val factSchema = StructType(Seq(StructField("okey", LongType),
      StructField("cust", LongType), StructField("v", DoubleType)))
    val dimSchema = StructType(Seq(StructField("cust", LongType),
      StructField("g", StringType)))
    val url = "jdbc:derby:memory:graftjoinagg;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE seg_view ("g" VARCHAR(10) NOT NULL PRIMARY KEY,
        | "n_rows" BIGINT, "total_dec" DECIMAL(18,2))""".stripMargin.replace("\n", ""))
    c0.close()
    implicit val ctx = spark.sqlContext
    val facts = MemoryStream[Delta]
    val dims = MemoryStream[Delta]
    val q = IncrementalJoin.viewDeltaStream(
        facts.toDF(), dims.toDF(), "cust", "cust").writeStream
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[IncrementalJoin.ViewDelta], batchId: Long) =>
          JdbcSink.mergeAdditive(
            IncrementalJoin.contributions(batch.toDF(), factSchema, dimSchema, "g", "v"),
            url, "seg_view", Seq("g"), Seq("n_rows", "total_dec"), "n_rows",
            stagingColumnTypes = "g VARCHAR(10)", batchId = batchId)
          ()
      }.start()
    def view(): Map[String, (Long, BigDecimal)] =
      spark.read.jdbc(url, "seg_view", new java.util.Properties())
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap

    // batch 1: enriched inserts across two segments
    facts.addData(Delta(1, "upsert", fv(1, 1, 1.50), null),
      Delta(2, "upsert", fv(2, 1, 2.25), null),
      Delta(3, "upsert", fv(3, 2, 4.00), null))
    dims.addData(Delta(1, "upsert", dg(1, "a"), null),
      Delta(2, "upsert", dg(2, "b"), null))
    q.processAllAvailable()
    assert(view() == Map("a" -> ((2L, BigDecimal("3.75"))),
      "b" -> ((1L, BigDecimal("4.00")))))

    // batch 2: dim 1 renamed a→b — the fan-out's +new/−prev moves both
    // facts' money between groups; group a zero-guards out of the view
    dims.addData(Delta(1, "upsert", dg(1, "b"), dg(1, "a")))
    q.processAllAvailable()
    assert(view() == Map("b" -> ((3L, BigDecimal("7.75")))))

    // batch 3: fact re-price — n_rows nets 0, money still moves
    facts.addData(Delta(3, "upsert", fv(3, 2, 4.50), fv(3, 2, 4.00)))
    q.processAllAvailable()
    q.stop()
    assert(view() == Map("b" -> ((3L, BigDecimal("8.25")))))
  }

  test("model-based: random delta traffic converges to the batch join after every batch") {
    // random ops on both sides — fact inserts/updates (join-key moves
    // included)/deletes, dim upserts/deletes/re-adds — applied to an
    // in-memory model of the two tables; after EVERY batch the folded
    // view must equal the model's inner join
    for (seed <- Seq(7L, 42L)) {
      val rnd = new scala.util.Random(seed)
      implicit val ctx = spark.sqlContext
      val facts = MemoryStream[Delta]
      val dims = MemoryStream[Delta]
      val name = s"incr_join_model_$seed"
      val q = IncrementalJoin.viewDeltaStream(
          facts.toDF(), dims.toDF(), "cust", "cust").writeStream
        .format("memory").queryName(name).outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()

      val factState = scala.collection.mutable.Map[Long, String]() // id -> json
      val dimState = scala.collection.mutable.Map[Long, String]()  // cust -> json
      var view = Map.empty[Long, (String, String)]
      var seen = 0L

      def factJsonOf(id: Long, cust: Long, v: Int) = f(id, cust, s"v$v")
      def dimJsonOf(cust: Long, n: Int) = d(cust, s"n$n")

      try for (batch <- 1 to 6) {
        // input contract: ONE collapsed delta per key per batch (what
        // StatefulLww emits) — so sample DISTINCT keys per batch
        val fIds = rnd.shuffle((1L to 15L).toList).take(6)
        val fDeltas = fIds.flatMap { id =>
          rnd.nextInt(3) match {
            case 2 if factState.contains(id) =>
              Some(Delta(id, "delete", null, factState.remove(id).orNull))
            case _ =>
              val js = factJsonOf(id, 1L + rnd.nextInt(4), rnd.nextInt(50))
              val prev = factState.put(id, js)
              if (prev.contains(js)) None
              else Some(Delta(id, "upsert", js, prev.orNull))
          }
        }
        val dCusts = rnd.shuffle((1L to 4L).toList).take(2)
        val dDeltas = dCusts.flatMap { cust =>
          rnd.nextInt(4) match {
            case 3 if dimState.contains(cust) =>
              Some(Delta(cust, "delete", null, dimState.remove(cust).orNull))
            case _ =>
              val js = dimJsonOf(cust, rnd.nextInt(20))
              val prev = dimState.put(cust, js)
              if (prev.contains(js)) None
              else Some(Delta(cust, "upsert", js, prev.orNull))
          }
        }
        if (fDeltas.nonEmpty) facts.addData(fDeltas: _*)
        if (dDeltas.nonEmpty) dims.addData(dDeltas: _*)
        q.processAllAvailable()
        val out = spark.table(name)
          .as[(Long, String, String, String, String, String)].collect()
          .drop(seen.toInt).toSeq
          .map(t => IncrementalJoin.ViewDelta(t._1, t._2, t._3, t._4, t._5, t._6))
        seen += out.size
        view = IncrementalJoin.applyBatch(view, out)
        val expected = factState.toMap.flatMap { case (id, fj) =>
          val cust = fj.split("\"cust\":")(1).split(",")(0).toLong
          dimState.get(cust).map(dj => id -> ((fj, dj)))
        }
        assert(view == expected, s"seed $seed batch $batch")
      } finally q.stop() // a failed assert must not leak the running query
    }
  }

  test("materializeLatest folds a MULTI-batch view-delta log correctly (last batch wins)") {
    val log = Seq(
      // batch 0: facts 1 and 2 enter the view
      (1L, "upsert", f(1, 1, "a"), d(1, "A"), null, null, 0L),
      (2L, "upsert", f(2, 1, "b"), d(1, "A"), null, null, 0L),
      // batch 1: fact 1 re-enriched (stale row must lose); fact 2 key-moves
      // (delete + upsert in ONE batch — the upsert must win); fact 3 enters
      // then is deleted in batch 2 (the delete must erase it)
      (1L, "upsert", f(1, 1, "a2"), d(1, "A2"), f(1, 1, "a"), d(1, "A"), 1L),
      (2L, "delete", null, null, f(2, 1, "b"), d(1, "A"), 1L),
      (2L, "upsert", f(2, 2, "b2"), d(2, "B"), null, null, 1L),
      (3L, "upsert", f(3, 2, "c"), d(2, "B"), null, null, 1L),
      (3L, "delete", null, null, f(3, 2, "c"), d(2, "B"), 2L))
      .toDF("factId", "action", "factJson", "dimJson",
        "prevFactJson", "prevDimJson", "batch_id")
    val got = IncrementalJoin.materializeLatest(log)
      .select($"factId", $"factJson", $"dimJson")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, f(1, 1, "a2"), d(1, "A2")),
      (2L, f(2, 2, "b2"), d(2, "B"))))
  }

  test("the view-delta aggregate fold is ONE shuffle (map-side explode+parse, keyed agg)") {
    import org.apache.spark.sql.types._
    val factSchema = StructType(Seq(StructField("cust", LongType),
      StructField("v", DoubleType)))
    val dimSchema = StructType(Seq(StructField("cust", LongType),
      StructField("g", StringType)))
    // parquet-backed input: a LocalRelation folds away at optimization
    // time and hides the plan shape a real log read produces
    val tmp = java.nio.file.Files.createTempDirectory("graft_plan_vd_").toString
    Seq((1L, "upsert", """{"cust":1,"v":1.0}""",
      """{"cust":1,"g":"a"}""", null: String, null: String))
      .toDF("factId", "action", "factJson", "dimJson",
        "prevFactJson", "prevDimJson")
      .write.mode("overwrite").parquet(tmp)
    val deltas = spark.read.parquet(tmp)
    val n = shufflesOf(
      IncrementalJoin.sumCountByGroup(deltas, factSchema, dimSchema, "g", "v"))
    assert(n == 1, "explode/parse must stay map-side; only the group agg shuffles")
  }

  test("duplicate dim re-upsert with identical payload emits nothing (delta suppression)") {
    implicit val ctx = spark.sqlContext
    val facts = MemoryStream[Delta]
    val dims = MemoryStream[Delta]
    val name = "incr_join_dedup_out"
    val q = IncrementalJoin.viewDeltaStream(
        facts.toDF(), dims.toDF(), "cust", "cust").writeStream
      .format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    facts.addData(Delta(10, "upsert", f(10, 1, "x"), null))
    dims.addData(Delta(1, "upsert", d(1, "A"), null))
    q.processAllAvailable()
    val n1 = spark.table(name).count()
    dims.addData(Delta(1, "upsert", d(1, "A"), d(1, "A")))
    q.processAllAvailable()
    val n2 = spark.table(name).count()
    q.stop()
    assert(n1 == 1 && n2 == n1,
      "an unchanged enriched row must not re-emit")
  }
}
