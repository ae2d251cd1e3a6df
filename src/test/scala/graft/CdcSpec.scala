package graft

import graft.cdc._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Envelope/filter/materialization semantics from FIXTURES.md §2 —
  * including the reference's containsKey nuance (explicit "after": null
  * passes R9) and arrival-order independence of LWW.
  */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def feed(rows: (String, Long)*): org.apache.spark.sql.DataFrame =
    rows.toSeq.toDF("value", "offset")

  private def surviving(rows: (String, Long)*): Long =
    EventFilters.all(Envelope.parse(feed(rows: _*))).count()

  val okEvent =
    """{"payload":{"before":null,"after":{"id":1,"v":"a"},
      |"source":{"db":"d","table":"t","ts_ms":1},"op":"c","ts_ms":1}}""".stripMargin.replace("\n", "")

  test("R5: tombstone (null value) dropped") {
    assert(surviving((null, 1L), (okEvent, 2L)) == 1)
  }

  test("R6: event without payload dropped") {
    assert(surviving(("""{"foo": 1}""", 1L), (okEvent, 2L)) == 1)
  }

  test("R7: ddl event dropped") {
    val ddl = okEvent.replace(""""op":"c"""", """"op":"c","ddl":"ALTER TABLE t"""")
    assert(surviving((ddl, 1L), (okEvent, 2L)) == 1)
  }

  test("R8: unknown op dropped") {
    assert(surviving((okEvent.replace(""""op":"c"""", """"op":"t""""), 1L),
      (okEvent, 2L)) == 1)
  }

  test("R9: missing after KEY dropped, explicit after:null kept") {
    val noAfterKey =
      """{"payload":{"before":{"id":1,"v":"a"},"source":{"db":"d","table":"t","ts_ms":1},"op":"u","ts_ms":1}}"""
    val nullAfter =
      """{"payload":{"before":{"id":1,"v":"a"},"after":null,"source":{"db":"d","table":"t","ts_ms":2},"op":"d","ts_ms":2}}"""
    assert(surviving((noAfterKey, 1L)) == 0)
    assert(surviving((nullAfter, 1L)) == 1)
  }

  test("R9 probe is JSON-aware: decoy \"after\": inside a string value") {
    // no after key, but a string VALUE contains the literal text
    // `"after":` — a text-level probe would false-positively keep it
    val decoy =
      """{"payload":{"before":{"id":1,"v":"say \"after\": noon"},"source":{"db":"d","table":"t","ts_ms":1},"op":"u","ts_ms":1}}"""
    assert(surviving((decoy, 1L)) == 0)
    // typed path agrees
    val typed = EventFilters.all(Envelope.parseTyped(feed((decoy, 1L)), rowSchema))
    assert(typed.count() == 0)
  }

  test("R9 typed path ignores an after key inside the schema wrapper block") {
    // wrapped form whose SCHEMA block contains an "after" field name;
    // the payload itself has no after key — must still drop
    val wrapperDecoy =
      """{"schema":{"fields":[{"field":"after"}]},"payload":{"before":{"id":1,"v":"a"},"source":{"db":"d","table":"t","ts_ms":1},"op":"u","ts_ms":1}}"""
    assert(surviving((wrapperDecoy, 1L)) == 0)
    val typed = EventFilters.all(Envelope.parseTyped(feed((wrapperDecoy, 1L)), rowSchema))
    assert(typed.count() == 0)
  }

  test("wrapped and bare envelope forms parse identically") {
    val bare = okEvent.stripPrefix("""{"payload":""").stripSuffix("}")
    val parsed = Envelope.parse(feed((okEvent, 1L), (bare, 2L)))
    assert(parsed.filter(col("op") === "c" && col("src_table") === "t").count() == 2)
  }

  test("routing separates tables from a shared feed") {
    val other = okEvent.replace(""""table":"t"""", """"table":"u"""")
    val parsed = Envelope.parse(feed((okEvent, 1L), (other, 2L)))
    assert(Subscription(Set("d"), Set("t")).route(parsed).count() == 1)
    assert(Subscription(Set("d"), Set("u")).route(parsed).count() == 1)
    assert(Subscription(Set("x"), Set("t")).route(parsed).count() == 0)
  }

  test("LWW is arrival-order independent and delete-aware") {
    def ev(op: String, id: Long, v: String, ts: Long, off: Long) = {
      val after = if (op == "d") "null" else s"""{"id":$id,"v":"$v"}"""
      (s"""{"payload":{"before":{"id":$id,"v":"x"},"after":$after,""" +
        s""""source":{"db":"d","table":"t","ts_ms":$ts},"op":"$op","ts_ms":$ts}}""", off)
    }
    val events = Seq(
      ev("r", 1, "a", 1, 1), ev("u", 1, "b", 2, 2), ev("u", 1, "c", 3, 3),
      ev("r", 2, "a", 1, 4), ev("d", 2, "-", 5, 5),
      ev("r", 3, "z", 1, 6), ev("u", 3, "z2", 2, 7), ev("u", 3, "z2", 2, 8)) // dup delivery
    def materialize(order: Seq[((String, Long))]) = {
      val parsed = EventFilters.all(Envelope.parse(feed(order: _*)))
      val key = coalesce(get_json_object(col("after"), "$.id"),
        get_json_object(col("before"), "$.id")).cast("long")
      Materialize.lww(parsed, key, rowSchema)
        .orderBy("id").as[(Long, String)].collect().toSeq
    }
    val expected = Seq((1L, "c"), (3L, "z2"))
    assert(materialize(events) == expected)
    assert(materialize(events.reverse) == expected)
    assert(materialize(scala.util.Random.shuffle(events)) == expected)
  }


  test("SCD2: versions, intervals, dup-delivery collapse, delete closes history") {
    def ev(op: String, id: Long, v: String, ts: Long, off: Long) = {
      val after = if (op == "d") "null" else s"""{"id":$id,"v":"$v"}"""
      (s"""{"payload":{"before":{"id":$id,"v":"x"},"after":$after,""" +
        s""""source":{"db":"d","table":"t","ts_ms":$ts},"op":"$op","ts_ms":$ts}}""", off)
    }
    val events = Seq(
      ev("r", 1, "a", 1, 1), ev("u", 1, "b", 5, 2), ev("u", 1, "b", 5, 3), // dup delivery
      ev("r", 2, "z", 1, 4), ev("d", 2, "-", 9, 5))
    def history(order: Seq[(String, Long)]) = {
      val parsed = EventFilters.all(
        Envelope.parseTyped(feed(order: _*), rowSchema))
      val key = coalesce(col("after.id"), col("before.id"))
      Materialize.scd2Typed(parsed, key)
        .select(col("_key"), col("version"), col("valid_from_ms"),
          col("valid_to_ms"), col("after.v"), col("is_current"))
        .as[(Long, Int, Long, Option[Long], String, Boolean)]
        .collect().toSeq.sortBy(r => (r._1, r._2))
    }
    val expected = Seq(
      (1L, 1, 1L, Some(5L), "a", false),  // closed by the update
      (1L, 2, 5L, None, "b", true),       // dup delivery: ONE v2, still open
      (2L, 1, 1L, Some(9L), "z", false))  // closed by the delete, no v2
    assert(history(events) == expected)
    assert(history(scala.util.Random.shuffle(events)) == expected)
  }


  test("SCD2: delete-then-reinsert reopens history as a later version") {
    def ev(op: String, id: Long, v: String, ts: Long, off: Long) = {
      val after = if (op == "d") "null" else s"""{"id":$id,"v":"$v"}"""
      (s"""{"payload":{"before":{"id":$id,"v":"x"},"after":$after,""" +
        s""""source":{"db":"d","table":"t","ts_ms":$ts},"op":"$op","ts_ms":$ts}}""", off)
    }
    val events = Seq(
      ev("c", 1, "a", 1, 1), ev("d", 1, "-", 5, 2), ev("c", 1, "b", 9, 3))
    val parsed = EventFilters.all(
      Envelope.parseTyped(feed(events: _*), rowSchema))
    val key = coalesce(col("after.id"), col("before.id"))
    val got = Materialize.scd2Typed(parsed, key)
      .select(col("version"), col("valid_from_ms"), col("valid_to_ms"),
        col("after.v"), col("is_current"))
      .as[(Int, Long, Option[Long], String, Boolean)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1, 1L, Some(5L), "a", false),   // closed by the delete
      (2, 9L, None, "b", true)))       // reinsert reopens as v2
  }

  test("schema drift: undeclared after-fields surface with counts, declared/null/junk don't") {
    val events = Seq(
      (okEvent, 1L),                                   // declared fields only
      // upstream added "surprise" (bare form) — twice, one wrapped
      ("""{"before":null,"after":{"id":2,"v":"b","surprise":9},""" +
        """"source":{"db":"d","table":"t","ts_ms":2},"op":"c","ts_ms":2}""", 2L),
      ("""{"payload":{"before":null,"after":{"id":3,"v":"c","surprise":8},""" +
        """"source":{"db":"d","table":"t","ts_ms":3},"op":"c","ts_ms":3}}""", 3L),
      // delete (after null), tombstone, junk: contribute nothing
      ("""{"payload":{"before":{"id":1,"v":"a"},"after":null,""" +
        """"source":{"db":"d","table":"t","ts_ms":4},"op":"d","ts_ms":4}}""", 4L),
      (null.asInstanceOf[String], 5L),
      ("""{"foo": 1}""", 6L))
    val out = SchemaDrift.report(spark, feed(events: _*), Map("t" -> Seq("id", "v")))
      .as[(String, String, Long)].collect()
    assert(out.toSeq == Seq(("t", "surprise", 2L)))
  }
}
