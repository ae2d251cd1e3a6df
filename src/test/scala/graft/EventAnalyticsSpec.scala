package graft

import java.sql.Timestamp

import graft.ops.EventAnalytics
import org.apache.spark.sql.DataFrame

/** Funnel / cohort retention / transition matrix semantics on crafted
  * event logs, plus the shuffle-count scale contracts.
  */
class EventAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(rows: (Long, String, String, Long)*): DataFrame =
    rows.map { case (u, t, e, id) => (u, ts(t), e, id) }
      .toDF("user_id", "ts", "event_type", "event_id")


  test("funnel: chained-min semantics — steps count only strictly after the previous step") {
    val events = ev(
      // u1 completes all three steps in order
      (1L, "2024-01-01 10:00:00", "a", 1L),
      (1L, "2024-01-01 11:00:00", "b", 2L),
      (1L, "2024-01-01 12:00:00", "c", 3L),
      // u2: b BEFORE a, then no later b — stalls at step 1
      (2L, "2024-01-01 09:00:00", "b", 4L),
      (2L, "2024-01-01 10:00:00", "a", 5L),
      // u3: b at the SAME instant as a — strictness stalls it at step 1
      (3L, "2024-01-01 10:00:00", "a", 6L),
      (3L, "2024-01-01 10:00:00", "b", 7L),
      // u4: never does a
      (4L, "2024-01-01 10:00:00", "c", 8L))
    val got = EventAnalytics.funnel(events, "user_id", "ts", "event_type",
        Seq("a", "b", "c"))
      .as[(Long, String, Long, Double)].collect().sortBy(_._1)
    assert(got === Seq(
      (1L, "a", 3L, 1.0), (2L, "b", 1L, 1.0 / 3), (3L, "c", 1L, 1.0 / 3)))
  }

  test("funnel: a repeated earlier step never resets progress; later steps reuse the earliest valid time") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", "a", 1L),
      (1L, "2024-01-01 10:30:00", "a", 2L), // repeat of step 1 — ignored
      (1L, "2024-01-01 11:00:00", "b", 3L),
      (1L, "2024-01-01 10:45:00", "c", 4L), // before b's time — must NOT count
      (1L, "2024-01-01 12:00:00", "c", 5L))
    val got = EventAnalytics.funnel(events, "user_id", "ts", "event_type",
        Seq("a", "b", "c"))
      .as[(Long, String, Long, Double)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._3)) === Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("funnel on EMPTY input emits k rows of zeros (matching count(*)-style oracles), not NULLs") {
    val got = EventAnalytics.funnel(ev(), "user_id", "ts", "event_type",
        Seq("a", "b"))
      .select($"step_no", $"step", $"users").as[(Long, String, Long)]
      .collect().sortBy(_._1)
    assert(got === Seq((1L, "a", 0L), (2L, "b", 0L)))
  }

  test("funnel treats step names as data — quotes and SQL metacharacters are fine") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", "it's a('); drop", 1L),
      (1L, "2024-01-01 11:00:00", "b", 2L))
    val got = EventAnalytics.funnel(events, "user_id", "ts", "event_type",
        Seq("it's a('); drop", "b"))
      .select($"step_no", $"users").as[(Long, Long)].collect().sortBy(_._1)
    assert(got === Seq((1L, 1L), (2L, 1L)))
  }

  test("funnel is one shuffle of the log (the walk is per-user, sequential, single-pass)") {
    // user-keyed exchange + the single-row global aggregate's exchange;
    // nothing else may shuffle the log (shufflesOf is AQE-safe — a
    // naive count under AQE returns 0 and passes vacuously)
    val n = shufflesOf(EventAnalytics.funnel(Tables.events(spark, sf001),
      "user_id", "ts", "event_type", Seq("signup", "view", "click", "purchase")))
    assert(n >= 1 && n <= 2, s"got $n shuffles")
  }

  test("cohortRetention: hand-computed matrix, offset 0 is always the full cohort") {
    // epoch week boundary: 2024-01-04 00:00 UTC starts week 2818
    val events = ev(
      (1L, "2024-01-01 00:00:00", "x", 1L), // week 2817
      (1L, "2024-01-05 00:00:00", "x", 2L), // week 2818 → offset 1
      (2L, "2024-01-02 00:00:00", "x", 3L), // week 2817 only
      (3L, "2024-01-05 00:00:00", "x", 4L)) // cohort 2818
    val got = EventAnalytics.cohortRetention(events, "user_id", "ts")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === Set(
      (2817L, 0L, 2L, 1.0), (2817L, 1L, 1L, 0.5), (2818L, 0L, 1L, 1.0)))
  }

  test("cohortRetention: retained users counted once per week regardless of activity volume") {
    val events = ev(
      (1L, "2024-01-01 00:00:00", "x", 1L),
      (1L, "2024-01-01 05:00:00", "x", 2L),
      (1L, "2024-01-01 09:00:00", "x", 3L))
    val got = EventAnalytics.cohortRetention(events, "user_id", "ts")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === Set((2817L, 0L, 1L, 1.0)))
  }

  test("transitionMatrix: counts and per-source probabilities on a crafted chain") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", "a", 1L),
      (1L, "2024-01-01 11:00:00", "b", 2L),
      (1L, "2024-01-01 12:00:00", "a", 3L),
      (1L, "2024-01-01 13:00:00", "b", 4L),
      (1L, "2024-01-01 14:00:00", "c", 5L),
      (2L, "2024-01-01 10:00:00", "a", 6L),
      (2L, "2024-01-01 11:00:00", "c", 7L))
    val got = EventAnalytics.transitionMatrix(events,
        "user_id", "ts", "event_id", "event_type")
      .as[(String, String, Long, Double)].collect().toSet
    assert(got === Set(
      ("a", "b", 2L, 2.0 / 3), ("a", "c", 1L, 1.0 / 3),
      ("b", "a", 1L, 0.5), ("b", "c", 1L, 0.5)))
  }

  test("transitionMatrix never crosses users; equal timestamps break by event id") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", "a", 2L),
      (1L, "2024-01-01 10:00:00", "b", 1L), // same ts — id order: b then a
      (2L, "2024-01-01 10:00:01", "c", 3L)) // u2's lone event: no pair
    val got = EventAnalytics.transitionMatrix(events,
        "user_id", "ts", "event_id", "event_type")
      .as[(String, String, Long, Double)].collect().toSet
    assert(got === Set(("b", "a", 1L, 1.0)))
  }
}
