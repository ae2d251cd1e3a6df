package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.EventAnalytics

/** Event-sequence analytics (funnel / cohort retention / transition
  * matrix) over the `events` log — the product-analytics layer an
  * analytics engine serves from the same CDC-fed event stream.
  */
object EventQueries {

  /** Q92: ordered conversion funnel signup → view → click → purchase.
    * Chained-min semantics (each step's time is the first occurrence
    * strictly after the previous step's time), computed as ONE
    * user-keyed shuffle + sorted-array fold; the oracle states the same
    * semantics as a chain of min-aggregate CTEs.
    */
  val q92 = QueryDef.sql(
    "q92_funnel",
    """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
      |            WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |       JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |       JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
      |s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |       JOIN s3 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1),
      |u AS (SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS u1,
      |             CAST((SELECT count(*) FROM s2) AS BIGINT) AS u2,
      |             CAST((SELECT count(*) FROM s3) AS BIGINT) AS u3,
      |             CAST((SELECT count(*) FROM s4) AS BIGINT) AS u4)
      |SELECT CAST(1 AS BIGINT) AS step_no, 'signup' AS step, u1 AS users,
      |       CAST(u1 AS DOUBLE) / u1 AS conv FROM u
      |UNION ALL SELECT 2, 'view', u2, CAST(u2 AS DOUBLE) / u1 FROM u
      |UNION ALL SELECT 3, 'click', u3, CAST(u3 AS DOUBLE) / u1 FROM u
      |UNION ALL SELECT 4, 'purchase', u4, CAST(u4 AS DOUBLE) / u1 FROM u""".stripMargin) {
    (spark, dir) =>
      EventAnalytics.funnel(Tables.events(spark, dir), "user_id", "ts",
        "event_type", Seq("signup", "view", "click", "purchase"))
  }

  /** Q95: weekly cohort retention matrix — users of each first-seen
    * epoch week still active N weeks later, with the retained fraction
    * vs the cohort's own week 0.
    */
  val q95 = QueryDef.sql(
    "q95_cohort_retention",
    """WITH w AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort_week FROM w GROUP BY 1),
      |a AS (SELECT DISTINCT w.user_id, f.cohort_week,
      |             w.wk - f.cohort_week AS week_offset
      |      FROM w JOIN f USING (user_id)),
      |c AS (SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS users
      |      FROM a GROUP BY 1, 2)
      |SELECT cohort_week, week_offset, users,
      |       CAST(users AS DOUBLE) /
      |         max(CASE WHEN week_offset = 0 THEN users END)
      |           OVER (PARTITION BY cohort_week) AS retained_pct
      |FROM c""".stripMargin) { (spark, dir) =>
    EventAnalytics.cohortRetention(Tables.events(spark, dir), "user_id", "ts")
  }

  /** Q96: first-order event-type transition matrix with per-source
    * probabilities — consecutive pairs under the (ts, event_id)
    * tiebreak, counted globally.
    */
  val q96 = QueryDef.sql(
    "q96_event_transitions",
    """WITH t AS (SELECT event_type AS from_type,
      |             lead(event_type) OVER (PARTITION BY user_id
      |                                    ORDER BY ts, event_id) AS to_type
      |           FROM events),
      |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |       CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
      |FROM c""".stripMargin) { (spark, dir) =>
    EventAnalytics.transitionMatrix(Tables.events(spark, dir),
      "user_id", "ts", "event_id", "event_type")
  }

  val all: Seq[QueryDef] = Seq(q92, q95, q96)
}
