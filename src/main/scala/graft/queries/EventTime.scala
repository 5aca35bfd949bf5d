package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Sessions
import graft.queries.Shared._

/** Event-time analytics: sessions, windows, funnels, attribution,
 * anomalies. */
private[graft] object EventTime {

  def defs: Seq[QueryDef] = Seq(
    QueryDef("sessionize", (s, dir) =>
      Sessions.sessionize(t(s, dir, "events")).orderBy("event_id"),
      """SELECT event_id, ts, user_id, event_type, value, props,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |FROM (
        |  SELECT *, CASE WHEN
        |      lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |        IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM events)
        |ORDER BY event_id""".stripMargin),

    QueryDef("window_agg", (s, dir) =>
      Sessions.windowedAgg(t(s, dir, "events"), "1 day")
        .orderBy("w_start", "event_type"),
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
        |  CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS w_end,
        |  event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY w_start, event_type""".stripMargin),

    QueryDef("sliding_window", (s, dir) =>
      // overlapping windows: 1-day length sliding every 12h — each event
      // lands in exactly 2 windows
      Sessions.windowedAgg(t(s, dir, "events"), "1 day",
        slide = Some("12 hours"))
        .orderBy("w_start", "event_type"),
      // Spark sliding windows (L=1d, S=12h, epoch-aligned): an event at t
      // belongs to exactly the two windows starting at floor(t/S)*S and
      // floor(t/S)*S - S — recomputed via unnest of both starts
      """SELECT CAST(to_timestamp(ws) AS TIMESTAMP) AS w_start,
        |  CAST(to_timestamp(ws + 86400) AS TIMESTAMP) AS w_end,
        |  event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM (
        |  SELECT unnest([(epoch_us(ts) // 1000000 // 43200) * 43200,
        |                 (epoch_us(ts) // 1000000 // 43200) * 43200 - 43200])
        |           AS ws,
        |    event_type, user_id, value
        |  FROM events)
        |GROUP BY ws, event_type
        |ORDER BY w_start, event_type""".stripMargin),

    // 3-step view -> click -> purchase funnel, each step within 2 days
    QueryDef("funnel", (s, dir) =>
      Sessions.funnel(t(s, dir, "events"),
        Seq("view", "click", "purchase"), withinSeconds = 172800L),
      // funnel: per-user earliest valid completion per step, each step
      // strictly after the previous and within 2 days of it
      """WITH s0 AS (
        |  SELECT user_id AS u, min(ts) AS done FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (
        |  SELECT e.user_id AS u, min(e.ts) AS done FROM events e
        |  JOIN s0 ON e.user_id = s0.u
        |  WHERE e.event_type = 'click' AND e.ts > s0.done
        |    AND e.ts <= s0.done + INTERVAL 172800 SECOND GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id AS u, min(e.ts) AS done FROM events e
        |  JOIN s1 ON e.user_id = s1.u
        |  WHERE e.event_type = 'purchase' AND e.ts > s1.done
        |    AND e.ts <= s1.done + INTERVAL 172800 SECOND GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS step_idx, 'view' AS step_name,
        |    CAST(count(*) AS BIGINT) AS n_users FROM s0
        |  UNION ALL SELECT CAST(1 AS BIGINT), 'click',
        |    CAST(count(*) AS BIGINT) FROM s1
        |  UNION ALL SELECT CAST(2 AS BIGINT), 'purchase',
        |    CAST(count(*) AS BIGINT) FROM s2)
        |ORDER BY step_idx""".stripMargin),

    // last-touch credit assignment: each purchase attributed to the
    // user's most recent prior click/view within a 7-day lookback
    QueryDef("attribution", (s, dir) =>
      Sessions.attribution(t(s, dir, "events"))
        .orderBy("conversion_id"),
      // same per-user window, last_value IGNORE NULLS of the touch struct
      // over strictly-preceding rows, microsecond gap on both engines
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    CAST(epoch_us(ts) AS BIGINT) AS tus,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN struct_pack(t := CAST(epoch_us(ts) AS BIGINT),
        |                         i := event_id,
        |                         y := event_type) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS lt
        |  FROM events)
        |SELECT event_id AS conversion_id, user_id, ts AS conversion_ts,
        |  CASE WHEN lt IS NOT NULL AND tus - lt.t <= 604800000000
        |       THEN lt.i END AS touch_id,
        |  CASE WHEN lt IS NOT NULL AND tus - lt.t <= 604800000000
        |       THEN lt.y END AS touch_type,
        |  CASE WHEN lt IS NOT NULL AND tus - lt.t <= 604800000000
        |       THEN tus - lt.t END AS gap_us
        |FROM e WHERE event_type = 'purchase'
        |ORDER BY conversion_id""".stripMargin),

    // weekly cohort retention triangle
    QueryDef("retention", (s, dir) =>
      Sessions.retention(t(s, dir, "events"))
        .orderBy("cohort_week", "week_offset"),
      // retention: integer epoch-day-seventh weeks (engine-invariant)
      """WITH weeks AS (
        |  SELECT DISTINCT user_id AS u,
        |    (epoch_us(ts) // 86400000000) // 7 AS w
        |  FROM events),
        |cohorts AS (SELECT u, min(w) AS cw FROM weeks GROUP BY u)
        |SELECT CAST(cw AS BIGINT) AS cohort_week,
        |  CAST(w - cw AS BIGINT) AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM weeks JOIN cohorts USING (u)
        |GROUP BY cw, w - cw
        |ORDER BY cohort_week, week_offset""".stripMargin),

    // first-order Markov transition matrix over per-user event timelines
    QueryDef("event_transitions", (s, dir) =>
      Sessions.eventTransitions(t(s, dir, "events"))
        .orderBy("from_type", "to_type"),
      // event_transitions: lead() on the same (ts, event_id) timeline order;
      // p is one BIGINT/BIGINT division, bit-identical across engines
      """WITH pairs AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |cnt AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (
        |  SELECT from_type, CAST(sum(n_pairs) AS BIGINT) AS n_from
        |  FROM cnt GROUP BY 1)
        |SELECT cnt.from_type, cnt.to_type, cnt.n_pairs, tot.n_from,
        |  CAST(cnt.n_pairs AS DOUBLE) / tot.n_from AS p
        |FROM cnt JOIN tot ON cnt.from_type = tot.from_type
        |ORDER BY 1, 2""".stripMargin),

    // integer-exact 3-sigma daily volume anomalies vs a trailing-7-day
    // baseline per event type
    QueryDef("count_anomaly", (s, dir) =>
      Sessions.countAnomaly(t(s, dir, "events"))
        .orderBy("day", "event_type"),
      // count_anomaly: the 3-sigma test evaluated in pure BIGINT arithmetic
      // ((n*x - S1)^2 > 9*(n*S2 - S1^2)) so the flag is engine-invariant
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        |  FROM events GROUP BY 1, 2, 4),
        |st AS (
        |  SELECT day, event_type, n_events,
        |    CAST(count(*) OVER w AS BIGINT) AS n_baseline,
        |    CAST(COALESCE(sum(n_events) OVER w, 0) AS BIGINT) AS s1,
        |    CAST(COALESCE(sum(n_events * n_events) OVER w, 0) AS BIGINT) AS s2
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d
        |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT day, event_type, n_events, n_baseline,
        |  n_baseline > 0 AND
        |    (n_baseline * n_events - s1) * (n_baseline * n_events - s1)
        |      > 9 * (n_baseline * s2 - s1 * s1) AS is_anomaly
        |FROM st ORDER BY day, event_type""".stripMargin),

    // per-user daily resample with forward fill (as-of state per day)
    QueryDef("resample_ffill", (s, dir) =>
      Sessions.resampleDaily(
        t(s, dir, "events").filter(col("user_id") % 10 === 0))
        .orderBy("user_id", "day"),
      // resample_ffill: same last-event-of-day pick (ts desc, event_id
      // desc), generate_series day spine, IGNORE NULLS carry
      """WITH daily AS (
        |  SELECT user_id, day, value FROM (
        |    SELECT user_id, CAST(ts AS DATE) AS day, value,
        |      row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE user_id % 10 = 0)
        |  WHERE rn = 1),
        |spine AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
        |        FROM daily GROUP BY 1))
        |SELECT s.user_id, s.day,
        |  last_value(d.value IGNORE NULLS) OVER (PARTITION BY s.user_id
        |    ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  d.value IS NULL AS is_filled
        |FROM spine s LEFT JOIN daily d
        |  ON s.user_id = d.user_id AND s.day = d.day
        |ORDER BY s.user_id, s.day""".stripMargin),

    // market-basket lift between event types over user-day baskets
    QueryDef("event_lift", (s, dir) =>
      Sessions.eventLift(t(s, dir, "events"))
        .orderBy("type_a", "type_b"),
      // event_lift: distinct user-day-type baskets, integer milli lift
      """WITH baskets AS (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d,
        |    event_type AS t
        |  FROM events),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets
        |  FROM (SELECT DISTINCT u, d FROM baskets)),
        |tc AS (SELECT t, CAST(count(*) AS BIGINT) AS n
        |  FROM baskets GROUP BY 1),
        |pc AS (SELECT a.t AS type_a, b.t AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM baskets a JOIN baskets b
        |    ON a.u = b.u AND a.d = b.d AND a.t < b.t
        |  GROUP BY 1, 2)
        |SELECT pc.type_a, pc.type_b, ta.n AS n_a, tb.n AS n_b, pc.n_ab,
        |  CAST((CAST(nb.n_baskets AS HUGEINT) * pc.n_ab * 1000)
        |    // (CAST(ta.n AS HUGEINT) * tb.n) AS BIGINT)
        |    AS lift_milli
        |FROM pc
        |JOIN tc ta ON ta.t = pc.type_a
        |JOIN tc tb ON tb.t = pc.type_b
        |CROSS JOIN nb
        |ORDER BY 1, 2""".stripMargin),
  )
}
