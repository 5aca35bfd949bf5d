package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Layout, Relational}
import graft.queries.Shared._

/** Temporal joins, data profiling, layout curves and robust
 * statistics. */
private[graft] object Profiling {

  def defs: Seq[QueryDef] = Seq(
    QueryDef("asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"),
          col("ts").as("signup_ts"), col("event_id").as("signup_event_id"))
      Relational.asofJoin(purchases, signups, "user_id", "ts")
        .orderBy("event_id")
    },
      """SELECT l.event_id, l.user_id, l.ts, r.signup_ts, r.signup_event_id
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT user_id, ts, ts AS signup_ts,
        |                       event_id AS signup_event_id
        |                FROM events WHERE event_type = 'signup') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin),

    // tolerance-bounded as-of: the feature-store point-in-time shape —
    // a signup older than 7 days is too stale to attribute
    QueryDef("asof_join_tolerance", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"),
          col("ts").as("signup_ts"), col("event_id").as("signup_event_id"))
      Relational.asofJoin(purchases, signups, "user_id", "ts",
        tolerance = Some("7 days")).orderBy("event_id")
    },
      // tolerance twin: same ASOF match, values nulled when the match is
      // older than the 7-day freshness bound (match-then-filter — the
      // latest right row is the only candidate either way)
      """SELECT l.event_id, l.user_id, l.ts,
        |  CASE WHEN l.ts <= r.ts + INTERVAL 7 DAY THEN r.signup_ts END
        |    AS signup_ts,
        |  CASE WHEN l.ts <= r.ts + INTERVAL 7 DAY THEN r.signup_event_id END
        |    AS signup_event_id
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT user_id, ts, ts AS signup_ts,
        |                       event_id AS signup_event_id
        |                FROM events WHERE event_type = 'signup') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin),

    QueryDef("range_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val windows = ev
        .filter(col("event_type") === "signup" && col("event_id") % 20 === 0)
        .select(col("event_id").as("window_id"), col("ts").as("w_start"),
          expr("ts + INTERVAL 6 HOURS").as("w_end"))
      Relational.rangeJoin(ev.select("event_id", "ts"), "ts",
        windows, "w_start", "w_end")
        .select("window_id", "event_id")
        .orderBy("window_id", "event_id")
    },
      """SELECT w.window_id, e.event_id
        |FROM (SELECT event_id, ts FROM events) e
        |JOIN (SELECT event_id AS window_id, ts AS w_start,
        |             ts + INTERVAL 6 HOUR AS w_end
        |      FROM events
        |      WHERE event_type = 'signup' AND event_id % 20 = 0) w
        |  ON e.ts >= w.w_start AND e.ts < w.w_end
        |ORDER BY window_id, event_id""".stripMargin),

    QueryDef("profile_events", (s, dir) => {
      // data-quality profile of the events table: per-column null counts,
      // ranges, and cardinalities in one aggregate pass
      val ev = t(s, dir, "events")
      ev.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("null_event_type"),
        countDistinct(col("event_type")).as("n_event_types"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"))
    },
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS null_event_type,
        |  count(DISTINCT event_type) AS n_event_types,
        |  count(DISTINCT user_id) AS n_users,
        |  min(value) AS min_value, max(value) AS max_value,
        |  min(ts) AS min_ts, max(ts) AS max_ts
        |FROM events""".stripMargin),

    // pre-join shuffle-key skew profile: the 20 heaviest user_id values
    QueryDef("key_skew", (s, dir) =>
      Relational.keySkew(t(s, dir, "events"), "user_id", k = 20)
        .orderBy("rank"),
      // key_skew: integer permille via BIGINT floor-division on both sides
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM c),
        |r AS (SELECT user_id, n_rows,
        |  CAST(row_number() OVER (ORDER BY n_rows DESC, user_id) AS BIGINT)
        |    AS rank FROM c)
        |SELECT user_id, n_rows,
        |  CAST(n_rows * 1000 // total AS BIGINT) AS permille, rank
        |FROM r CROSS JOIN t WHERE rank <= 20 ORDER BY rank""".stripMargin),

    // first-significant-digit distribution vs Benford constants: the
    // fabricated-data / unit-mixing screen, integer permille throughout
    QueryDef("benford_audit", (s, dir) =>
      Relational.benfordAudit(t(s, dir, "events"))
        .orderBy("event_type", "digit"),
      // leading digit from the decimal string form (engine-invariant),
      // Benford expectation as floored-log constants
      """WITH d AS (SELECT event_type,
        |  CAST(regexp_extract(CAST(ABS(value) AS VARCHAR), '[1-9]', 0)
        |    AS BIGINT) AS digit
        |  FROM events WHERE value IS NOT NULL AND value <> 0),
        |c AS (SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total
        |  FROM c GROUP BY 1)
        |SELECT c.event_type, c.digit, c.n,
        |  CAST(c.n * 1000 // t.total AS BIGINT) AS permille,
        |  CAST(CASE c.digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 124
        |    WHEN 4 THEN 96 WHEN 5 THEN 79 WHEN 6 THEN 66 WHEN 7 THEN 57
        |    WHEN 8 THEN 51 WHEN 9 THEN 45 ELSE 0 END AS BIGINT)
        |    AS benford_permille,
        |  CAST(abs(c.n * 1000 // t.total
        |    - CASE c.digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 124
        |      WHEN 4 THEN 96 WHEN 5 THEN 79 WHEN 6 THEN 66 WHEN 7 THEN 57
        |      WHEN 8 THEN 51 WHEN 9 THEN 45 ELSE 0 END) AS BIGINT)
        |    AS deviation_permille
        |FROM c JOIN t ON c.event_type = t.event_type
        |ORDER BY c.event_type, c.digit""".stripMargin),

    // Z-order layout: per-bucket min/max envelopes of the Morton-curve
    // file assignment — the min-max pruning statistics a file-skipping
    // reader would consult
    QueryDef("zorder_layout", (s, dir) =>
      Layout.zorderStats(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        nBuckets = 16, bitsPerDim = 8).orderBy("bucket"),
      // zorder_layout: the Morton assignment in closed form — grid cells
      // from integer bounds (// = floor div, matching Spark's `div`), bit
      // interleave as a sum over bit positions, bucket = top-4-bit prefix
      """WITH b AS (
        |  SELECT min(l_orderkey) AS minx, max(l_orderkey) AS maxx,
        |         min(l_partkey) AS miny, max(l_partkey) AS maxy
        |  FROM lineitem),
        |z AS (
        |  SELECT l_orderkey, l_partkey,
        |    CAST(list_sum(list_transform(generate_series(0, 7), i ->
        |      (((((l_orderkey - minx) * 256 // (maxx - minx + 1)) >> i) & 1)
        |        << (2 * i))
        |      + (((((l_partkey - miny) * 256 // (maxy - miny + 1)) >> i) & 1)
        |        << (2 * i + 1)))) AS BIGINT) AS zval
        |  FROM lineitem, b)
        |SELECT CAST(zval >> 12 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(l_orderkey) AS x_min, max(l_orderkey) AS x_max,
        |  min(l_partkey) AS y_min, max(l_partkey) AS y_max
        |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin),

    // Hilbert-curve variant: tighter envelopes than Morton (consecutive
    // curve positions are always grid neighbors — no Z diagonal jumps)
    QueryDef("hilbert_layout", (s, dir) =>
      Layout.hilbertStats(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        nBuckets = 16, bitsPerDim = 8).orderBy("bucket"),
      // Hilbert fold as a list_reduce over bit levels (MSB first) with a
      // struct accumulator: the level index rides in the element's x slot;
      // the quadrant digit is xor(3*rx, ry); the ry=0 branch swaps (and,
      // when rx=1, flips against the full-grid mask 255) — bit-for-bit the
      // graft_hilbert native loop
      """WITH b AS (
        |  SELECT min(l_orderkey) AS minx, max(l_orderkey) AS maxx,
        |         min(l_partkey) AS miny, max(l_partkey) AS maxy
        |  FROM lineitem),
        |h AS (
        |  SELECT l_orderkey, l_partkey,
        |    (list_reduce(
        |      list_prepend(
        |        struct_pack(
        |          x := CAST((l_orderkey - minx) * 256 // (maxx - minx + 1)
        |               AS BIGINT),
        |          y := CAST((l_partkey - miny) * 256 // (maxy - miny + 1)
        |               AS BIGINT),
        |          d := CAST(0 AS BIGINT)),
        |        list_transform(generate_series(7, 0, -1), i ->
        |          struct_pack(x := CAST(i AS BIGINT), y := CAST(0 AS BIGINT),
        |                      d := CAST(0 AS BIGINT)))),
        |      (acc, e) -> struct_pack(
        |        x := CASE WHEN ((acc.y >> e.x) & 1) = 0
        |               THEN CASE WHEN ((acc.x >> e.x) & 1) = 1
        |                      THEN 255 - acc.y ELSE acc.y END
        |               ELSE acc.x END,
        |        y := CASE WHEN ((acc.y >> e.x) & 1) = 0
        |               THEN CASE WHEN ((acc.x >> e.x) & 1) = 1
        |                      THEN 255 - acc.x ELSE acc.x END
        |               ELSE acc.y END,
        |        d := acc.d + (xor(3 * ((acc.x >> e.x) & 1),
        |                          (acc.y >> e.x) & 1) << (2 * e.x))))).d
        |    AS hval
        |  FROM lineitem, b)
        |SELECT CAST(hval >> 12 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(l_orderkey) AS x_min, max(l_orderkey) AS x_max,
        |  min(l_partkey) AS y_min, max(l_partkey) AS y_max
        |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin),

    // KMV pre-join sizing: distinct-custkey overlap of the high-value vs
    // low-value order slices, estimated from two 64-long sketches plus
    // the exact-intersection eval column
    QueryDef("join_cardinality", (s, dir) => {
      val o = t(s, dir, "orders")
      Relational.kmvOverlapEstimate(
        o.filter(col("o_totalprice") > 450000),
        o.filter(col("o_totalprice") < 50000),
        "o_custkey", "o_custkey", k = 64)
    },
      // join_cardinality: both KMV sketches, the combined union sketch,
      // and the Beyer et al. estimators recomputed in closed form (k
      // smallest reproducible polynomial hashes via ORDER BY h LIMIT k)
      s"""WITH lh AS (SELECT DISTINCT
         |    CAST((CAST(1103515245 AS HUGEINT) *
         |      (${duckPolyFragment("CAST(o_custkey AS VARCHAR)", 31, 1000000007L)})
         |      + 12345) % 1000000007 AS BIGINT) AS h
         |  FROM orders WHERE o_totalprice > 450000),
         |rh AS (SELECT DISTINCT
         |    CAST((CAST(1103515245 AS HUGEINT) *
         |      (${duckPolyFragment("CAST(o_custkey AS VARCHAR)", 31, 1000000007L)})
         |      + 12345) % 1000000007 AS BIGINT) AS h
         |  FROM orders WHERE o_totalprice < 50000),
         |sa AS (SELECT h FROM lh ORDER BY h LIMIT 64),
         |sb AS (SELECT h FROM rh ORDER BY h LIMIT 64),
         |ua AS (SELECT DISTINCT h FROM
         |  (SELECT h FROM sa UNION ALL SELECT h FROM sb)),
         |un AS (SELECT h FROM ua ORDER BY h LIMIT 64),
         |sc AS (SELECT
         |  (SELECT count(*) FROM lh) AS nl,
         |  (SELECT count(*) FROM rh) AS nr,
         |  (SELECT count(*) FROM ua) AS nu,
         |  (SELECT max(h) FROM sa) AS ka,
         |  (SELECT max(h) FROM sb) AS kb,
         |  (SELECT max(h) FROM un) AS ku,
         |  (SELECT count(*) FROM un WHERE h IN (SELECT h FROM sa)
         |     AND h IN (SELECT h FROM sb)) AS kint,
         |  (SELECT count(*) FROM lh JOIN rh USING (h)) AS nx)
         |SELECT CAST(64 AS BIGINT) AS k,
         |  CASE WHEN nl < 64 THEN CAST(nl AS DOUBLE)
         |       ELSE 63.0 * 1000000007 / ka END AS est_left,
         |  CASE WHEN nr < 64 THEN CAST(nr AS DOUBLE)
         |       ELSE 63.0 * 1000000007 / kb END AS est_right,
         |  CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
         |       ELSE 63.0 * 1000000007 / ku END AS est_union,
         |  CASE WHEN nu < 64 THEN CAST(kint AS DOUBLE)
         |       ELSE CAST(kint AS DOUBLE) *
         |         (CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
         |               ELSE 63.0 * 1000000007 / ku END) / 64
         |  END AS est_intersection,
         |  CAST(nx AS BIGINT) AS n_exact_intersection
         |FROM sc""".stripMargin),

    // the decision layer over the sizing passes: lineitem ⋈ orders on
    // orderkey with a deliberately tight broadcast budget, so the
    // verdict comes from the skew/shuffle branch, not the easy one
    QueryDef("join_advisor", (s, dir) =>
      Relational.joinAdvisor(
        t(s, dir, "lineitem"), t(s, dir, "orders"),
        "l_orderkey", "o_orderkey",
        broadcastMaxRows = 1000, skewPermille = 200),
      // exact side counts + top-key shares -> the same decision CASE
      """WITH l AS (SELECT CAST(sum(c) AS BIGINT) AS rows,
        |    CAST(COALESCE(max(c), 0) AS BIGINT) AS topn FROM (
        |    SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)),
        |r AS (SELECT CAST(sum(c) AS BIGINT) AS rows,
        |    CAST(COALESCE(max(c), 0) AS BIGINT) AS topn FROM (
        |    SELECT count(*) AS c FROM orders GROUP BY o_orderkey))
        |SELECT l.rows AS n_left, r.rows AS n_right,
        |  CASE WHEN l.rows > 0 THEN CAST(l.topn * 1000 // l.rows AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS top_share_left_permille,
        |  CASE WHEN r.rows > 0 THEN CAST(r.topn * 1000 // r.rows AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS top_share_right_permille,
        |  CASE WHEN r.rows <= 1000 THEN 'broadcast_right'
        |       WHEN l.rows <= 1000 THEN 'broadcast_left'
        |       WHEN greatest(
        |           CASE WHEN l.rows > 0 THEN l.topn * 1000 // l.rows ELSE 0 END,
        |           CASE WHEN r.rows > 0 THEN r.topn * 1000 // r.rows ELSE 0 END)
        |         >= 200 THEN 'salted_shuffle'
        |       ELSE 'shuffle' END AS strategy
        |FROM l, r""".stripMargin),

    // 10%-trimmed per-type mean of value, in exact micro-unit integers
    QueryDef("robust_stats", (s, dir) =>
      Relational.trimmedStats(t(s, dir, "events"))
        .orderBy("event_type"),
      // robust_stats: micro-unit quantization, integer trim ranks, one
      // floored division — no float mean/variance crosses engines
      """WITH m AS (SELECT event_type,
        |  CAST(round(value * 1000000) AS BIGINT) AS vm, event_id
        |  FROM events),
        |r AS (SELECT event_type, vm,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY vm, event_id) AS BIGINT) AS rk,
        |  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM m)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_total,
        |  CAST(count(*) AS BIGINT) AS n_used,
        |  CAST(floor(sum(vm) / CAST(count(*) AS DOUBLE)) AS BIGINT)
        |    AS trimmed_mean_micro
        |FROM r
        |WHERE rk > CAST(floor(n * 100 / 1000) AS BIGINT)
        |  AND rk <= n - CAST(floor(n * 100 / 1000) AS BIGINT)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // clamping sibling of robust_stats: outliers clipped to the band
    // boundaries instead of dropped — every row still counts
    QueryDef("winsorized_stats", (s, dir) =>
      Relational.winsorizedStats(t(s, dir, "events"))
        .orderBy("event_type"),
      // same rank CTE as robust_stats; boundary values from the kept band,
      // all rows clamped into it, same floored micro-mean
      """WITH m AS (SELECT event_type,
        |  CAST(round(value * 1000000) AS BIGINT) AS vm, event_id
        |  FROM events),
        |r AS (SELECT event_type, vm,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY vm, event_id) AS BIGINT) AS rk,
        |  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM m),
        |b AS (SELECT event_type,
        |  CAST(min(vm) AS BIGINT) AS lo, CAST(max(vm) AS BIGINT) AS hi
        |  FROM r
        |  WHERE rk > CAST(floor(n * 100 / 1000) AS BIGINT)
        |    AND rk <= n - CAST(floor(n * 100 / 1000) AS BIGINT)
        |  GROUP BY event_type)
        |SELECT r.event_type, CAST(max(n) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN vm < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_low,
        |  CAST(sum(CASE WHEN vm > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_high,
        |  CAST(floor(sum(greatest(least(vm, hi), lo))
        |    / CAST(max(n) AS DOUBLE)) AS BIGINT) AS winsorized_mean_micro
        |FROM r JOIN b ON r.event_type = b.event_type
        |GROUP BY r.event_type ORDER BY r.event_type""".stripMargin),

    QueryDef("value_percentiles", (s, dir) =>
      // discrete percentiles (actual data values, no interpolation — the
      // only percentile flavor that hash-matches across engines)
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").as("p25"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").as("p75"))
        .orderBy("event_type"),
      """SELECT event_type,
        |  quantile_disc(value, 0.25) AS p25,
        |  quantile_disc(value, 0.5)  AS p50,
        |  quantile_disc(value, 0.75) AS p75
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // exact AND memory-bounded percentiles: assembled integer ranks (no
    // per-group aggregation buffer, no single-task sort), arbitrary
    // permille set, micro-unit values
    QueryDef("group_percentiles", (s, dir) =>
      Relational.groupedPercentiles(t(s, dir, "events"))
        .orderBy("event_type", "permille"),
      // group_percentiles twin: the SAME rank arithmetic, not DuckDB's
      // quantile built-in (engines disagree on quantile conventions)
      """WITH m AS (SELECT event_type AS g,
        |    CAST(round(value * 1000000) AS BIGINT) AS vm,
        |    event_id AS tie FROM events),
        |r AS (SELECT g, vm,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY vm, tie)
        |      AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM m),
        |p AS (SELECT CAST(unnest([0, 50, 500, 950, 990, 1000]) AS BIGINT)
        |        AS permille)
        |SELECT r.g AS event_type, p.permille, r.vm AS value_micro,
        |  r.rk AS rank, r.n AS n
        |FROM r JOIN p
        |  ON r.rk = greatest(1, (p.permille * r.n + 999) // 1000)
        |ORDER BY event_type, permille""".stripMargin),

    // Tukey-fence outliers per group off exact integer quartiles:
    // the boxplot monitor, sparse output (flagged rows only)
    QueryDef("iqr_outliers", (s, dir) =>
      Relational.iqrOutliers(t(s, dir, "events"))
        .orderBy("event_type", "event_id"),
      // iqr_outliers twin: quartiles by the SAME rank arithmetic, fences
      // by the same truncating integer division
      """WITH m AS (SELECT event_type AS g, event_id,
        |    CAST(round(value * 1000000) AS BIGINT) AS vm FROM events),
        |r AS (SELECT g, vm,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY vm, event_id)
        |      AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM m),
        |q AS (SELECT g,
        |    max(CASE WHEN rk = greatest(1, (250 * n + 999) // 1000)
        |        THEN vm END) AS q1,
        |    max(CASE WHEN rk = greatest(1, (750 * n + 999) // 1000)
        |        THEN vm END) AS q3
        |  FROM r GROUP BY g),
        |f AS (SELECT g, q1 - (1500 * (q3 - q1)) // 1000 AS lo,
        |    q3 + (1500 * (q3 - q1)) // 1000 AS hi FROM q)
        |SELECT m.g AS event_type, m.event_id,
        |  m.vm AS value_micro, f.lo AS lo_micro, f.hi AS hi_micro
        |FROM m JOIN f ON m.g = f.g
        |WHERE m.vm < f.lo OR m.vm > f.hi
        |ORDER BY event_type, event_id""".stripMargin),

    // median/MAD robust outlier flags (|modified z| > 3.5): the
    // 50%-breakdown companion to the Tukey fences, both medians off
    // the same assembled exact integer ranks
    QueryDef("mad_outliers", (s, dir) =>
      Relational.madOutliers(t(s, dir, "events"))
        .orderBy("event_type", "event_id"),
      // mad_outliers twin: both medians by the SAME rank arithmetic
      // (second pass over the deviations, ties by event_id), fence by
      // the same BIGINT multiply — no division anywhere
      """WITH m AS (SELECT event_type AS g, event_id,
        |    CAST(round(value * 1000000) AS BIGINT) AS vm FROM events),
        |r AS (SELECT g, vm,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY vm, event_id)
        |      AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM m),
        |med AS (SELECT g,
        |    max(CASE WHEN rk = greatest(1, (500 * n + 999) // 1000)
        |        THEN vm END) AS med
        |  FROM r GROUP BY g),
        |d AS (SELECT m.g, m.event_id, m.vm, med.med,
        |    abs(m.vm - med.med) AS dev
        |  FROM m JOIN med ON m.g = med.g),
        |r2 AS (SELECT g, event_id, dev,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY dev, event_id)
        |      AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM d),
        |mad AS (SELECT g,
        |    max(CASE WHEN rk = greatest(1, (500 * n + 999) // 1000)
        |        THEN dev END) AS mad
        |  FROM r2 GROUP BY g)
        |SELECT d.g AS event_type, d.event_id, d.vm AS value_micro,
        |  d.med AS med_micro, mad.mad AS mad_micro
        |FROM d JOIN mad ON d.g = mad.g
        |WHERE d.dev * 1000 > 5190 * mad.mad
        |ORDER BY event_type, event_id""".stripMargin),

    // hash-sample percentiles — the scale path: the reproducible id-hash
    // sample is recomputed exactly by the oracle, so even the "estimate"
    // is hash-checked
    QueryDef("sampled_percentiles", (s, dir) =>
      Relational.sampledPercentiles(t(s, dir, "events"), "value",
        "event_type", "event_id", keepPct = 10).orderBy("event_type"),
      // sampled_percentiles: the oracle recomputes the identical 10%
      // id-hash sample (same fold as train_val_split), then exact discrete
      // quantiles over it — the sampling itself is hash-checked
      s"""SELECT event_type,
         |  quantile_disc(value, 0.25) AS p25,
         |  quantile_disc(value, 0.5)  AS p50,
         |  quantile_disc(value, 0.75) AS p75,
         |  CAST(count(*) AS BIGINT) AS n_sample
         |FROM events
         |WHERE ${duckPolyFragment("CAST(event_id AS VARCHAR)", 31, 1000000007L)}
         |  % 100 < 10
         |GROUP BY event_type ORDER BY event_type""".stripMargin),

    QueryDef("rank_stats", (s, dir) => {
      // the full ranking-function family over a deterministic total order
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("value"), col("event_id"))
      t(s, dir, "events")
        .filter(col("event_id") % 50 === 0) // small, stable sample
        .select(col("event_id"), col("event_type"), col("value"))
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("prank", percent_rank().over(w))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .orderBy("event_id")
    },
      """SELECT event_id, event_type, value,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  percent_rank() OVER w AS prank,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM events WHERE event_id % 50 = 0
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_id""".stripMargin),

    QueryDef("group_concat", (s, dir) =>
      // collection aggregate: per user, the sorted distinct event types
      // as one string (deterministic regardless of aggregation order)
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(concat_ws(",", array_sort(collect_set(col("event_type"))))
          .as("types"),
          count(lit(1)).as("n"))
        .orderBy("user_id"),
      """SELECT user_id,
        |  COALESCE(string_agg(DISTINCT event_type, ',' ORDER BY event_type), '')
        |    AS types,
        |  count(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
  )
}
