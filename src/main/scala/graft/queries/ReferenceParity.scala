package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Relational, Sessions}
import graft.schema.Normalize
import graft.queries.Shared._

/** The reference pipeline surface: normalize, sort, time range, preview,
 * upsert, SCD2, and the audits around them. */
private[graft] object ReferenceParity {

  def defs: Seq[QueryDef] = Seq(
    QueryDef("normalize", (s, dir) =>
      Normalize.normalize(deals(s, dir)).orderBy("event_id"),
      """SELECT CAST(event_id AS VARCHAR) AS event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS created_at,
        |  user_id,
        |  COALESCE(event_type, '') AS event_type,
        |  CAST(value AS VARCHAR) AS value,
        |  COALESCE(props, '') AS props
        |FROM events ORDER BY CAST(event_id AS VARCHAR)""".stripMargin),

    QueryDef("sort_created_at", (s, dir) =>
      Relational.sortByCreatedAt(Normalize.normalize(deals(s, dir)),
        tieBreak = Seq("event_id")),
      """SELECT CAST(event_id AS VARCHAR) AS event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS created_at,
        |  user_id,
        |  COALESCE(event_type, '') AS event_type,
        |  CAST(value AS VARCHAR) AS value,
        |  COALESCE(props, '') AS props
        |FROM events
        |ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S'), CAST(event_id AS VARCHAR)""".stripMargin),

    QueryDef("time_range", (s, dir) =>
      Relational.timeRange(t(s, dir, "events"), "ts",
        "2024-01-10 00:00:00", "2024-01-20 00:00:00").orderBy("event_id"),
      """SELECT * FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <  TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY event_id""".stripMargin),

    QueryDef("preview", (s, dir) =>
      Relational.preview(
        Relational.sortByCreatedAt(t(s, dir, "events"), "ts", Seq("event_id")), 5),
      "SELECT * FROM events ORDER BY ts, event_id LIMIT 5"),

    QueryDef("upsert", (s, dir) => {
      val ev = t(s, dir, "events")
      val main = ev.filter(col("event_id") % 2 === 0)
      val staging = ev.filter(col("event_id") % 3 === 0)
        .withColumn("value", col("value") + 100)
        .withColumn("event_type", lit("updated"))
      Relational.upsertPlan(main, staging, "event_id").orderBy("event_id")
    },
      """SELECT event_id, ts, user_id, event_type, value, props FROM events
        |WHERE event_id % 2 = 0 AND event_id % 3 <> 0
        |UNION ALL
        |SELECT event_id, ts, user_id, 'updated' AS event_type,
        |       value + 100 AS value, props
        |FROM events WHERE event_id % 3 = 0
        |ORDER BY event_id""".stripMargin),

    // materialized additive rollup: build from the base slice, fold the
    // delta via incremental maintenance (no fact rescan), serve from the
    // key-cardinality bucketed table — oracle = direct aggregate over
    // ALL rows, proving base+delta additivity end-to-end
    QueryDef("rollup_serve", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("v_milli", expr("CAST(floor(value * 1000) AS BIGINT)"))
      val base = "graft_rollup_" + math.abs(dir.hashCode).toString
      memoIndex(s, base, Seq("")) {
        graft.tables.Tables.writeAggTable(
          ev.filter(col("event_id") % 4 =!= 0), base,
          Seq("event_type"), Seq("v_milli"))
        graft.tables.Tables.refreshAggTable(s,
          ev.filter(col("event_id") % 4 === 0), base,
          Seq("event_type"), Seq("v_milli"))
      }
      s.table(base).select(col("event_type"),
        col("n").cast("long").as("n"),
        expr("try_cast(sum_v_milli AS BIGINT)").as("sum_v_milli"))
        .orderBy("event_type")
    },
      // rollup_serve twin: the DIRECT aggregate over all rows — the serve
      // path reads only the maintained base+delta rollup, so equality here
      // proves the incremental additive fold
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS sum_v_milli
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // SCD Type 2 versioned upsert: changed attributes close the current
    // version and open a new one; identical rows are no-ops; history
    // accumulates with (valid_from, valid_to) ranges
    QueryDef("scd2_upsert", (s, dir) => {
      val ev = t(s, dir, "events")
      val base = ev.filter(col("event_id") % 2 === 0)
        .select("event_id", "event_type", "value")
      val staging = ev.filter(col("event_id") % 3 === 0)
        .select(col("event_id"), lit("updated").as("event_type"),
          (col("value") + 100).as("value"))
      val tbl = "graft_scd2p_" + math.abs(dir.hashCode).toString
      val t0 = java.sql.Timestamp.from(
        java.time.Instant.parse("2030-01-01T00:00:00Z"))
      val t1 = java.sql.Timestamp.from(
        java.time.Instant.parse("2030-01-02T00:00:00Z"))
      memoIndex(s, tbl, Seq("")) {
        graft.tables.Tables.loadScd2(base, tbl, t0, partitioned = true)
        graft.tables.Tables.upsertScd2(s, staging, tbl, "event_id", t1)
      }
      s.table(tbl).drop("valid_to_date")
        .orderBy("event_id", "valid_from")
    },
      // scd2_upsert twin: closed/kept/opened versions in closed form from
      // the same base/staging slices and null-safe change test
      """WITH base AS (SELECT event_id, event_type, value FROM events
        |              WHERE event_id % 2 = 0),
        |stg AS (SELECT event_id, 'updated' AS event_type,
        |          value + 100 AS value
        |        FROM events WHERE event_id % 3 = 0),
        |chg AS (SELECT b.event_id FROM base b JOIN stg s USING (event_id)
        |        WHERE b.event_type IS DISTINCT FROM s.event_type
        |           OR b.value IS DISTINCT FROM s.value)
        |SELECT b.event_id, b.event_type, b.value,
        |  TIMESTAMP '2030-01-01 00:00:00' AS valid_from,
        |  TIMESTAMP '2030-01-02 00:00:00' AS valid_to
        |FROM base b JOIN chg USING (event_id)
        |UNION ALL
        |SELECT b.event_id, b.event_type, b.value,
        |  TIMESTAMP '2030-01-01 00:00:00', NULL
        |FROM base b LEFT JOIN chg ON b.event_id = chg.event_id
        |WHERE chg.event_id IS NULL
        |UNION ALL
        |SELECT s.event_id, s.event_type, s.value,
        |  TIMESTAMP '2030-01-02 00:00:00', NULL
        |FROM stg s LEFT JOIN base b USING (event_id)
        |WHERE b.event_id IS NULL OR s.event_id IN (SELECT event_id FROM chg)
        |ORDER BY event_id, valid_from""".stripMargin),

    // time-travel reads of the SCD2 table: the dimension exactly as it
    // stood at two probe instants straddling the versioned upsert
    QueryDef("scd2_snapshot", (s, dir) => {
      val ev = t(s, dir, "events")
      val base = ev.filter(col("event_id") % 2 === 0)
        .select("event_id", "event_type", "value")
      val staging = ev.filter(col("event_id") % 3 === 0)
        .select(col("event_id"), lit("updated").as("event_type"),
          (col("value") + 100).as("value"))
      val tbl = "graft_scd2p_" + math.abs(dir.hashCode).toString
      val t0 = java.sql.Timestamp.from(
        java.time.Instant.parse("2030-01-01T00:00:00Z"))
      val t1 = java.sql.Timestamp.from(
        java.time.Instant.parse("2030-01-02T00:00:00Z"))
      memoIndex(s, tbl, Seq("")) {
        graft.tables.Tables.loadScd2(base, tbl, t0, partitioned = true)
        graft.tables.Tables.upsertScd2(s, staging, tbl, "event_id", t1)
      }
      val p1 = java.sql.Timestamp.from(
        java.time.Instant.parse("2030-01-01T12:00:00Z"))
      val p2 = java.sql.Timestamp.from(
        java.time.Instant.parse("2030-01-02T12:00:00Z"))
      graft.tables.Tables.scd2Snapshot(s, tbl, p1)
        .withColumn("probe", lit("t0"))
        .unionByName(graft.tables.Tables.scd2Snapshot(s, tbl, p2)
          .withColumn("probe", lit("t1")))
        .orderBy("probe", "event_id")
    },
      // scd2_snapshot twin: the t0 probe sees every base row (closed
      // versions still valid then); the t1 probe sees the merged current
      """WITH base AS (SELECT event_id, event_type, value FROM events
        |              WHERE event_id % 2 = 0),
        |stg AS (SELECT event_id, 'updated' AS event_type,
        |          value + 100 AS value
        |        FROM events WHERE event_id % 3 = 0),
        |chg AS (SELECT b.event_id FROM base b JOIN stg s USING (event_id)
        |        WHERE b.event_type IS DISTINCT FROM s.event_type
        |           OR b.value IS DISTINCT FROM s.value)
        |SELECT event_id, event_type, value, 't0' AS probe FROM base
        |UNION ALL
        |SELECT b.event_id, b.event_type, b.value, 't1'
        |FROM base b LEFT JOIN chg ON b.event_id = chg.event_id
        |WHERE chg.event_id IS NULL
        |UNION ALL
        |SELECT s.event_id, s.event_type, s.value, 't1'
        |FROM stg s LEFT JOIN base b USING (event_id)
        |WHERE b.event_id IS NULL OR s.event_id IN (SELECT event_id FROM chg)
        |ORDER BY probe, event_id""".stripMargin),

    // point-in-time lookup: each fact joins the dimension version valid
    // AT ITS OWN event time — the anti-leakage feature-store join
    QueryDef("scd2_asof", (s, dir) => {
      val ev = t(s, dir, "events")
      val base = ev.filter(col("event_id") % 2 === 0)
        .select("event_id", "event_type", "value")
      val staging = ev.filter(col("event_id") % 3 === 0)
        .select(col("event_id"), lit("updated").as("event_type"),
          (col("value") + 100).as("value"))
      val tbl = "graft_scd2p_" + math.abs(dir.hashCode).toString
      val t0 = java.sql.Timestamp.from(
        java.time.Instant.parse("2030-01-01T00:00:00Z"))
      val t1 = java.sql.Timestamp.from(
        java.time.Instant.parse("2030-01-02T00:00:00Z"))
      memoIndex(s, tbl, Seq("")) {
        graft.tables.Tables.loadScd2(base, tbl, t0, partitioned = true)
        graft.tables.Tables.upsertScd2(s, staging, tbl, "event_id", t1)
      }
      val facts = ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"),
          when(col("event_id") % 4 === 0,
            lit("2030-01-02 12:00:00").cast("timestamp"))
            .otherwise(lit("2030-01-01 12:00:00").cast("timestamp"))
            .as("probe_ts"))
      graft.tables.Tables.scd2Lookup(s, facts, tbl, "event_id",
        "probe_ts").orderBy("event_id")
    },
      // scd2_asof twin: the same closed-form version set, each fact
      // joined to the version covering its own probe instant
      """WITH base AS (SELECT event_id, event_type, value FROM events
        |              WHERE event_id % 2 = 0),
        |stg AS (SELECT event_id, 'updated' AS event_type,
        |          value + 100 AS value
        |        FROM events WHERE event_id % 3 = 0),
        |chg AS (SELECT b.event_id FROM base b JOIN stg s USING (event_id)
        |        WHERE b.event_type IS DISTINCT FROM s.event_type
        |           OR b.value IS DISTINCT FROM s.value),
        |dim AS (
        |  SELECT b.event_id, b.event_type, b.value,
        |    TIMESTAMP '2030-01-01 00:00:00' AS valid_from,
        |    TIMESTAMP '2030-01-02 00:00:00' AS valid_to
        |  FROM base b JOIN chg USING (event_id)
        |  UNION ALL
        |  SELECT b.event_id, b.event_type, b.value,
        |    TIMESTAMP '2030-01-01 00:00:00', NULL
        |  FROM base b LEFT JOIN chg ON b.event_id = chg.event_id
        |  WHERE chg.event_id IS NULL
        |  UNION ALL
        |  SELECT s.event_id, s.event_type, s.value,
        |    TIMESTAMP '2030-01-02 00:00:00', NULL
        |  FROM stg s LEFT JOIN base b USING (event_id)
        |  WHERE b.event_id IS NULL
        |     OR s.event_id IN (SELECT event_id FROM chg)),
        |facts AS (SELECT event_id,
        |    CASE WHEN event_id % 4 = 0
        |      THEN TIMESTAMP '2030-01-02 12:00:00'
        |      ELSE TIMESTAMP '2030-01-01 12:00:00' END AS probe_ts
        |  FROM events WHERE event_id % 2 = 0)
        |SELECT f.event_id, f.probe_ts, d.event_type, d.value
        |FROM facts f LEFT JOIN dim d ON d.event_id = f.event_id
        |  AND d.valid_from <= f.probe_ts
        |  AND (d.valid_to IS NULL OR d.valid_to > f.probe_ts)
        |ORDER BY f.event_id""".stripMargin),

    QueryDef("dedupe_latest", (s, dir) =>
      Relational.dedupeLatest(t(s, dir, "events"), "user_id", "ts",
        tieBreak = Seq("event_id")).orderBy("user_id"),
      """SELECT * FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin),

    QueryDef("count_rows", (s, dir) =>
      t(s, dir, "events").agg(count(lit(1)).as("n")),
      "SELECT count(*) AS n FROM events"),

    // schema-dynamic per-column quality census: nulls, exact distincts,
    // canonical-string min/max — one narrow columnar pass per column
    QueryDef("profile_columns", (s, dir) =>
      Relational.profileColumns(t(s, dir, "events"),
        Seq("event_type", "user_id", "props")).orderBy("col_name"),
      // profile_columns twin: same canonical-string census per column
      """WITH a AS (SELECT CAST(event_type AS VARCHAR) AS v FROM events),
        |b AS (SELECT CAST(props AS VARCHAR) AS v FROM events),
        |c AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events)
        |SELECT 'event_type' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) - count(v) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
        |  min(v) AS min_s, max(v) AS max_s FROM a
        |UNION ALL
        |SELECT 'props', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(v) AS BIGINT),
        |  CAST(count(DISTINCT v) AS BIGINT), min(v), max(v) FROM b
        |UNION ALL
        |SELECT 'user_id', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(v) AS BIGINT),
        |  CAST(count(DISTINCT v) AS BIGINT), min(v), max(v) FROM c
        |ORDER BY col_name""".stripMargin),

    // the profiler's cardinality column at KMV sketch cost — even the
    // estimate is hash-checked (k smallest reproducible hashes)
    QueryDef("profile_columns_sketch", (s, dir) =>
      Relational.profileColumnsSketch(t(s, dir, "events"),
        Seq("event_type", "user_id", "props")).orderBy("col_name"),
      // profile_columns_sketch twin: the same k smallest reproducible
      // hashes per column, so even the estimate hash-matches
      s"""${duckKmvColumnProfile("event_type")}
         |UNION ALL
         |${duckKmvColumnProfile("props")}
         |UNION ALL
         |${duckKmvColumnProfile("user_id")}
         |ORDER BY col_name""".stripMargin),

    // CHECK-constraint census in ONE narrow scan (all predicates share
    // the aggregate); SQL CHECK null semantics — FALSE violates, NULL
    // passes. value_under_100 is the intentionally-violated one.
    QueryDef("constraint_audit", (s, dir) =>
      Relational.constraintAudit(t(s, dir, "events"), Seq(
        "value_nonnegative" -> "value >= 0",
        "known_event_type" ->
          "event_type IN ('click','error','purchase','signup','view')",
        "user_id_present" -> "user_id IS NOT NULL",
        "value_under_100" -> "value < 100"))
        .orderBy("constraint"),
      // constraint_audit twin: one row per CHECK predicate, FALSE
      // violates / NULL passes, same truncating permille
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(COALESCE(sum(CASE WHEN (value >= 0) = false
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS v1,
        |  CAST(COALESCE(sum(CASE WHEN (event_type IN
        |    ('click','error','purchase','signup','view')) = false
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS v2,
        |  CAST(COALESCE(sum(CASE WHEN (user_id IS NOT NULL) = false
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS v3,
        |  CAST(COALESCE(sum(CASE WHEN (value < 100) = false
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS v4
        |  FROM events)
        |SELECT c.constraint, t.n_rows, c.n_violations,
        |  CASE WHEN t.n_rows > 0
        |    THEN n_violations * 1000 // t.n_rows END AS violations_permille
        |FROM t, LATERAL (VALUES
        |  ('value_nonnegative', v1), ('known_event_type', v2),
        |  ('user_id_present', v3), ('value_under_100', v4))
        |  AS c("constraint", n_violations)
        |ORDER BY c.constraint""".stripMargin),

    // per-source event-time freshness: newest event per feed vs the
    // corpus newest, integer microseconds — the stopped-feed alarm
    QueryDef("lateness_audit", (s, dir) =>
      Sessions.latenessAudit(t(s, dir, "events"))
        .orderBy("event_type"),
      // lateness_audit twin: per-source max event time vs the corpus
      // max, integer microseconds
      """WITH per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
        |  FROM events GROUP BY event_type),
        |top AS (SELECT max(max_ts_us) AS t FROM per)
        |SELECT per.event_type, per.n, per.max_ts_us,
        |  CAST(top.t - per.max_ts_us AS BIGINT) AS lag_us
        |FROM per, top ORDER BY event_type""".stripMargin),

    // per-group OLS slope of a metric over event time, exact DECIMAL
    // moment sums + sign-correct floored micro quotient — the
    // is-this-metric-drifting trend monitor
    QueryDef("trend_by_type", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("x_s", expr("CAST(ts AS LONG)"))
        .withColumn("v_milli", expr("CAST(floor(value * 1000) AS BIGINT)"))
      Relational.groupedTrend(ev, "event_type", "x_s", "v_milli")
        .orderBy("event_type")
    },
      // trend_by_type twin: same HUGEINT moment sums, same sign-correct
      // floor division
      """WITH m AS (SELECT event_type AS g,
        |    CAST(epoch_us(ts) // 1000000 AS HUGEINT) AS x,
        |    CAST(CAST(floor(value * 1000) AS BIGINT) AS HUGEINT) AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(x * y) AS sxy
        |  FROM m GROUP BY g),
        |d AS (SELECT g, n, CAST(n AS HUGEINT) * sxy - sx * sy AS num,
        |    CAST(n AS HUGEINT) * sxx - sx * sx AS den FROM a)
        |SELECT g AS event_type, n, TRY_CAST(den AS BIGINT) AS slope_den,
        |  CASE WHEN den > 0 THEN CAST(num * 1000000 // den -
        |    (CASE WHEN num < 0 AND (num * 1000000) % den <> 0
        |     THEN 1 ELSE 0 END) AS BIGINT) END AS slope_micro
        |FROM d ORDER BY event_type""".stripMargin),

    // unique-users-to-date curve at sketch cost: per-day k-min hash
    // pre-reduction (lossless for the estimate by the KMV merge
    // property), triangular day union — state is k longs per day
    QueryDef("cumulative_users", (s, dir) =>
      Sessions.cumulativeDistinct(t(s, dir, "events"))
        .orderBy("day"),
      // cumulative_users twin: the k smallest hashes over the RAW union
      // of days <= d — equal to the per-day-reduced union by the KMV
      // merge property, so the estimates hash-match
      s"""WITH dh AS (SELECT DISTINCT CAST(ts AS DATE) AS day,
         |    ${duckPolyFragment("CAST(user_id AS VARCHAR)", 31, 1000000007L)}
         |      AS h
         |  FROM events),
         |tri AS (SELECT DISTINCT d.day AS day, x.h
         |  FROM (SELECT DISTINCT day FROM dh) d
         |  JOIN dh x ON x.day <= d.day),
         |r AS (SELECT day, h,
         |    row_number() OVER (PARTITION BY day ORDER BY h) AS rn
         |  FROM tri),
         |agg AS (SELECT day, count(*) AS nd,
         |    max(CASE WHEN rn <= 64 THEN h END) AS kth
         |  FROM r GROUP BY day)
         |SELECT day,
         |  CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
         |       ELSE 63.0 * 1000000007 / kth END AS kmv_estimate
         |FROM agg ORDER BY day""".stripMargin),

    // the same curve per source — one feed's audience going flat hides
    // inside the corpus-wide curve
    QueryDef("cumulative_users_by_type", (s, dir) =>
      Sessions.cumulativeDistinctByGroup(t(s, dir, "events"))
        .orderBy("event_type", "day"),
      // cumulative_users_by_type twin: the grouped triangular union
      s"""WITH dh AS (SELECT DISTINCT event_type AS g,
         |    CAST(ts AS DATE) AS day,
         |    ${duckPolyFragment("CAST(user_id AS VARCHAR)", 31, 1000000007L)}
         |      AS h
         |  FROM events),
         |tri AS (SELECT DISTINCT d.g AS g, d.day AS day, x.h
         |  FROM (SELECT DISTINCT g, day FROM dh) d
         |  JOIN dh x ON x.g = d.g AND x.day <= d.day),
         |r AS (SELECT g, day, h,
         |    row_number() OVER (PARTITION BY g, day ORDER BY h) AS rn
         |  FROM tri),
         |agg AS (SELECT g, day, count(*) AS nd,
         |    max(CASE WHEN rn <= 64 THEN h END) AS kth
         |  FROM r GROUP BY g, day)
         |SELECT g AS event_type, day,
         |  CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
         |       ELSE 63.0 * 1000000007 / kth END AS kmv_estimate
         |FROM agg ORDER BY event_type, day""".stripMargin),

    // deterministic mergeable uniform sample: the k smallest
    // reproducible id hashes — shard/batch samples combine exactly
    QueryDef("hash_sample", (s, dir) =>
      Relational.hashSample(t(s, dir, "documents"), "doc_id", 50)
        .orderBy("doc_id"),
      // hash_sample twin: same k smallest reproducible hashes
      s"""SELECT doc_id, text, lang, source, n_chars, h AS sample_hash
         |FROM (SELECT *,
         |    ${duckPolyFragment("CAST(doc_id AS VARCHAR)", 31, 1000000007L)}
         |      AS h
         |  FROM documents ORDER BY h, doc_id LIMIT 50)
         |ORDER BY doc_id""".stripMargin),

    QueryDef("props_extract", (s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id"),
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin),
  )

  /** events with `ts` renamed to `created_at` — the fixture stand-in for the
   * reference's "deals" payload (SURVEY.md §5). */
  private def deals(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").withColumnRenamed("ts", "created_at")

  /** DuckDB fragment: one column's KMV cardinality profile (mirrors
   * Relational.profileColumnsSketch — k = 64 smallest distinct
   * polynomial hashes over the non-null canonical strings). */
  private def duckKmvColumnProfile(colName: String): String =
    s"""SELECT '$colName' AS col_name,
       |  CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
       |       ELSE 63.0 * 1000000007 / kth END AS kmv_estimate,
       |  CAST(nd AS BIGINT) AS n_hashes
       |FROM (SELECT count(*) AS nd,
       |        max(CASE WHEN rn <= 64 THEN h END) AS kth
       |      FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
       |            FROM (SELECT DISTINCT
       |                ${duckPolyFragment("v", 31, 1000000007L)} AS h
       |              FROM (SELECT DISTINCT CAST($colName AS VARCHAR) AS v
       |                    FROM events
       |                    WHERE $colName IS NOT NULL))))""".stripMargin
}
