package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Relational, Sessions}
import graft.queries.Shared._

/** Interval joins, rolling counts, distinct sketches and intake
 * pipelines. */
private[graft] object Intake {

  def defs: Seq[QueryDef] = Seq(
    QueryDef("rolling_counts", (s, dir) =>
      Sessions.rollingCounts(t(s, dir, "events"), windowSeconds = 86400)
        .orderBy("event_id"),
      // epoch_us floor-division matches Spark unix_timestamp's truncation
      """SELECT event_id, ts, user_id, event_type, value, props,
        |  CAST(count(*) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) // 1000000
        |    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_trailing
        |FROM events ORDER BY event_id""".stripMargin),

    QueryDef("interval_overlap", (s, dir) => {
      val ev = t(s, dir, "events")
      def intervals(tpe: String, idAs: String, sAs: String, eAs: String) =
        ev.filter(col("event_type") === tpe && col("event_id") % 20 === 0)
          .select(col("event_id").as(idAs), col("ts").as(sAs),
            expr("ts + INTERVAL 6 HOURS").as(eAs))
      Relational.intervalOverlapJoin(
        intervals("signup", "a_id", "a_start", "a_end"), "a_start", "a_end",
        intervals("purchase", "b_id", "b_start", "b_end"), "b_start", "b_end")
        .select("a_id", "b_id").orderBy("a_id", "b_id")
    },
      """SELECT a.event_id AS a_id, b.event_id AS b_id
        |FROM (SELECT event_id, ts AS s, ts + INTERVAL 6 HOUR AS e
        |      FROM events WHERE event_type = 'signup' AND event_id % 20 = 0) a
        |JOIN (SELECT event_id, ts AS s, ts + INTERVAL 6 HOUR AS e
        |      FROM events WHERE event_type = 'purchase' AND event_id % 20 = 0) b
        |  ON a.s < b.e AND b.s < a.e
        |ORDER BY a_id, b_id""".stripMargin),

    QueryDef("distinct_estimate", (s, dir) => {
      // KMV sketch (typed Aggregator, k=64) vs the exact distinct count,
      // per source — the UDAF surface with a deterministic, oracle-
      // checkable sketch (k smallest reproducible hashes)
      val kmv = graft.functions.KmvSketch.udaf(64)
      // (source, h) is hash-deduped FIRST (map-side combine), then both
      // aggregates run over already-distinct hashes: same result as
      // kmv + countDistinct in one agg, but without the Expand that a
      // mixed distinct/non-distinct aggregate plans (which would double
      // every exploded token row). Measured 1.8x faster at sf0.1.
      t(s, dir, "documents")
        .select(col("source"),
          explode(graft.functions.TextFns.tokens("text")).as("tok"))
        .select(col("source"), graft.functions.TextFns.polyHash("tok").as("h"))
        .distinct()
        .groupBy("source")
        .agg(kmv(col("h")).as("kmv_estimate"),
          count(lit(1)).as("n_exact"))
        .orderBy("source")
    },
      // KMV: the k-th smallest of the same reproducible hashes gives the
      // same estimate the Aggregator computes — (k-1)*mod/h_k, exact below k
      s"""WITH h AS (SELECT DISTINCT source,
         |    ${duckPolyFragment("tok", 31, 1000000007L)} AS h
         |  FROM (SELECT source, unnest($toksSql) AS tok FROM documents)),
         |r AS (SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |  FROM h),
         |agg AS (SELECT source, count(*) AS nd,
         |    max(CASE WHEN rn <= 64 THEN h END) AS kth
         |  FROM r GROUP BY source)
         |SELECT source,
         |  CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
         |       ELSE 63.0 * 1000000007 / kth END AS kmv_estimate,
         |  nd AS n_exact
         |FROM agg ORDER BY source""".stripMargin),

    QueryDef("intake_pipeline", (s, dir) =>
      Curation.intakePipeline(t(s, dir, "documents")).orderBy("doc_id"),
      // the whole intake chain recomputed: exact-dedup + quality band, then
      // 3-gram Jaccard pairs over the curated set (greedy higher-id drop),
      // then the reproducible split
      s"""WITH keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |tk AS (SELECT doc_id, text, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |       FROM documents),
         |cur AS (SELECT tk.doc_id, tk.text, tk.n_tokens FROM tk
         |  JOIN keepers ON tk.doc_id = keepers.doc_id
         |  WHERE n_tokens BETWEEN 10 AND 2000
         |    AND CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |        / greatest(length(text), 1) >= 0.5),
         |toks AS (SELECT doc_id, $toksSql AS t FROM cur),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  generate_series(1, len(t) - 2),
         |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
         |  FROM toks WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON inter.doc_a = sa.doc_id
         |  JOIN sizes sb ON inter.doc_b = sb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5)
         |SELECT doc_id, n_tokens,
         |  CASE WHEN ${duckPolyFragment("CAST(doc_id AS VARCHAR)", 31, 1000000007L)}
         |    % 100 < 10 THEN 'val' ELSE 'train' END AS split
         |FROM cur
         |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
         |ORDER BY doc_id""".stripMargin),

    // v2 recipe: curate -> per-source cap -> near-dup drop -> split ->
    // shuffle key, one composed plan
    QueryDef("intake_pipeline_v2", (s, dir) =>
      Curation.intakePipelineV2(t(s, dir, "documents")).orderBy("doc_id"),
      // the v2 chain: cur (as intake_pipeline) -> per-source cap ->
      // 3-gram Jaccard pairs over the CAPPED set (greedy higher-id drop)
      // -> split + shuffle key
      s"""WITH keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |tk AS (SELECT doc_id, text, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |       FROM documents),
         |cur AS (SELECT tk.doc_id, tk.text, tk.n_tokens FROM tk
         |  JOIN keepers ON tk.doc_id = keepers.doc_id
         |  WHERE n_tokens BETWEEN 10 AND 2000
         |    AND CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |        / greatest(length(text), 1) >= 0.5),
         |curd AS (SELECT cur.doc_id, d.source, cur.n_tokens, cur.text
         |  FROM cur JOIN documents d ON cur.doc_id = d.doc_id),
         |cap AS (SELECT doc_id, source, n_tokens, text FROM (
         |  SELECT curd.*, row_number() OVER (PARTITION BY source ORDER BY
         |    ${duckPolyFragment("CAST(doc_id AS VARCHAR)", 31, 1000000007L)},
         |    doc_id) AS rk FROM curd) WHERE rk <= 15),
         |toks AS (SELECT doc_id, $toksSql AS t FROM cap),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  generate_series(1, len(t) - 2),
         |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
         |  FROM toks WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON inter.doc_a = sa.doc_id
         |  JOIN sizes sb ON inter.doc_b = sb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5)
         |SELECT doc_id, source, n_tokens,
         |  CASE WHEN ${duckPolyFragment("CAST(doc_id AS VARCHAR)", 31, 1000000007L)}
         |    % 100 < 10 THEN 'val' ELSE 'train' END AS split,
         |  (${duckPolyFragment("CAST(doc_id AS VARCHAR) || ':e1'", 31, 1000000007L)}
         |    * 1103515245 + 12345) % 2147483647 AS shuffle_key
         |FROM cap
         |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
         |ORDER BY doc_id""".stripMargin),

    // v3 recipe: Gopher battery + bigram-LM floor swap in as the model-
    // based quality stages; full chain recomputed in one oracle CTE
    QueryDef("intake_pipeline_v3", (s, dir) =>
      Curation.intakePipelineV3(t(s, dir, "documents")).orderBy("doc_id"),
      // v3: Gopher battery (minWords=20) + LM floor (-3.4) + exact-dedup
      // winners + per-source cap + split/shuffle key — every stage reuses
      // the fragment its standalone oracle already validates
      s"""WITH $gopherBaseCte,
         |$lmScoreCtes,
         |gr AS (SELECT doc_id, n_words FROM gbase
         |  WHERE ${gopherPassSql(20, 100000)}),
         |lmk AS (SELECT doc_id, lm_score FROM lmscore
         |  WHERE lm_score >= -3.4),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY text),
         |kept AS (SELECT d.doc_id, d.source, g.n_words, l.lm_score
         |  FROM documents d
         |  JOIN gr g ON g.doc_id = d.doc_id
         |  JOIN lmk l ON l.doc_id = d.doc_id
         |  WHERE d.doc_id IN (SELECT doc_id FROM keepers)),
         |cap AS (SELECT doc_id, source, n_words, lm_score FROM (
         |  SELECT kept.*, row_number() OVER (PARTITION BY source ORDER BY
         |    ${duckPolyFragment("CAST(doc_id AS VARCHAR)", 31, 1000000007L)},
         |    doc_id) AS rk FROM kept) WHERE rk <= 15)
         |SELECT doc_id, source, n_words, lm_score,
         |  CASE WHEN ${duckPolyFragment("CAST(doc_id AS VARCHAR)", 31, 1000000007L)}
         |    % 100 < 10 THEN 'val' ELSE 'train' END AS split,
         |  (${duckPolyFragment("CAST(doc_id AS VARCHAR) || ':e1'", 31, 1000000007L)}
         |    * 1103515245 + 12345) % 2147483647 AS shuffle_key
         |FROM cap ORDER BY doc_id""".stripMargin),
  )
}
