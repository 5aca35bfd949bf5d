package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Curation, TextAnalysis}
import graft.queries.Shared._

/** Per-document text statistics and classifier evaluation. */
private[graft] object TextStats {

  def defs: Seq[QueryDef] = Seq(
    QueryDef("token_stats", (s, dir) =>
      TextAnalysis.tokenStats(t(s, dir, "documents")).orderBy("doc_id"),
      // NB: list_sum returns HUGEINT in DuckDB — cast to BIGINT so the
      // comparator sees int64 on both sides (pandas renders HUGEINT as float64)
      s"""SELECT doc_id,
         |  len(t) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(COALESCE(list_sum(list_transform(t, w -> CAST(length(w) AS BIGINT))), 0)
         |       AS BIGINT) AS sum_token_len,
         |  CASE WHEN len(t) > 0 THEN
         |    round(COALESCE(list_sum(list_transform(t, w -> CAST(length(w) AS BIGINT))), 0)
         |          / CAST(len(t) AS DOUBLE), 4)
         |  END AS avg_token_len
         |FROM (SELECT doc_id, text, $toksSql AS t FROM documents)
         |ORDER BY doc_id""".stripMargin),

    QueryDef("bpe_token_stats", (s, dir) =>
      TextAnalysis.bpeTokenStats(t(s, dir, "documents")).orderBy("doc_id"),
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text,
         |    '''(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]{1,3}|[^a-zA-Z0-9''\\s]+'))
         |    AS BIGINT) AS n_bpe,
         |  CAST(len($toksSql) AS BIGINT) AS n_words,
         |  CASE WHEN len($toksSql) > 0 THEN
         |    CAST(len(regexp_extract_all(text,
         |      '''(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]{1,3}|[^a-zA-Z0-9''\\s]+'))
         |      AS DOUBLE) / len($toksSql)
         |  END AS tokens_per_word
         |FROM documents ORDER BY doc_id""".stripMargin),

    QueryDef("quality_score", (s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents")).orderBy("doc_id"),
      s"$qualityScoreSql\nORDER BY doc_id"),

    // character-distribution Shannon entropy (micro-bits) per document —
    // the two-tailed junk filter, computed by the native codegen'd
    // graft_char_entropy expression inside the scan projection
    QueryDef("char_entropy", (s, dir) =>
      TextAnalysis.charEntropy(t(s, dir, "documents")).orderBy("doc_id"),
      // char_entropy: per-codepoint-class micro-floored ln terms, BIGINT
      // sums — the same expression association as the native
      // graft_char_entropy expression ((1e6 · (cnt/n)) · (ln(n/cnt)/ln 2))
      """WITH ch AS (SELECT doc_id, substr(text, i, 1) AS c FROM (
        |  SELECT doc_id, text,
        |         unnest(generate_series(1, len(text))) AS i
        |  FROM documents)),
        |cnt AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
        |        FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n
        |        FROM cnt GROUP BY doc_id),
        |term AS (SELECT cnt.doc_id,
        |    CAST(floor((1000000 * (CAST(k AS DOUBLE) / n))
        |               * (ln(CAST(n AS DOUBLE) / k) / ln(2.0)))
        |      AS BIGINT) AS t
        |  FROM cnt JOIN tot ON tot.doc_id = cnt.doc_id)
        |SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_cps,
        |  CAST(COALESCE(s.e, 0) AS BIGINT) AS entropy_micro
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, sum(t) AS e FROM term GROUP BY doc_id) s
        |  ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    QueryDef("lang_id", (s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents")).orderBy("doc_id"),
      s"""SELECT doc_id, c_en, c_fr, c_es, c_de,
         |  CASE WHEN g = 0 THEN 'und'
         |       WHEN c_en = g THEN 'en'
         |       WHEN c_fr = g THEN 'fr'
         |       WHEN c_es = g THEN 'es'
         |       WHEN c_de = g THEN 'de'
         |  END AS lang_pred
         |FROM (
         |  SELECT doc_id, c_en, c_fr, c_es, c_de,
         |         greatest(c_en, c_fr, c_es, c_de) AS g
         |  FROM (
         |    SELECT doc_id,
         |      len(list_filter(t, w -> list_contains(['the','and','of','is'], w))) AS c_en,
         |      len(list_filter(t, w -> list_contains(['le','la','et','les'], w))) AS c_fr,
         |      len(list_filter(t, w -> list_contains(['el','los','y','las'], w))) AS c_es,
         |      len(list_filter(t, w -> list_contains(['der','die','und','das'], w))) AS c_de
         |    FROM (SELECT doc_id, $toksSql AS t FROM documents)))
         |ORDER BY doc_id""".stripMargin),

    // Mann–Whitney ROC AUC of the English marker-count score against the
    // ground-truth lang label: the eval gate run before any heuristic
    // scorer is allowed to drop corpus mass
    QueryDef("classifier_auc", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis.langId(docs)
        .select(col("doc_id"), col("c_en"))
        .join(docs.select(col("doc_id"),
          (col("lang") === lit("en")).as("is_en")), "doc_id")
      Curation.classifierAuc(scored, "c_en", "is_en")
    },
      // Mann–Whitney AUC in BIGINT: collapse to distinct scores, cumulative
      // negatives-below via window, wins/ties identity; same integer DIV
      s"""WITH sc AS (
         |  SELECT CAST(len(list_filter($toksSql,
         |      w -> list_contains(['the','and','of','is'], w))) AS BIGINT) AS s,
         |    CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
         |         ELSE CAST(0 AS BIGINT) END AS y
         |  FROM documents),
         |g AS (SELECT s, CAST(sum(y) AS BIGINT) AS p,
         |    CAST(sum(1 - y) AS BIGINT) AS q
         |  FROM sc GROUP BY 1),
         |c AS (SELECT p, q,
         |    CAST(COALESCE(sum(q) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cq
         |  FROM g),
         |a AS (SELECT CAST(sum(p) AS BIGINT) AS n_pos,
         |    CAST(sum(q) AS BIGINT) AS n_neg,
         |    CAST(sum(p * q) AS BIGINT) AS n_tie_pairs,
         |    CAST(sum(p * (2 * cq + q)) AS BIGINT) AS num
         |  FROM c)
         |SELECT n_pos, n_neg, n_tie_pairs,
         |  CASE WHEN n_pos > 0 AND n_neg > 0
         |       THEN CAST(num * 1000000 // (2 * n_pos * n_neg) AS BIGINT)
         |  END AS auc_micro
         |FROM a""".stripMargin),

    // reliability diagram for the same scorer: per-bin positive rates in
    // integer permille — ranking power (AUC) vs magnitude calibration
    QueryDef("calibration_curve", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis.langId(docs)
        .select(col("doc_id"), col("c_en"))
        .join(docs.select(col("doc_id"),
          (col("lang") === lit("en")).as("is_en")), "doc_id")
      Curation.calibrationCurve(scored, "c_en", "is_en", buckets = 10)
        .orderBy("bin")
    },
      // equal-width integer bins over the observed score range; bin stats
      // in BIGINT with the same DIV arithmetic
      s"""WITH sc AS (
         |  SELECT CAST(len(list_filter($toksSql,
         |      w -> list_contains(['the','and','of','is'], w))) AS BIGINT) AS s,
         |    CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
         |         ELSE CAST(0 AS BIGINT) END AS y
         |  FROM documents),
         |b AS (SELECT min(s) AS lo, max(s) AS hi FROM sc)
         |SELECT CAST((s - lo) * 10 // (hi - lo + 1) AS BIGINT) AS bin,
         |  min(s) AS score_lo, max(s) AS score_hi,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(sum(y) * 1000 // count(*) AS BIGINT) AS pos_permille
         |FROM sc, b GROUP BY 1 ORDER BY bin""".stripMargin),

    QueryDef("fingerprint", (s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents")).orderBy("doc_id"),
      s"""SELECT doc_id,
         |  ${polyHashSql("text")} AS fp_text,
         |  ${polyHashSql("vocab")} AS fp_vocab
         |FROM (SELECT doc_id, text,
         |        array_to_string(list_sort(list_distinct($toksSql)), ' ') AS vocab
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin),
  )
}
