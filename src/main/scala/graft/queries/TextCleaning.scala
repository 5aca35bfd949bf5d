package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Curation, TextAnalysis}
import graft.queries.Shared._

/** Text cleaning, redaction, Unicode normalization and encoding
 * audits. */
private[graft] object TextCleaning {

  def defs: Seq[QueryDef] = Seq(
    QueryDef("tfidf_topterms", (s, dir) =>
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), k = 5)
        .orderBy("doc_id", "rank"),
      s"""WITH tf AS (
         |  SELECT doc_id, t AS term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($toksSql) AS t FROM documents)
         |  GROUP BY doc_id, t),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
         |SELECT doc_id, term, tf, df, score, rank FROM (
         |  SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
         |    tf.tf / CAST(dfx.df AS DOUBLE) AS score,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY tf.tf / CAST(dfx.df AS DOUBLE) DESC, tf.term) AS rank
         |  FROM tf JOIN dfx ON tf.term = dfx.term)
         |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin),

    QueryDef("clean_text", (s, dir) =>
      TextAnalysis.cleanText(t(s, dir, "documents")).orderBy("doc_id"),
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    lower(text),
        |    'https?://[^ \t\n]+', '<url>', 'g'),
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+', '<email>', 'g'),
        |    '[0-9]+', '<num>', 'g'),
        |    '[ \t\n]+', ' ', 'g')) AS clean
        |FROM documents ORDER BY doc_id""".stripMargin),

    // the fixture corpus contains no real PII, so the contract query
    // plants deterministic doc_id-derived contact details in every row
    // (identically in the oracle SQL) — the redaction paths are genuinely
    // exercised and the counts/tags hash-checked, not vacuously green
    QueryDef("pii_redact", (s, dir) =>
      TextAnalysis.piiRedact(
        t(s, dir, "documents").withColumn("text",
          concat(col("text"),
            lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com from 10.0."),
            (col("doc_id") % 256).cast("string"),
            lit(".9 call 555 010 "),
            (col("doc_id") % 9000 + 1000).cast("string"))))
        .orderBy("doc_id"),
      // pii_redact twin: same deterministic PII planting, same pattern table,
      // same application order (each count runs on the text as it stood
      // before that category's replacement)
      """WITH aug AS (SELECT doc_id,
        |  text || ' contact u' || CAST(doc_id AS VARCHAR) ||
        |  '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
        |  '.9 call 555 010 ' || CAST(doc_id % 9000 + 1000 AS VARCHAR) AS t
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_email,
        |  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g') AS t FROM aug),
        |s2 AS (SELECT doc_id, n_email,
        |  CAST(len(regexp_extract_all(t, 'https?://[^ \t\n]+')) AS BIGINT)
        |    AS n_url,
        |  regexp_replace(t, 'https?://[^ \t\n]+', '<URL>', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, n_email, n_url,
        |  CAST(len(regexp_extract_all(t,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT)
        |    AS n_ip,
        |  regexp_replace(t, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
        |    '<IP>', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id, n_email, n_url, n_ip,
        |  CAST(len(regexp_extract_all(t, '\+?[0-9][0-9() .-]{6,}[0-9]'))
        |    AS BIGINT) AS n_phone,
        |  regexp_replace(t, '\+?[0-9][0-9() .-]{6,}[0-9]', '<PHONE>', 'g')
        |    AS t FROM s3)
        |SELECT doc_id, n_email, n_url, n_ip, n_phone, t AS clean
        |FROM s4 ORDER BY doc_id""".stripMargin),

    // unicode NFC canonical composition (intake stage zero)
    QueryDef("nfc_normalize", (s, dir) =>
      TextAnalysis.normalizeUnicode(t(s, dir, "documents"))
        .orderBy("doc_id"),
      """SELECT doc_id, nfc_normalize(text) AS text_nfc,
        |  nfc_normalize(text) <> text AS changed
        |FROM documents ORDER BY doc_id""".stripMargin),

    // per-source encoding health: non-ASCII mass, surviving U+FFFD
    // replacement chars, leaked C0 controls — the transcoding-break
    // alarm (a non-ASCII spike in an ASCII source = upstream breakage)
    QueryDef("encoding_audit", (s, dir) =>
      TextAnalysis.encodingAudit(t(s, dir, "documents"))
        .orderBy("source"),
      // encoding_audit twin: RE2 classes are code-point-exact over UTF-8,
      // mirroring the Spark BMP counting
      """WITH m AS (SELECT source, length(text) AS len,
        |    length(text) - length(regexp_replace(text,
        |      '[^\x00-\x7F]', '', 'g')) AS na,
        |    length(text) - length(regexp_replace(text,
        |      '\x{FFFD}', '', 'g')) AS re,
        |    length(text) - length(regexp_replace(text,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS ct
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(sum(len), 0) AS BIGINT) AS n_chars,
        |  CAST(COALESCE(sum(CASE WHEN na > 0 THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS non_ascii_docs,
        |  CAST(COALESCE(sum(na), 0) AS BIGINT) AS non_ascii_chars,
        |  CAST(COALESCE(sum(re), 0) AS BIGINT) AS replacement_chars,
        |  CAST(COALESCE(sum(ct), 0) AS BIGINT) AS control_chars,
        |  CASE WHEN sum(len) > 0 THEN
        |    CAST((sum(len) - sum(na)) * 1000 // sum(len) AS BIGINT)
        |  END AS ascii_permille
        |FROM m GROUP BY source ORDER BY source""".stripMargin),

    // corpus-relative quality selection: keep percentile band [10, 90]
    QueryDef("quality_band", (s, dir) =>
      Curation.qualityBand(t(s, dir, "documents"), minPct = 10.0,
        maxPct = 90.0).orderBy("doc_id"),
      // quality_band: percentile of the same score, (score, id) ordering
      s"""WITH qs AS ($qualityScoreSql),
         |pr AS (SELECT doc_id, quality_score,
         |  round(percent_rank() OVER (ORDER BY quality_score, doc_id) * 100,
         |    6) AS pct_rank FROM qs)
         |SELECT doc_id, quality_score, pct_rank FROM pr
         |WHERE pct_rank >= 10 AND pct_rank <= 90
         |ORDER BY doc_id""".stripMargin),
  )
}
