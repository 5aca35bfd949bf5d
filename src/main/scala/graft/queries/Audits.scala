package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Curation, TextAnalysis}
import graft.queries.Shared._

/** Drift, labeling-agreement and privacy audits. */
private[graft] object Audits {

  def defs: Seq[QueryDef] = Seq(
    // two-sample KS drift between the even- and odd-user event streams
    // on the milli-unit value metric: exact BIGINT cross statistic,
    // corpus collapses to per-value counts before the ordered pass
    QueryDef("ks_drift", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("v_milli", expr("CAST(floor(value * 1000) AS BIGINT)"))
      Curation.ksDrift(ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 === 1), "v_milli")
    },
      """WITH ev AS (SELECT user_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |ca AS (SELECT v, CAST(count(*) AS BIGINT) AS ca FROM ev
        |       WHERE user_id % 2 = 0 AND v IS NOT NULL GROUP BY 1),
        |cb AS (SELECT v, CAST(count(*) AS BIGINT) AS cb FROM ev
        |       WHERE user_id % 2 = 1 AND v IS NOT NULL GROUP BY 1),
        |m AS (SELECT COALESCE(ca.v, cb.v) AS v, COALESCE(ca, 0) AS ca,
        |        COALESCE(cb, 0) AS cb
        |      FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |c AS (SELECT CAST(sum(ca) OVER w AS HUGEINT) AS cuma,
        |        CAST(sum(cb) OVER w AS HUGEINT) AS cumb FROM m
        |      WINDOW w AS (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT CAST(COALESCE(sum(ca), 0) AS BIGINT) AS n_a,
        |        CAST(COALESCE(sum(cb), 0) AS BIGINT) AS n_b,
        |        CAST(count(*) AS BIGINT) AS n_values FROM m),
        |agg AS (SELECT COALESCE(max(abs(
        |          c.cuma * t.n_b - c.cumb * t.n_a)), 0) AS dc
        |        FROM c, t)
        |SELECT t.n_a, t.n_b, t.n_values,
        |  TRY_CAST(agg.dc AS BIGINT) AS d_cross,
        |  CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN
        |    CAST(agg.dc * 1000000 // (CAST(t.n_a AS HUGEINT) * t.n_b)
        |      AS BIGINT)
        |  END AS d_micro
        |FROM t, agg""".stripMargin),

    // the same drift statistic sliced per event_type — the per-source
    // monitor shape (one bad feed hides inside the corpus-wide number);
    // grouped assembled cumulative pass, no single-task window
    QueryDef("ks_drift_by_source", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("v_milli", expr("CAST(floor(value * 1000) AS BIGINT)"))
      Curation.ksDriftByGroup(ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 === 1), "v_milli", "event_type")
        .orderBy("event_type")
    },
      """WITH ev AS (SELECT event_type AS g, user_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS v FROM events),
        |ca AS (SELECT g, v, CAST(count(*) AS BIGINT) AS ca FROM ev
        |       WHERE user_id % 2 = 0 AND v IS NOT NULL GROUP BY 1, 2),
        |cb AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cb FROM ev
        |       WHERE user_id % 2 = 1 AND v IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT COALESCE(ca.g, cb.g) AS g,
        |        COALESCE(ca.v, cb.v) AS v,
        |        COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |      FROM ca FULL OUTER JOIN cb
        |        ON ca.g = cb.g AND ca.v = cb.v),
        |c AS (SELECT g, CAST(sum(ca) OVER w AS HUGEINT) AS cuma,
        |        CAST(sum(cb) OVER w AS HUGEINT) AS cumb,
        |        CAST(sum(ca) OVER wg AS HUGEINT) AS na,
        |        CAST(sum(cb) OVER wg AS HUGEINT) AS nb FROM m
        |      WINDOW w AS (PARTITION BY g ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |      wg AS (PARTITION BY g ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND UNBOUNDED FOLLOWING)),
        |agg AS (SELECT g, CAST(max(na) AS BIGINT) AS n_a,
        |        CAST(max(nb) AS BIGINT) AS n_b,
        |        CAST(count(*) AS BIGINT) AS n_values,
        |        COALESCE(max(abs(cuma * nb - cumb * na)), 0) AS dc
        |        FROM c GROUP BY g)
        |SELECT g AS event_type, n_a, n_b, n_values,
        |  TRY_CAST(dc AS BIGINT) AS d_cross,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    CAST(dc * 1000000 // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
        |  END AS d_micro
        |FROM agg ORDER BY event_type""".stripMargin),

    // chi-square drift over a CATEGORICAL domain — the language-mix
    // monitor (KS needs an ordered domain; the category mix doesn't
    // have one); exact integer cells, DECIMAL micro statistic
    QueryDef("chi2_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.chi2Drift(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "lang")
    },
      // chi2_drift twin: same exact integer cells, same per-cell floor
      // then micro-floor quantization (HUGEINT mirrors DECIMAL(38,0))
      """WITH d AS (SELECT doc_id, lang FROM documents
        |           WHERE lang IS NOT NULL),
        |ca AS (SELECT lang AS c, CAST(count(*) AS HUGEINT) AS ca FROM d
        |       WHERE doc_id % 2 = 0 GROUP BY 1),
        |cb AS (SELECT lang AS c, CAST(count(*) AS HUGEINT) AS cb FROM d
        |       WHERE doc_id % 2 = 1 GROUP BY 1),
        |m AS (SELECT COALESCE(ca.c, cb.c) AS c,
        |        COALESCE(ca, CAST(0 AS HUGEINT)) AS ca,
        |        COALESCE(cb, CAST(0 AS HUGEINT)) AS cb
        |      FROM ca FULL OUTER JOIN cb ON ca.c = cb.c),
        |t AS (SELECT CAST(COALESCE(sum(ca), 0) AS HUGEINT) AS na,
        |        CAST(COALESCE(sum(cb), 0) AS HUGEINT) AS nb,
        |        CAST(count(*) AS BIGINT) AS n_cells FROM m),
        |s AS (SELECT COALESCE(sum(
        |        ((m.ca * t.nb - m.cb * t.na) * (m.ca * t.nb - m.cb * t.na))
        |          // (m.ca + m.cb)), 0) AS ss
        |      FROM m, t)
        |SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
        |  t.n_cells,
        |  CASE WHEN t.na > 0 AND t.nb > 0 THEN
        |    CAST((s.ss * 1000000) // (t.na * t.nb) AS BIGINT)
        |  END AS chi2_micro
        |FROM t, s""".stripMargin),

    // the same category-mix statistic sliced per source — one upstream
    // feed's language mix going bad hides inside the corpus-wide number
    QueryDef("chi2_drift_by_source", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.chi2DriftByGroup(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "lang", "source")
        .orderBy("source")
    },
      // chi2_drift_by_source twin: per-group totals joined back, same
      // per-cell arithmetic within each group
      """WITH d AS (SELECT doc_id, source, lang FROM documents
        |           WHERE lang IS NOT NULL),
        |ca AS (SELECT source AS g, lang AS c,
        |         CAST(count(*) AS HUGEINT) AS ca FROM d
        |       WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |cb AS (SELECT source AS g, lang AS c,
        |         CAST(count(*) AS HUGEINT) AS cb FROM d
        |       WHERE doc_id % 2 = 1 GROUP BY 1, 2),
        |m AS (SELECT COALESCE(ca.g, cb.g) AS g, COALESCE(ca.c, cb.c) AS c,
        |        COALESCE(ca, CAST(0 AS HUGEINT)) AS ca,
        |        COALESCE(cb, CAST(0 AS HUGEINT)) AS cb
        |      FROM ca FULL OUTER JOIN cb
        |        ON ca.g = cb.g AND ca.c = cb.c),
        |t AS (SELECT g, CAST(sum(ca) AS HUGEINT) AS na,
        |        CAST(sum(cb) AS HUGEINT) AS nb FROM m GROUP BY g),
        |s AS (SELECT m.g, CAST(count(*) AS BIGINT) AS n_cells,
        |        max(t.na) AS na, max(t.nb) AS nb,
        |        COALESCE(sum(
        |          ((m.ca * t.nb - m.cb * t.na) *
        |           (m.ca * t.nb - m.cb * t.na)) // (m.ca + m.cb)), 0) AS ss
        |      FROM m JOIN t ON m.g = t.g GROUP BY m.g)
        |SELECT g AS source, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_b, n_cells,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    CAST((ss * 1000000) // (na * nb) AS BIGINT)
        |  END AS chi2_micro
        |FROM s ORDER BY source""".stripMargin),

    // per-category attribution frame behind the chi2 scalar — WHICH
    // category moved, with exact cell counts and micro contributions
    QueryDef("chi2_cells", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.chi2Cells(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "lang")
        .orderBy("cat")
    },
      // chi2_cells twin: same merged cells and per-cell floored term,
      // emitted per category instead of summed
      """WITH d AS (SELECT doc_id, lang FROM documents
        |           WHERE lang IS NOT NULL),
        |ca AS (SELECT lang AS c, CAST(count(*) AS HUGEINT) AS ca FROM d
        |       WHERE doc_id % 2 = 0 GROUP BY 1),
        |cb AS (SELECT lang AS c, CAST(count(*) AS HUGEINT) AS cb FROM d
        |       WHERE doc_id % 2 = 1 GROUP BY 1),
        |m AS (SELECT COALESCE(ca.c, cb.c) AS c,
        |        COALESCE(ca, CAST(0 AS HUGEINT)) AS ca,
        |        COALESCE(cb, CAST(0 AS HUGEINT)) AS cb
        |      FROM ca FULL OUTER JOIN cb ON ca.c = cb.c),
        |t AS (SELECT CAST(COALESCE(sum(ca), 0) AS HUGEINT) AS na,
        |        CAST(COALESCE(sum(cb), 0) AS HUGEINT) AS nb FROM m)
        |SELECT m.c AS cat, CAST(m.ca AS BIGINT) AS n_a_cat,
        |  CAST(m.cb AS BIGINT) AS n_b_cat,
        |  CASE WHEN t.na > 0 AND t.nb > 0 THEN
        |    CAST((((m.ca * t.nb - m.cb * t.na) *
        |           (m.ca * t.nb - m.cb * t.na) // (m.ca + m.cb))
        |          * 1000000) // (t.na * t.nb) AS BIGINT)
        |  END AS contrib_micro
        |FROM m, t ORDER BY cat""".stripMargin),

    // the same scorer evaluated PER SOURCE — deployment gates check the
    // worst slice, not the corpus average; grouped assembled cumulative
    // pass, no single-task window
    QueryDef("classifier_auc_by_source", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis.langId(docs)
        .select(col("doc_id"), col("c_en"))
        .join(docs.select(col("doc_id"), col("source"),
          (col("lang") === lit("en")).as("is_en")), "doc_id")
      Curation.classifierAucByGroup(scored, "c_en", "is_en", "source")
        .orderBy("source")
    },
      s"""WITH sc AS (
         |  SELECT source AS g,
         |    CAST(len(list_filter($toksSql,
         |      w -> list_contains(['the','and','of','is'], w))) AS BIGINT) AS s,
         |    CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
         |         ELSE CAST(0 AS BIGINT) END AS y
         |  FROM documents),
         |gr AS (SELECT g, s, CAST(sum(y) AS BIGINT) AS p,
         |    CAST(sum(1 - y) AS BIGINT) AS q
         |  FROM sc GROUP BY 1, 2),
         |c AS (SELECT g, p, q,
         |    CAST(COALESCE(sum(q) OVER (PARTITION BY g ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cq
         |  FROM gr),
         |a AS (SELECT g, CAST(sum(p) AS BIGINT) AS n_pos,
         |    CAST(sum(q) AS BIGINT) AS n_neg,
         |    CAST(sum(p * q) AS BIGINT) AS n_tie_pairs,
         |    CAST(sum(p * (2 * cq + q)) AS BIGINT) AS num
         |  FROM c GROUP BY g)
         |SELECT g AS source, n_pos, n_neg, n_tie_pairs,
         |  CASE WHEN n_pos > 0 AND n_neg > 0
         |       THEN CAST(num * 1000000 // (2 * n_pos * n_neg) AS BIGINT)
         |  END AS auc_micro
         |FROM a ORDER BY source""".stripMargin),

    // Cohen's kappa between two deterministic length raters (same
    // metric, different thresholds -> high but imperfect agreement);
    // exact rational (kappa_num, kappa_den) + floored micro quotient
    QueryDef("annotator_agreement", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("r1",
          when(col("n_chars") >= 300, "long").otherwise("short"))
        .withColumn("r2",
          when(length(col("text")) >= 280, "long").otherwise("short"))
      Curation.annotatorAgreement(d, "r1", "r2")
    },
      """WITH l AS (SELECT
        |    CASE WHEN n_chars >= 300 THEN 'long' ELSE 'short' END AS r1,
        |    CASE WHEN length(text) >= 280 THEN 'long' ELSE 'short' END AS r2
        |  FROM documents),
        |cell AS (SELECT r1, r2, CAST(count(*) AS BIGINT) AS n
        |         FROM l GROUP BY 1, 2),
        |m1 AS (SELECT r1, CAST(sum(n) AS BIGINT) AS m1 FROM cell GROUP BY 1),
        |m2 AS (SELECT r2, CAST(sum(n) AS BIGINT) AS m2 FROM cell GROUP BY 1),
        |s AS (SELECT COALESCE(sum(CAST(m1.m1 AS HUGEINT) * m2.m2), 0)
        |        AS S FROM m1 JOIN m2 ON m1.r1 = m2.r2),
        |t AS (SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) AS n_items,
        |        CAST(COALESCE(sum(CASE WHEN r1 = r2 THEN n ELSE 0 END), 0)
        |          AS BIGINT) AS n_agree FROM cell),
        |r AS (SELECT t.n_items, t.n_agree,
        |        CAST(t.n_agree AS HUGEINT) * t.n_items - s.S AS numh,
        |        CAST(t.n_items AS HUGEINT) * t.n_items - s.S AS denh
        |      FROM t, s)
        |SELECT n_items, n_agree,
        |  CASE WHEN n_items > 0
        |       THEN CAST(CAST(n_agree AS HUGEINT) * 1000000 // n_items
        |         AS BIGINT)
        |  END AS po_micro,
        |  TRY_CAST(numh AS BIGINT) AS kappa_num,
        |  TRY_CAST(denh AS BIGINT) AS kappa_den,
        |  CASE WHEN denh <> 0 THEN
        |    CAST(numh * 1000000 // denh -
        |      (CASE WHEN numh < 0 AND (numh * 1000000) % denh <> 0
        |       THEN 1 ELSE 0 END) AS BIGINT)
        |  END AS kappa_micro
        |FROM r""".stripMargin),

    // k-anonymity over (event_type, user cohort) quasi-identifiers at
    // k = 8: one hash-agg to groups, re-identifiable mass in permille
    QueryDef("k_anonymity", (s, dir) =>
      Curation.kAnonymityAudit(
        t(s, dir, "events").withColumn("cohort", col("user_id") % 200),
        Seq("event_type", "cohort"), k = 8L),
      """WITH g AS (SELECT event_type, user_id % 200 AS cohort,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |a AS (SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(COALESCE(sum(CASE WHEN n < 8 THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_below_k,
        |    CAST(COALESCE(sum(CASE WHEN n < 8 THEN n ELSE 0 END), 0)
        |      AS BIGINT) AS rows_at_risk FROM g)
        |SELECT n_rows, n_groups, n_below_k, rows_at_risk,
        |  CASE WHEN n_rows > 0
        |       THEN CAST(rows_at_risk * 1000 // n_rows AS BIGINT)
        |  END AS risk_permille
        |FROM a""".stripMargin),

    // l-diversity over (lang, 100-char length band) with `source` as the
    // sensitive attribute at l = 3: the homogeneity-attack companion to
    // k_anonymity (a big group whose rows all share one source still
    // leaks membership)
    QueryDef("l_diversity", (s, dir) =>
      Curation.lDiversityAudit(
        t(s, dir, "documents")
          .withColumn("len_band", expr("n_chars DIV 100")),
        Seq("lang", "len_band"), "source", l = 3L),
      """WITH g AS (SELECT lang, n_chars // 100 AS len_band,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT source) AS BIGINT) AS d
        |  FROM documents GROUP BY 1, 2),
        |a AS (SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(COALESCE(sum(CASE WHEN d < 3 THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_below_l,
        |    CAST(COALESCE(sum(CASE WHEN d < 3 THEN n ELSE 0 END), 0)
        |      AS BIGINT) AS rows_at_risk FROM g)
        |SELECT n_rows, n_groups, n_below_l, rows_at_risk,
        |  CASE WHEN n_rows > 0
        |       THEN CAST(rows_at_risk * 1000 // n_rows AS BIGINT)
        |  END AS risk_permille
        |FROM a""".stripMargin),

    // t-closeness over the same quasi-identifier frame: variational
    // distance of each class's source distribution from the global one,
    // integer-exact (cross-multiplied |·| numerators, DECIMAL DIV).
    // t = 0.45 splits the sf0.01 class population ~16/14 flagged/clear
    QueryDef("t_closeness", (s, dir) =>
      Curation.tClosenessAudit(
        t(s, dir, "documents")
          .withColumn("len_band", expr("n_chars DIV 100")),
        Seq("lang", "len_band"), "source", tMicro = 450000L),
      // t_closeness: the same integer-exact variational-distance identity
      // as the Scala twin — per class Σ|n_cs·N − n_s·N_c| over present
      // sources plus (N − Σ_present n_s)·N_c for the absent remainder,
      // dist_micro = num·1e6 // (2·N_c·N) in HUGEINT, no doubles anywhere
      """WITH cs AS (SELECT lang, n_chars // 100 AS len_band, source,
        |    CAST(count(*) AS BIGINT) AS ncs
        |  FROM documents GROUP BY 1, 2, 3),
        |g AS (SELECT source, CAST(sum(ncs) AS BIGINT) AS ns
        |      FROM cs GROUP BY source),
        |tot AS (SELECT CAST(COALESCE(sum(ns), 0) AS BIGINT) AS N FROM g),
        |cw AS (SELECT cs.*, CAST(sum(ncs) OVER (
        |         PARTITION BY lang, len_band) AS BIGINT) AS nc FROM cs),
        |cls AS (SELECT cw.lang, cw.len_band,
        |    max(cw.nc) AS nc, max(tot.N) AS N,
        |    sum(abs(CAST(cw.ncs AS HUGEINT) * tot.N
        |            - CAST(g.ns AS HUGEINT) * cw.nc)) AS pres,
        |    CAST(sum(g.ns) AS BIGINT) AS gsum
        |  FROM cw JOIN g USING (source) CROSS JOIN tot
        |  GROUP BY 1, 2),
        |d AS (SELECT nc,
        |    CAST((pres + CAST(N - gsum AS HUGEINT) * nc) * 1000000
        |         // (2 * CAST(nc AS HUGEINT) * N) AS BIGINT) AS dist_micro
        |  FROM cls)
        |SELECT CAST(COALESCE(sum(nc), 0) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(COALESCE(sum(CASE WHEN dist_micro > 450000 THEN 1
        |    ELSE 0 END), 0) AS BIGINT) AS n_above_t,
        |  CAST(COALESCE(sum(CASE WHEN dist_micro > 450000 THEN nc
        |    ELSE 0 END), 0) AS BIGINT) AS rows_at_risk,
        |  CASE WHEN COALESCE(sum(nc), 0) > 0
        |       THEN CAST(COALESCE(sum(CASE WHEN dist_micro > 450000
        |         THEN nc ELSE 0 END), 0) * 1000 // sum(nc) AS BIGINT)
        |  END AS risk_permille,
        |  CAST(max(dist_micro) AS BIGINT) AS max_dist_micro
        |FROM d""".stripMargin),

    // the combined k/l/t privacy gate re-derived from the
    // (classes × domain)-bounded counts frame — the exact computation
    // the streaming privacyAuditSink folds per micro-batch
    QueryDef("privacy_audit", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("len_band", expr("n_chars DIV 100"))
      Curation.privacyAuditFromCounts(
        docs.groupBy(col("lang"), col("len_band"), col("source"))
          .agg(count(lit(1)).as("n")),
        Seq("lang", "len_band"), "source", "n",
        k = 8L, l = 3L, tMicro = 450000L)
    },
      // privacy_audit: the combined k/l/t gate over the same counts frame
      // — k-anonymity (class size), l-diversity (distinct sensitive), and
      // the t-closeness distance of the t_closeness oracle, one row
      """WITH cs AS (SELECT lang, n_chars // 100 AS len_band, source,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |g AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns
        |      FROM cs GROUP BY source),
        |tot AS (SELECT CAST(COALESCE(sum(ns), 0) AS BIGINT) AS N FROM g),
        |cw AS (SELECT cs.*, CAST(sum(n) OVER (
        |         PARTITION BY lang, len_band) AS BIGINT) AS nc FROM cs),
        |cls AS (SELECT cw.lang, cw.len_band,
        |    max(cw.nc) AS nc,
        |    CAST(count(DISTINCT cw.source) AS BIGINT) AS dv,
        |    max(tot.N) AS N,
        |    sum(abs(CAST(cw.n AS HUGEINT) * tot.N
        |            - CAST(g.ns AS HUGEINT) * cw.nc)) AS pres,
        |    CAST(sum(g.ns) AS BIGINT) AS gsum
        |  FROM cw JOIN g USING (source) CROSS JOIN tot
        |  GROUP BY 1, 2),
        |d AS (SELECT nc, dv,
        |    CAST((pres + CAST(N - gsum AS HUGEINT) * nc) * 1000000
        |         // (2 * CAST(nc AS HUGEINT) * N) AS BIGINT) AS dist_micro
        |  FROM cls)
        |SELECT CAST(COALESCE(sum(nc), 0) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(COALESCE(sum(CASE WHEN nc < 8 THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS n_below_k,
        |  CAST(COALESCE(sum(CASE WHEN nc < 8 THEN nc ELSE 0 END), 0)
        |    AS BIGINT) AS rows_below_k,
        |  CAST(COALESCE(sum(CASE WHEN dv < 3 THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS n_below_l,
        |  CAST(COALESCE(sum(CASE WHEN dv < 3 THEN nc ELSE 0 END), 0)
        |    AS BIGINT) AS rows_below_l,
        |  CAST(COALESCE(sum(CASE WHEN dist_micro > 450000 THEN 1
        |    ELSE 0 END), 0) AS BIGINT) AS n_above_t,
        |  CAST(COALESCE(sum(CASE WHEN dist_micro > 450000 THEN nc
        |    ELSE 0 END), 0) AS BIGINT) AS rows_above_t,
        |  CAST(max(dist_micro) AS BIGINT) AS max_dist_micro
        |FROM d""".stripMargin),
  )
}
