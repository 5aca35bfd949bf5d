package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Curation, TextAnalysis}
import graft.queries.Shared._

/** Train/validation splits, split leakage, and n-gram corpus
 * statistics. */
private[graft] object Splits {

  def defs: Seq[QueryDef] = Seq(
    QueryDef("train_val_split", (s, dir) =>
      Curation.trainValSplit(t(s, dir, "documents"), valPct = 10)
        .select("doc_id", "split").orderBy("doc_id"),
      s"""SELECT doc_id,
         |  CASE WHEN ${duckPolyFragment("CAST(doc_id AS VARCHAR)", 31, 1000000007L)}
         |    % 100 < 10 THEN 'val' ELSE 'train' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin),

    // deterministic k-fold assignment (cross-validation protocol)
    QueryDef("kfold_split", (s, dir) =>
      Curation.kfoldSplit(t(s, dir, "documents"), k = 5)
        .select("doc_id", "fold").orderBy("doc_id"),
      s"""SELECT doc_id,
         |  CAST(${duckPolyFragment("CAST(doc_id AS VARCHAR)", 31, 1000000007L)}
         |    % 5 AS BIGINT) AS fold
         |FROM documents ORDER BY doc_id""".stripMargin),

    // stratification QA of the fold assignment: per (fold, lang), the
    // within-fold class share vs the corpus share in integer permille
    QueryDef("fold_balance", (s, dir) =>
      Curation.foldBalance(
        Curation.kfoldSplit(t(s, dir, "documents"), k = 5),
        "fold", "lang").orderBy("fold", "lang"),
      // fold_balance twin: same hash fold assignment, same truncating
      // permille arithmetic over the cell frame
      s"""WITH f AS (SELECT
         |    CAST(${duckPolyFragment("CAST(doc_id AS VARCHAR)", 31, 1000000007L)}
         |      % 5 AS BIGINT) AS fold, lang FROM documents),
         |cell AS (SELECT fold, lang, CAST(count(*) AS BIGINT) AS n
         |  FROM f GROUP BY 1, 2),
         |ft AS (SELECT fold, CAST(sum(n) AS BIGINT) AS fn
         |  FROM cell GROUP BY 1),
         |ct AS (SELECT lang, CAST(sum(n) AS BIGINT) AS cn
         |  FROM cell GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM cell)
         |SELECT cell.fold, cell.lang, cell.n,
         |  CAST(cell.n * 1000 // ft.fn AS BIGINT) AS fold_permille,
         |  CAST(ct.cn * 1000 // t.tn AS BIGINT) AS corpus_permille,
         |  CAST(cell.n * 1000 // ft.fn - ct.cn * 1000 // t.tn AS BIGINT)
         |    AS dev_permille
         |FROM cell JOIN ft USING (fold) JOIN ct USING (lang), t
         |ORDER BY fold, lang""".stripMargin),

    // eval-set hygiene: near-dup pairs crossing the train/val boundary
    QueryDef("split_leakage", (s, dir) =>
      Curation.splitLeakage(t(s, dir, "documents"), valPct = 10),
      // split_leakage: near-dup pairs (exact-Jaccard ground truth — the
      // minhash LSH pair set at these parameters) x the reproducible-hash
      // split, aggregated to one leak-rate row
      s"""WITH $jaccardCtes,
         |sp AS (SELECT doc_id,
         |  CASE WHEN ${duckPolyFragment("CAST(doc_id AS VARCHAR)", 31, 1000000007L)}
         |    % 100 < 10 THEN 'val' ELSE 'train' END AS split FROM documents),
         |j AS (SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
         |  FROM pairs p
         |  JOIN sp sa ON p.doc_a = sa.doc_id
         |  JOIN sp sb ON p.doc_b = sb.doc_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(COALESCE(sum(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_cross,
         |  CASE WHEN count(*) > 0 THEN
         |    CAST(COALESCE(sum(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END), 0)
         |      AS DOUBLE) / count(*)
         |  END AS leak_rate
         |FROM j""".stripMargin),

    QueryDef("top_ngrams", (s, dir) =>
      Curation.topNgrams(t(s, dir, "documents"), n = 3, k = 20),
      s"""SELECT s AS ngram, count(*) AS df
         |FROM (SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(t) - 2),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents)
         |  WHERE len(t) >= 3)
         |GROUP BY s ORDER BY df DESC, ngram ASC LIMIT 20""".stripMargin),

    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // LLR of each doc against a target domain — here the corpus's
    // lowest-named source stands in as the target, so the oracle can
    // recompute the whole thing closed-form (micro-floored per-bucket
    // LLRs make every weight an associative BIGINT sum)
    QueryDef("dsir_weights", (s, dir) => {
      val docs = t(s, dir, "documents")
      val tgtSource = docs.agg(min("source")).head().getString(0)
      Curation.dsirWeights(docs,
        docs.filter(col("source") === tgtSource), buckets = 1024)
        .orderBy("doc_id")
    },
      // dsir_weights: unigram+bigram buckets via the shared polynomial
      // hash; per-bucket add-1 LLR micro-floored once, per-doc BIGINT sum
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         |rawg AS (
         |  SELECT doc_id, unnest(t) AS g FROM tk
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(t) - 1),
         |      i -> t[i] || ' ' || t[i+1])) AS g
         |  FROM tk WHERE len(t) >= 2),
         |tgtk AS (SELECT $toksSql AS t FROM documents
         |         WHERE source = (SELECT min(source) FROM documents)),
         |tgtg AS (
         |  SELECT unnest(t) AS g FROM tgtk
         |  UNION ALL
         |  SELECT unnest(list_transform(
         |      generate_series(1, len(t) - 1),
         |      i -> t[i] || ' ' || t[i+1])) AS g
         |  FROM tgtk WHERE len(t) >= 2),
         |rb AS (SELECT doc_id,
         |    CAST(${duckPolyFragment("g", 31, 1000000007L)} % 1024 AS INT)
         |      AS b FROM rawg),
         |tb AS (SELECT
         |    CAST(${duckPolyFragment("g", 31, 1000000007L)} % 1024 AS INT)
         |      AS b FROM tgtg),
         |rc AS (SELECT b, count(*) AS rc FROM rb GROUP BY b),
         |tc AS (SELECT b, count(*) AS tc FROM tb GROUP BY b),
         |tot AS (SELECT (SELECT count(*) FROM rb) AS r_tot,
         |               (SELECT count(*) FROM tb) AS t_tot),
         |llr AS (SELECT gb.b,
         |    CAST(floor((ln((COALESCE(tc.tc, 0) + 1) * (tot.r_tot + 1024))
         |              - ln((COALESCE(rc.rc, 0) + 1) * (tot.t_tot + 1024)))
         |         * 1000000) AS BIGINT) AS w
         |  FROM (SELECT unnest(generate_series(0, 1023)) AS b) gb
         |  CROSS JOIN tot
         |  LEFT JOIN rc ON rc.b = gb.b
         |  LEFT JOIN tc ON tc.b = gb.b),
         |per AS (SELECT rb.doc_id, count(*) AS n_grams, sum(llr.w) AS w
         |  FROM rb JOIN llr ON llr.b = rb.b GROUP BY rb.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(COALESCE(per.w, 0) AS BIGINT) AS dsir_weight_micro
         |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // Zipf rank-frequency: integer ratio vs the n_top/rank law — corpus
    // health sibling of benford_audit, no log-log fit anywhere
    QueryDef("zipf_audit", (s, dir) =>
      TextAnalysis.zipfAudit(t(s, dir, "documents"), k = 20)
        .orderBy("rank"),
      // top-k token ranks + integer ratio against n_top / rank
      s"""WITH c AS (SELECT tok AS term, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT unnest($toksSql) AS tok FROM documents)
         |  GROUP BY 1 ORDER BY n DESC, term ASC LIMIT 20),
         |r AS (SELECT term, n,
         |  CAST(row_number() OVER (ORDER BY n DESC, term ASC) AS BIGINT)
         |    AS rank,
         |  CAST(max(n) OVER () AS BIGINT) AS top
         |  FROM c)
         |SELECT rank, term, n,
         |  CAST(n * rank * 1000 // top AS BIGINT) AS zipf_ratio_permille
         |FROM r ORDER BY rank""".stripMargin),

    // exact heavy hitters (tokens over n/(k+1) of all occurrences) via a
    // Misra-Gries candidate pass + exact recount of candidates only
    QueryDef("heavy_hitters", (s, dir) =>
      TextAnalysis.heavyHitters(t(s, dir, "documents"), k = 30)
        .orderBy(col("n_occurrences").desc, col("token")),
      // heavy_hitters: the sketch is candidates-only, so the ground truth
      // is the plain GROUP BY / HAVING at threshold n/(k+1), k=30
      s"""WITH tok AS (SELECT unnest($toksSql) AS token FROM documents),
         |tot AS (SELECT count(*) AS n FROM tok)
         |SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
         |  count(*) / CAST(any_value(tot.n) AS DOUBLE) AS share
         |FROM tok, tot GROUP BY token
         |HAVING count(*) * 31 > any_value(tot.n)
         |ORDER BY n_occurrences DESC, token""".stripMargin),
  )
}
