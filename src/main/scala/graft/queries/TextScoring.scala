package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Similarity, TextAnalysis}
import graft.queries.Shared._

/** Text quality scores, decontamination and lexical/hybrid retrieval. */
private[graft] object TextScoring {

  def defs: Seq[QueryDef] = Seq(
    QueryDef("repetition_score", (s, dir) =>
      TextAnalysis.repetitionScore(t(s, dir, "documents")).orderBy("doc_id"),
      s"""SELECT doc_id,
         |  CAST(CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END AS BIGINT)
         |    AS n_shingles,
         |  CAST(CASE WHEN len(t) >= 3 THEN len(list_distinct(list_transform(
         |    generate_series(1, len(t) - 2),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) ELSE 0 END AS BIGINT)
         |    AS n_distinct,
         |  CASE WHEN len(t) >= 3 THEN
         |    1.0 - CAST(len(list_distinct(list_transform(
         |      generate_series(1, len(t) - 2),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS DOUBLE)
         |      / (len(t) - 2)
         |  ELSE 0.0 END AS rep_ratio
         |FROM (SELECT doc_id, $toksSql AS t FROM documents)
         |ORDER BY doc_id""".stripMargin),

    // Simpson token-concentration: quadratic-weighted repetition signal
    // (integer permille), separating boilerplate from benign repeats
    QueryDef("simpson_score", (s, dir) =>
      TextAnalysis.simpsonScore(t(s, dir, "documents")).orderBy("doc_id"),
      // Simpson: ordered equal-token pairs per doc from grouped counts —
      // the run-length fold's Σ n_i(n_i−1), same integer DIV
      s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |cnt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM tk GROUP BY 1, 2),
         |p AS (SELECT doc_id, CAST(sum(c * (c - 1)) AS BIGINT) AS pairs
         |  FROM cnt GROUP BY 1),
         |base AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n
         |  FROM documents)
         |SELECT b.doc_id, b.n AS n_tokens,
         |  CASE WHEN b.n > 1
         |       THEN CAST(COALESCE(p.pairs, 0) * 1000 // (b.n * (b.n - 1))
         |            AS BIGINT)
         |       ELSE CAST(0 AS BIGINT) END AS simpson_permille
         |FROM base b LEFT JOIN p ON b.doc_id = p.doc_id
         |ORDER BY b.doc_id""".stripMargin),

    // in-corpus bigram LM quality scoring (perplexity-filter analogue);
    // per-term integer micro-nat quantization keeps the mean engine-exact
    QueryDef("lm_score", (s, dir) =>
      TextAnalysis.lmScore(t(s, dir, "documents")).orderBy("doc_id"),
      // lm_score: identical MLE bigram probabilities from corpus counts;
      // each log term is floored to integer micro-nats BEFORE the sum, so
      // the mean is an associative integer sum + one IEEE division in both
      // engines (a raw double avg would be summation-order-dependent)
      s"""WITH $lmScoreCtes
         |SELECT doc_id, n_bigrams, lm_score
         |FROM lmscore ORDER BY doc_id""".stripMargin),

    // Gopher-battery quality rules; integer cross-multiplied ratios
    QueryDef("gopher_rules", (s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents")).orderBy("doc_id"),
      // gopher_rules: every ratio rule is an integer cross-multiplication,
      // so both engines compare the same BIGINTs — no float ever forms
      s"""WITH $gopherBaseCte
         |SELECT doc_id, n_words, sum_word_len, n_alpha_words,
         |  n_stop_distinct, n_symbols,
         |  (n_words >= 50 AND n_words <= 100000) AS rule_word_count,
         |  (n_words > 0 AND sum_word_len >= n_words * 3
         |    AND sum_word_len <= n_words * 10) AS rule_mean_word_len,
         |  (n_words > 0 AND n_symbols * 10 <= n_words) AS rule_symbol_ratio,
         |  (n_words > 0 AND n_alpha_words * 5 >= n_words * 4)
         |    AS rule_alpha_words,
         |  (n_stop_distinct >= 2) AS rule_stopwords,
         |  ${gopherPassSql(50, 100000)} AS pass
         |FROM gbase ORDER BY doc_id""".stripMargin),

    // first BPE merge-step pair counts (tokenizer-training inner loop)
    QueryDef("bpe_merges", (s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents")),
      // bpe_merges: identical in-word character-pair explosion + count
      s"""WITH words AS (SELECT unnest($toksSql) AS w FROM documents),
         |pairs AS (SELECT substring(w, i, 2) AS pair
         |  FROM (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
         |        FROM words WHERE length(w) >= 2))
         |SELECT pair, count(*) AS cnt FROM pairs GROUP BY pair
         |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin),

    // capped inverted index: bounded-state posting lists via MinKLongs
    QueryDef("inverted_index", (s, dir) =>
      TextAnalysis.invertedIndex(t(s, dir, "documents")),
      // inverted_index: the MinKLongs cap (10 smallest distinct doc ids)
      // modeled with list_sort + list_slice over the full per-term id list
      s"""WITH posts AS (
         |  SELECT term, doc_id, count(*) AS cnt FROM (
         |    SELECT doc_id, unnest($toksSql) AS term FROM documents)
         |  GROUP BY term, doc_id),
         |agg AS (SELECT term,
         |  CAST(count(*) AS BIGINT) AS df,
         |  CAST(sum(cnt) AS BIGINT) AS tf_total,
         |  array_to_string(list_slice(list_sort(list(doc_id)), 1, 10), ',')
         |    AS postings
         |  FROM posts GROUP BY term)
         |SELECT term, df, tf_total, postings FROM agg
         |WHERE df >= 5 ORDER BY term""".stripMargin),

    // rule-table topic tagging: broadcast keyword rules, weighted argmax
    QueryDef("topic_classify", (s, dir) =>
      TextAnalysis.topicClassify(t(s, dir, "documents")).orderBy("doc_id"),
      // topic_classify: identical rule table as VALUES; same argmax window
      s"""WITH rules(term, topic, weight) AS (VALUES
         |  ('join', 'joins', 3), ('merge', 'joins', 2), ('hash', 'joins', 1),
         |  ('scan', 'storage', 3), ('table', 'storage', 2),
         |  ('stream', 'streaming', 3), ('batch', 'streaming', 2),
         |  ('window', 'streaming', 1),
         |  ('agg', 'aggregation', 3), ('sort', 'aggregation', 2),
         |  ('group', 'aggregation', 2),
         |  ('vector', 'vectorized', 3), ('column', 'vectorized', 2)),
         |toks AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |scores AS (SELECT doc_id, topic, CAST(sum(weight) AS BIGINT) AS score
         |  FROM toks JOIN rules USING (term) GROUP BY doc_id, topic),
         |best AS (SELECT doc_id, topic, score,
         |  row_number() OVER (PARTITION BY doc_id
         |                     ORDER BY score DESC, topic) AS rn
         |  FROM scores)
         |SELECT d.doc_id,
         |  COALESCE(b.topic, 'unknown') AS topic_pred,
         |  CAST(COALESCE(b.score, 0) AS BIGINT) AS score
         |FROM documents d
         |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // hashing-trick featurization: signed bucket counts, exact integers
    QueryDef("hash_embed", (s, dir) =>
      TextAnalysis.hashEmbed(t(s, dir, "documents")).orderBy("doc_id"),
      // hash_embed: identical bucket/sign hashes; signed sums are exact
      // integers, zero-filled per bucket, joined in bucket order
      s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |sg AS (SELECT doc_id,
         |    CAST(${duckPolyFragment("tok", 31, 1000000007L)} % 64 AS INT)
         |      AS b,
         |    CASE WHEN (${duckPolyFragment("tok", 31, 1000000007L)} // 64)
         |      % 2 = 0 THEN 1 ELSE -1 END AS s
         |  FROM tk),
         |agg AS (SELECT doc_id, b, CAST(sum(s) AS BIGINT) AS v
         |  FROM sg GROUP BY doc_id, b),
         |filled AS (
         |  SELECT d.doc_id, g.b, CAST(COALESCE(a.v, 0) AS BIGINT) AS v
         |  FROM documents d
         |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) g
         |  LEFT JOIN agg a ON a.doc_id = d.doc_id AND a.b = g.b)
         |SELECT doc_id, string_agg(CAST(v AS VARCHAR), ',' ORDER BY b) AS vec
         |FROM filled GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    QueryDef("decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      // stand-in benchmark: the five lowest-id documents probe the corpus
      Dedup.decontaminate(docs, docs.filter(col("doc_id") < 5))
        .orderBy("doc_id")
    },
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  generate_series(1, len(t) - 2),
         |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
         |  FROM toks WHERE len(t) >= 3),
         |probe AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5),
         |hits AS (SELECT sh.doc_id, count(*) AS n_hits
         |  FROM sh JOIN probe ON sh.s = probe.s GROUP BY sh.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
         |  COALESCE(hits.n_hits, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // per-source quality calibration: drop the worst 10% of EVERY source
    QueryDef("quality_calibrate", (s, dir) =>
      Curation.qualityCalibrate(t(s, dir, "documents"), dropPermille = 100)
        .orderBy("doc_id"),
      // quality_calibrate: per-source integer ranks over the same score,
      // BIGINT cutoff — kept is engine-invariant
      s"""WITH qs AS ($qualityScoreSql),
         |j AS (SELECT d.doc_id, d.source, qs.quality_score
         |      FROM documents d JOIN qs ON d.doc_id = qs.doc_id),
         |r AS (SELECT doc_id, source, quality_score,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY quality_score, doc_id) AS BIGINT) AS src_rank,
         |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
         |  FROM j)
         |SELECT doc_id, source, quality_score, src_rank, n_src,
         |  src_rank > CAST(floor(n_src * 100 / 1000) AS BIGINT) AS kept
         |FROM r ORDER BY doc_id""".stripMargin),

    // cross-source shingle-overlap (contamination) matrix
    QueryDef("source_overlap", (s, dir) =>
      Dedup.sourceOverlap(t(s, dir, "documents"))
        .orderBy("source_a", "source_b"),
      // source_overlap: distinct (source, poly-hash) sets — the hash is the
      // reproducible polynomial, so both engines see identical sets
      s"""WITH toks AS (SELECT source, $toksSql AS t FROM documents),
         |shs AS (SELECT source, unnest(list_distinct(list_transform(
         |  generate_series(1, len(t) - 2),
         |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
         |  FROM toks WHERE len(t) >= 3),
         |sh AS (SELECT DISTINCT source, ${polyHashSql("s")} AS h FROM shs),
         |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |  FROM sh GROUP BY 1),
         |inter AS (SELECT a.source AS sa, b.source AS sb,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT x.source AS source_a, y.source AS source_b,
         |  x.n AS n_a, y.n AS n_b,
         |  CAST(COALESCE(inter.c, 0) AS BIGINT) AS n_common,
         |  CASE WHEN x.n + y.n - COALESCE(inter.c, 0) > 0 THEN
         |    CAST(floor(1000000.0 * COALESCE(inter.c, 0)
         |      / (x.n + y.n - COALESCE(inter.c, 0))) AS BIGINT)
         |  ELSE 0 END AS jaccard_micro
         |FROM sizes x JOIN sizes y ON x.source < y.source
         |LEFT JOIN inter ON inter.sa = x.source AND inter.sb = y.source
         |ORDER BY source_a, source_b""".stripMargin),

    // per-document content-originality: share of shingles unique to it
    QueryDef("ngram_novelty", (s, dir) =>
      Dedup.ngramNovelty(t(s, dir, "documents")).orderBy("doc_id"),
      // ngram_novelty: same distinct-shingle poly hashes; novel = df == 1
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |shs AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  generate_series(1, len(t) - 2),
         |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
         |  FROM toks WHERE len(t) >= 3),
         |sh AS (SELECT doc_id, ${polyHashSql("s")} AS h FROM shs),
         |dfc AS (SELECT h, CAST(count(*) AS BIGINT) AS df
         |  FROM sh GROUP BY 1),
         |pd AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel
         |  FROM sh JOIN dfc ON sh.h = dfc.h GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(pd.n_shingles, 0) AS BIGINT) AS n_shingles,
         |  CAST(COALESCE(pd.n_novel, 0) AS BIGINT) AS n_novel,
         |  CASE WHEN COALESCE(pd.n_shingles, 0) > 0 THEN
         |    CAST(pd.n_novel * 1000 // pd.n_shingles AS BIGINT)
         |  ELSE 0 END AS novelty_permille
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // BM25 retrieval: every doc_id % 100 == 0 document queries the corpus
    QueryDef("bm25_topk", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.bm25TopK(docs, docs.filter(col("doc_id") % 100 === 0),
        k = 10).orderBy("query_id", "rank")
    },
      // bm25_topk: the contribution expression in the shared CTE chain is
      // textually identical to the Spark side, so both engines floor the
      // same IEEE double
      s"""WITH $bm25Ctes
         |SELECT query_id, doc_id, n_hit_terms, score_micro, rank
         |FROM bmr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // embedding-space decontamination: the five lowest-id vectors probe
    QueryDef("semantic_decontaminate", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semanticDecontaminate(emb, emb.filter(col("vec_id") < 5))
        .orderBy("vec_id")
    },
      // semantic_decontaminate: cosine test repeated as the same IEEE tree;
      // integer-only output
      s"""WITH n AS (SELECT vec_id, embedding,
         |  sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
         |p AS (SELECT vec_id AS pid, embedding AS pe, nrm AS pn
         |  FROM n WHERE vec_id < 5),
         |hits AS (
         |  SELECT c.vec_id,
         |    CAST(COALESCE(sum(CASE WHEN
         |      ${dotSql("c.embedding", "p.pe")} / (c.nrm * p.pn) >= 0.7
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_flagged_probes
         |  FROM n c LEFT JOIN p ON c.vec_id <> p.pid
         |  GROUP BY c.vec_id)
         |SELECT vec_id, n_flagged_probes, n_flagged_probes = 0 AS kept
         |FROM hits ORDER BY vec_id""".stripMargin),

    // tokenizer vocabulary coverage: per-doc OOV rate vs the corpus
    // top-256 vocabulary
    QueryDef("oov_rate", (s, dir) =>
      TextAnalysis.oovRate(t(s, dir, "documents")).orderBy("doc_id"),
      // oov_rate: top-256 vocabulary with (count desc, term) ties; permille
      // is BIGINT floor division on both sides
      s"""WITH ex AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |vc AS (SELECT term, count(*) AS n FROM ex GROUP BY 1),
         |v AS (SELECT term FROM vc ORDER BY n DESC, term LIMIT 256),
         |pd AS (SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov
         |  FROM ex LEFT JOIN v ON ex.term = v.term GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(pd.n_oov, 0) AS BIGINT) AS n_oov,
         |  CASE WHEN COALESCE(pd.n_tokens, 0) > 0 THEN
         |    CAST(pd.n_oov * 1000 // pd.n_tokens AS BIGINT)
         |  ELSE 0 END AS oov_permille
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // hybrid retrieval: BM25 + hash-embed cosine fused by integer RRF
    QueryDef("hybrid_topk", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.hybridTopK(docs, docs.filter(col("doc_id") % 100 === 0),
        k = 10, kEach = 20).orderBy("query_id", "rank")
    },
      // hybrid_topk: the bm25 chain + the hash_embed vectors as DOUBLE
      // lists + cosine ranks, fused by integer reciprocal-rank (k = 60)
      s"""WITH $bm25Ctes,
         |tk AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |sg AS (SELECT doc_id,
         |    CAST(${duckPolyFragment("tok", 31, 1000000007L)} % 64 AS INT)
         |      AS b,
         |    CASE WHEN (${duckPolyFragment("tok", 31, 1000000007L)} // 64)
         |      % 2 = 0 THEN 1 ELSE -1 END AS s
         |  FROM tk),
         |agg AS (SELECT doc_id, b, CAST(sum(s) AS BIGINT) AS v
         |  FROM sg GROUP BY doc_id, b),
         |filled AS (
         |  SELECT d.doc_id, g.b, CAST(COALESCE(a.v, 0) AS BIGINT) AS v
         |  FROM documents d
         |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) g
         |  LEFT JOIN agg a ON a.doc_id = d.doc_id AND a.b = g.b),
         |hv AS (SELECT doc_id, list(CAST(v AS DOUBLE) ORDER BY b) AS e
         |  FROM filled GROUP BY doc_id),
         |nv AS (SELECT doc_id, e, sqrt(${dotSql("e", "e")}) AS nrm
         |  FROM hv WHERE len(list_filter(e, x -> x <> 0)) > 0),
         |cosr AS (SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
         |  CAST(row_number() OVER (PARTITION BY q.doc_id
         |    ORDER BY ${dotSql("q.e", "c.e")} / (q.nrm * c.nrm) DESC,
         |             c.doc_id) AS BIGINT) AS rank
         |  FROM nv q JOIN nv c ON c.doc_id <> q.doc_id
         |  WHERE q.doc_id % 100 = 0),
         |fused AS (
         |  SELECT COALESCE(b.query_id, c.query_id) AS query_id,
         |         COALESCE(b.doc_id, c.doc_id) AS doc_id,
         |         CAST(COALESCE(b.rank, 0) AS BIGINT) AS bm_rank,
         |         CAST(COALESCE(c.rank, 0) AS BIGINT) AS cos_rank,
         |         CAST(CASE WHEN b.rank IS NULL THEN 0
         |                   ELSE 1000000 // (60 + b.rank) END
         |            + CASE WHEN c.rank IS NULL THEN 0
         |                   ELSE 1000000 // (60 + c.rank) END AS BIGINT)
         |           AS rrf_micro
         |  FROM (SELECT query_id, doc_id, rank FROM bmr WHERE rank <= 20) b
         |  FULL JOIN (SELECT query_id, doc_id, rank FROM cosr
         |             WHERE rank <= 20) c
         |    ON b.query_id = c.query_id AND b.doc_id = c.doc_id)
         |SELECT query_id, doc_id, bm_rank, cos_rank, rrf_micro, rank FROM (
         |  SELECT query_id, doc_id, bm_rank, cos_rank, rrf_micro,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank
         |  FROM fused)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
  )

  /** BM25 CTE chain ending in `bmr(query_id, doc_id, n_hit_terms,
   * score_micro, rank)` — shared by the bm25_topk oracle and the
   * lexical half of hybrid_topk. The contribution expression is
   * textually identical to [[graft.operators.TextAnalysis.bm25TopK]]'s
   * Spark expression, so both engines floor the same IEEE double. */
  private val bm25Ctes: String =
    s"""qterms AS (SELECT DISTINCT doc_id AS query_id,
       |  unnest($toksSql) AS term
       |  FROM documents WHERE doc_id % 100 = 0),
       |tfs AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, unnest($toksSql) AS term FROM documents)
       |  WHERE term IN (SELECT term FROM qterms)
       |  GROUP BY 1, 2),
       |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |  FROM tfs GROUP BY 1),
       |dls AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS dl
       |  FROM documents WHERE len($toksSql) > 0),
       |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(dl) AS BIGINT) AS total_dl FROM dls),
       |qsel AS (SELECT query_id, term FROM (
       |  SELECT q.query_id, q.term,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY dfs.df, q.term) AS tr
       |  FROM qterms q JOIN dfs ON dfs.term = q.term)
       |  WHERE tr <= 16),
       |scored AS (
       |  SELECT q.query_id, tfs.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_hit_terms,
       |    CAST(sum(CAST(floor(
       |      ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |      * ((CAST(tf AS DOUBLE) * 2.2)
       |         / (CAST(tf AS DOUBLE)
       |            + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
       |                                    / (CAST(total_dl AS DOUBLE) / n_docs)))))
       |      * 1000000) AS BIGINT)) AS BIGINT) AS score_micro
       |  FROM tfs
       |  JOIN qsel q ON q.term = tfs.term AND tfs.doc_id <> q.query_id
       |  JOIN dfs ON dfs.term = tfs.term
       |  JOIN dls ON dls.doc_id = tfs.doc_id
       |  CROSS JOIN corpus
       |  GROUP BY 1, 2),
       |bmr AS (
       |  SELECT query_id, doc_id, n_hit_terms, score_micro,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
       |  FROM scored)""".stripMargin
}
