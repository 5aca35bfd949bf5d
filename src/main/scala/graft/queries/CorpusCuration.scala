package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Relational, TextAnalysis}
import graft.queries.Shared._

/** Corpus sampling, packing, joins, dataset cards, mixing, budgets and
 * chunking. */
private[graft] object CorpusCuration {

  def defs: Seq[QueryDef] = Seq(
    QueryDef("sample_stratified", (s, dir) =>
      Curation.sampleStratified(t(s, dir, "documents"), "lang",
        rates = Map("en" -> 50), defaultRate = 20)
        .select("doc_id", "lang").orderBy("doc_id"),
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang,
         |    ${duckPolyFragment("CAST(doc_id AS VARCHAR)", 31, 1000000007L)} % 100 AS h,
         |    CASE WHEN lang = 'en' THEN 50 ELSE 20 END AS rate
         |  FROM documents)
         |WHERE h < rate ORDER BY doc_id""".stripMargin),

    // exact weighted sampling: length-derived integer tickets, E-S
    // reservoir order via integer ghost-copy keys (no float pow)
    QueryDef("weighted_sample", (s, dir) =>
      Curation.weightedSample(
        t(s, dir, "documents")
          .withColumn("w", expr("CAST(1 + n_chars div 500 AS INT)")),
        k = 20, weightCol = "w")
        .orderBy("source", "rank"),
      // weighted_sample: the whole key derivation is closed-form (clamped
      // integer tickets, LCG-mixed polynomial hash per ghost copy, max,
      // rank) so the selected rows hash-check exactly
      s"""SELECT source, doc_id, weight, rank FROM (
         |  SELECT source, doc_id, CAST(wt AS BIGINT) AS weight,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY wk DESC, doc_id) AS BIGINT) AS rank
         |  FROM (
         |    SELECT source, doc_id, wt,
         |      list_max(list_transform(generate_series(1, wt),
         |        r -> (1103515245 * ${duckPolyFragment(
                 "(CAST(doc_id AS VARCHAR) || ':' || CAST(r AS VARCHAR))",
                 31, 1000000007L)} + 12345) % 1000000007)) AS wk
         |    FROM (SELECT source, doc_id,
         |            LEAST(GREATEST(CAST(1 + n_chars // 500 AS INT), 1), 64)
         |              AS wt
         |          FROM documents)))
         |WHERE rank <= 20 ORDER BY source, rank""".stripMargin),

    QueryDef("pack_sequences", (s, dir) =>
      Curation.packSequences(t(s, dir, "documents"), budget = 512)
        .orderBy("source", "doc_id"),
      s"""SELECT source, doc_id, n_tokens,
         |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id
         |FROM (
         |  SELECT source, doc_id, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM (SELECT source, doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |        FROM documents))
         |ORDER BY source, doc_id""".stripMargin),

    QueryDef("curate", (s, dir) =>
      Curation.curate(t(s, dir, "documents"), minTokens = 10,
        maxTokens = 2000, minAlphaRatio = 0.5).orderBy("doc_id"),
      s"""WITH keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |tk AS (SELECT doc_id, text, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |       FROM documents)
         |SELECT tk.doc_id, n_tokens FROM tk
         |JOIN keepers ON tk.doc_id = keepers.doc_id
         |WHERE n_tokens BETWEEN 10 AND 2000
         |  AND CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |      / greatest(length(text), 1) >= 0.5
         |ORDER BY tk.doc_id""".stripMargin),

    // per-source quota: at most 40 docs per source, lowest-hash-first
    QueryDef("cap_per_group", (s, dir) =>
      Curation.capPerGroup(t(s, dir, "documents"), "source",
        maxPerGroup = 15).orderBy("doc_id"),
      // cap_per_group: at most 15 docs per source, ranked by the
      // reproducible polynomial id hash (ties on doc_id)
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source ORDER BY
         |      ${duckPolyFragment("CAST(doc_id AS VARCHAR)", 31, 1000000007L)},
         |      doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= 15 ORDER BY doc_id""".stripMargin),

    // skew-salted orders->customer equi-join (result = the plain join)
    QueryDef("salted_join", (s, dir) =>
      Relational.saltedJoin(
        t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey").as("c_custkey"), col("o_totalprice")),
        t(s, dir, "customer").select("c_custkey", "c_name"),
        key = "c_custkey", salts = 8)
        .orderBy("o_orderkey"),
      // salted_join: salting only changes physical distribution — the
      // oracle is the plain inner join
      """SELECT o_orderkey, o_custkey AS c_custkey, o_totalprice, c_name
        |FROM orders JOIN customer ON o_custkey = customer.c_custkey
        |ORDER BY o_orderkey""".stripMargin),

    // bloom-pre-filtered semi join: exact semi-join result (the filter
    // only prunes shuffle volume), so the oracle is the plain EXISTS
    QueryDef("bloom_join", (s, dir) =>
      Relational.bloomSemiJoin(
        t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        t(s, dir, "customer").filter(col("c_acctbal") > 9000)
          .select(col("c_custkey").as("o_custkey")),
        key = "o_custkey")
        .orderBy("o_orderkey"),
      // bloom_join: the Bloom filter is a no-false-negative pre-filter and
      // the exact semi join removes its false positives — the result is
      // EXACTLY the semi join, so the oracle is the plain EXISTS
      """SELECT o_orderkey, o_custkey FROM orders o
        |WHERE EXISTS (SELECT 1 FROM customer c
        |  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 9000)
        |ORDER BY o_orderkey""".stripMargin),

    // epoch-1 training-order shuffle (reproducible hash permutation)
    QueryDef("corpus_shuffle", (s, dir) =>
      Curation.shuffleCorpus(t(s, dir, "documents"), epoch = 1),
      s"""SELECT doc_id,
         |  (${duckPolyFragment("CAST(doc_id AS VARCHAR) || ':e1'", 31, 1000000007L)}
         |    * 1103515245 + 12345) % 2147483647 AS shuffle_key
         |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin),

    // padding-efficiency report: power-of-two token-length buckets
    QueryDef("length_buckets", (s, dir) =>
      Curation.lengthBuckets(t(s, dir, "documents")).orderBy("bucket"),
      s"""SELECT CAST(length(bin(n)) AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS total_tokens,
         |  CAST(min(n) AS BIGINT) AS min_tokens,
         |  CAST(max(n) AS BIGINT) AS max_tokens
         |FROM (SELECT CAST(len($toksSql) AS BIGINT) AS n FROM documents)
         |GROUP BY bucket ORDER BY bucket""".stripMargin),

    // snapshot diff: old = docs minus id%17==0; new = docs minus
    // id%11==0 with id%13==0 texts edited -> added/removed/changed
    QueryDef("corpus_diff", (s, dir) => {
      val docs = t(s, dir, "documents")
      val oldSnap = docs.filter(col("doc_id") % 17 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Curation.corpusDiff(oldSnap, newSnap).orderBy("doc_id", "status")
    },
      s"""WITH oldsnap AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0),
         |newsnap AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 11 <> 0)
         |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN n.doc_id IS NULL THEN 'removed'
         |       ELSE 'changed' END AS status
         |FROM oldsnap o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
         |WHERE o.doc_id IS NULL OR n.doc_id IS NULL
         |   OR ${duckToken63("o.text")} <> ${duckToken63("n.text")}
         |ORDER BY doc_id, status""".stripMargin),

    // one-row dataset card (docs/tokens/vocab/dup-rate/lang mix)
    QueryDef("dataset_card", (s, dir) =>
      Curation.datasetCard(t(s, dir, "documents")),
      s"""WITH base AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(COALESCE(sum(len($toksSql)), 0) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT text) AS BIGINT) AS n_distinct
         |  FROM documents),
         |voc AS (
         |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
         |  FROM (SELECT unnest($toksSql) AS tok FROM documents)),
         |lg AS (
         |  SELECT string_agg(lang || ':' || CAST(c AS VARCHAR), ','
         |                    ORDER BY lang) AS lang_counts
         |  FROM (SELECT lang, count(*) AS c FROM documents GROUP BY lang))
         |SELECT n_docs, n_tokens, vocab,
         |  n_docs - n_distinct AS n_dup_docs,
         |  CASE WHEN n_docs > 0
         |    THEN CAST(n_docs - n_distinct AS DOUBLE) / n_docs
         |    ELSE 0.0 END AS dup_rate,
         |  CASE WHEN n_docs > 0
         |    THEN CAST(n_tokens AS DOUBLE) / n_docs ELSE 0.0 END
         |    AS mean_tokens,
         |  lang_counts
         |FROM base, voc, lg""".stripMargin),

    // the 100 TB card: vocab via the KMV sketch (k=256) — no token
    // shuffle, <= k-long aggregation buffers, deterministic estimate
    // the oracle recomputes from the k smallest distinct hashes
    QueryDef("dataset_card_sketch", (s, dir) =>
      Curation.datasetCardSketch(t(s, dir, "documents")),
      // dataset_card_sketch twin: identical card, vocab re-estimated from
      // the 256 smallest distinct reproducible hashes (the KMV closed form)
      s"""WITH base AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(COALESCE(sum(len($toksSql)), 0) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT text) AS BIGINT) AS n_distinct
         |  FROM documents),
         |h AS (SELECT DISTINCT ${duckPolyFragment("tok", 31, 1000000007L)}
         |    AS h
         |  FROM (SELECT unnest($toksSql) AS tok FROM documents)),
         |r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h),
         |voc AS (SELECT count(*) AS nd,
         |    max(CASE WHEN rn <= 256 THEN h END) AS kth FROM r),
         |lg AS (
         |  SELECT string_agg(lang || ':' || CAST(c AS VARCHAR), ','
         |                    ORDER BY lang) AS lang_counts
         |  FROM (SELECT lang, count(*) AS c FROM documents GROUP BY lang))
         |SELECT n_docs, n_tokens,
         |  CASE WHEN nd < 256 THEN CAST(nd AS DOUBLE)
         |       ELSE 255.0 * 1000000007 / kth END AS vocab_estimate,
         |  n_docs - n_distinct AS n_dup_docs,
         |  CASE WHEN n_docs > 0
         |    THEN CAST(n_docs - n_distinct AS DOUBLE) / n_docs
         |    ELSE 0.0 END AS dup_rate,
         |  CASE WHEN n_docs > 0
         |    THEN CAST(n_tokens AS DOUBLE) / n_docs ELSE 0.0 END
         |    AS mean_tokens,
         |  lang_counts
         |FROM base, voc, lg""".stripMargin),

    // order-invariant snapshot checksum: sum of reproducible row hashes
    // mod p — replica / swap / upsert verification by one row per side
    QueryDef("content_fingerprint", (s, dir) =>
      Relational.contentFingerprint(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars")),
      // content_fingerprint twin: identical canonicalization (chr(1)
      // separator, chr(2) null sentinel) and the same sum-mod arithmetic
      s"""WITH h AS (SELECT ${duckPolyFragment(
             "concat_ws(chr(1), CAST(doc_id AS VARCHAR), lang, source, " +
               "CAST(n_chars AS VARCHAR))", 31, 1000000007L)} AS h
         |  FROM documents)
         |SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(COALESCE(sum(CAST(h AS HUGEINT)), 0) % 1000000007
         |    AS BIGINT) AS fingerprint
         |FROM h""".stripMargin),

    // recipe-weighted mixing to a 3000-token budget: src0 at 300,
    // src1 at 200, everything else at 25 permille
    QueryDef("corpus_mix", (s, dir) =>
      Curation.mixCorpus(t(s, dir, "documents"),
        weightsPermille = Map("src0" -> 300, "src1" -> 200),
        defaultPermille = 25, tokenBudget = 3000L)
        .orderBy("doc_id"),
      s"""WITH tok AS (
         |  SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n
         |  FROM documents),
         |rates AS (
         |  SELECT source,
         |    least(100, CASE WHEN sum(n) > 0 THEN
         |      (100 * ((3000 * (CASE source WHEN 'src0' THEN 300
         |                       WHEN 'src1' THEN 200 ELSE 25 END)) // 1000))
         |        // sum(n)
         |      ELSE 0 END) AS rate
         |  FROM tok GROUP BY source)
         |SELECT tok.doc_id, tok.source, tok.n AS n_tokens
         |FROM tok JOIN rates ON tok.source = rates.source
         |WHERE ${duckPolyFragment("CAST(doc_id AS VARCHAR)", 31, 1000000007L)}
         |  % 100 < rate
         |ORDER BY doc_id""".stripMargin),

    // recipe-feasibility report: can each source hit its budget share
    // under the repeat cap? (the audit run before corpus_mix)
    QueryDef("mix_planner", (s, dir) =>
      Curation.mixPlanner(t(s, dir, "documents"),
        weightsPermille = Map("src0" -> 300, "src1" -> 200),
        defaultPermille = 25, tokenBudget = 100000L,
        maxEpochsMilli = 4000L)
        .orderBy("source"),
      // corpus_mix: same exact integer rate arithmetic — floor divisions,
      // 1% hash buckets
      // per-source token mass + recipe arithmetic; ceil-division for the
      // needed epochs so feasibility is exact
      s"""WITH tok AS (
         |  SELECT source, CAST(len($toksSql) AS BIGINT) AS n
         |  FROM documents),
         |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n) AS BIGINT) AS n_tokens,
         |    CAST(CASE source WHEN 'src0' THEN 300 WHEN 'src1' THEN 200
         |      ELSE 25 END AS BIGINT) AS w
         |  FROM tok GROUP BY source),
         |p AS (SELECT source, n_docs, n_tokens,
         |    CAST((100000 * w) // 1000 AS BIGINT) AS target_tokens
         |  FROM agg),
         |q AS (SELECT source, n_docs, n_tokens, target_tokens,
         |    CAST(CASE WHEN target_tokens = 0 THEN 0
         |         WHEN n_tokens > 0
         |         THEN (1000 * target_tokens + n_tokens - 1) // n_tokens
         |         END AS BIGINT) AS needed_epochs_milli
         |  FROM p)
         |SELECT source, n_docs, n_tokens, target_tokens,
         |  needed_epochs_milli,
         |  CAST(least(needed_epochs_milli, 4000) AS BIGINT) AS epochs_milli,
         |  CAST(least(target_tokens, (n_tokens * 4000) // 1000) AS BIGINT)
         |    AS achieved_tokens,
         |  needed_epochs_milli IS NOT NULL AND needed_epochs_milli <= 4000
         |    AS feasible
         |FROM q ORDER BY source""".stripMargin),

    // the pick itself: best documents per source by quality score until
    // 800 tokens per source — greedy prefix, total order (score desc,
    // id asc), no partial documents
    QueryDef("budget_select", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis.qualityScore(docs)
        .select("doc_id", "n_tokens", "quality_score")
      Curation.budgetSelect(
        docs.select("doc_id", "source").join(scored, "doc_id"),
        "source", "quality_score", "n_tokens", budget = 800L)
        .orderBy("source", "pick_rank")
    },
      // budget_select: greedy best-first prefix per source under a token
      // budget — same quality score CTE, same (score desc, id) total order
      budgetSelectSql),

    // the mega-group escape, oracle-checked against the SAME SQL as
    // budget_select: the percentile pre-thin is exact (prefix-closed
    // cut + verified retained mass), so both variants must hash-match
    // the one oracle
    QueryDef("budget_select_prethin", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis.qualityScore(docs)
        .select("doc_id", "n_tokens", "quality_score")
      Curation.budgetSelect(
        docs.select("doc_id", "source").join(scored, "doc_id"),
        "source", "quality_score", "n_tokens", budget = 800L,
        preThin = true)
        .orderBy("source", "pick_rank")
    },
      // the preThin variant shares the SAME oracle text: the percentile
      // cut is exact by construction, so the two Spark plans must
      // hash-match one SQL definition
      budgetSelectSql),

    // context-window chunking: 24-token chunks, 8-token overlap
    QueryDef("chunk_documents", (s, dir) =>
      Curation.chunkDocuments(t(s, dir, "documents"), chunkTokens = 24,
        overlapTokens = 8).orderBy("doc_id", "chunk_id"),
      // chunk_documents: 24-token windows every 16 tokens (8 overlap);
      // DuckDB lists are 1-based and slices are inclusive
      s"""WITH tok AS (
         |  SELECT doc_id, $toksSql AS t FROM documents),
         |starts AS (
         |  SELECT doc_id, t, unnest(generate_series(1, len(t), 16)) AS s,
         |    generate_subscripts(generate_series(1, len(t), 16), 1) - 1
         |      AS chunk_id
         |  FROM tok WHERE len(t) > 0)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(len(t[s : least(s + 23, len(t))]) AS BIGINT)
         |    AS n_chunk_tokens,
         |  array_to_string(t[s : least(s + 23, len(t))], ' ') AS chunk_text
         |FROM starts ORDER BY doc_id, chunk_id""".stripMargin),

    // content-defined chunking: boundaries from local token hashes, so
    // an early edit shifts no later chunk (the CDC dedup property)
    QueryDef("cdc_chunks", (s, dir) =>
      Curation.cdcChunks(t(s, dir, "documents"), avgTokens = 16)
        .orderBy("doc_id", "chunk_id"),
      // cdc_chunks: the boundary hash is the identical polynomial fold, so
      // DuckDB reproduces the exact chunk boundaries; chunk_id is the count
      // of boundary tokens strictly before the token
      s"""WITH $cdcChunkedCte
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(count(*) AS BIGINT) AS n_chunk_tokens,
         |  string_agg(tok, ' ' ORDER BY pos) AS chunk_text
         |FROM chunked GROUP BY doc_id, chunk_id
         |ORDER BY doc_id, chunk_id""".stripMargin),

    // chunk-level corpus dedup over CDC chunks (first occurrence wins)
    QueryDef("cdc_dedup", (s, dir) =>
      Dedup.dedupChunks(t(s, dir, "documents"), avgTokens = 16)
        .orderBy("doc_id"),
      // cdc_dedup: CDC chunks + corpus-first occurrence per chunk TEXT
      // (since round 15 — chunk identity is the text itself, not a hash;
      // first = lowest (doc_id, chunk position)), reassembled per doc —
      // the identical chunk boundaries AND the identical winner rule are
      // recomputed in SQL
      s"""WITH $cdcChunkedCte,
         |chunks AS (
         |  SELECT doc_id, chunk_id, string_agg(tok, ' ' ORDER BY pos) AS seg
         |  FROM chunked GROUP BY doc_id, chunk_id),
         |marked AS (
         |  SELECT doc_id, chunk_id, seg, row_number() OVER (
         |    PARTITION BY seg
         |    ORDER BY doc_id, chunk_id) AS rn
         |  FROM chunks)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(COALESCE(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_kept,
         |  COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
         |    ORDER BY chunk_id), '') AS text_kept
         |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // deterministic upsampling: src0 2.5 epochs, src1 0.5, rest 1
    QueryDef("upsample", (s, dir) =>
      Curation.upsampleCorpus(t(s, dir, "documents"),
        weightsPermille = Map("src0" -> 2500, "src1" -> 500),
        defaultPermille = 1000)
        .orderBy("doc_id", "replica"),
      s"""WITH w AS (SELECT doc_id, source,
         |  CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 500
         |    ELSE 1000 END AS wt,
         |  ((${duckPolyFragment("CAST(doc_id AS VARCHAR)", 31, 1000000007L)}
         |    * 1103515245 + 12345) % 2147483647) % 1000 AS h
         |  FROM documents),
         |n AS (SELECT doc_id, source,
         |  (wt // 1000) + CASE WHEN h < wt % 1000 THEN 1 ELSE 0 END AS n
         |  FROM w)
         |SELECT doc_id, source,
         |  CAST(unnest(generate_series(0, n - 1)) AS BIGINT) AS replica
         |FROM n WHERE n > 0 ORDER BY doc_id, replica""".stripMargin),
  )

  /** Shared DuckDB CTE chain ending in `chunked(doc_id, pos, tok,
   * chunk_id)` — CDC token stream with boundary counts, the twin of
   * [[graft.operators.Curation.cdcChunks]]'s internals (avgTokens = 16).
   * Used by the cdc_chunks and cdc_dedup oracles. */
  private lazy val cdcChunkedCte =
    s"""toks AS (SELECT doc_id, $toksSql AS t FROM documents),
       |tok AS (
       |  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
       |  FROM toks WHERE len(t) > 0),
       |flagged AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN ${polyHashSql("tok")} % 16 = 0 THEN 1 ELSE 0 END AS b
       |  FROM tok),
       |chunked AS (
       |  SELECT doc_id, pos, tok,
       |    COALESCE(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS chunk_id
       |  FROM flagged)""".stripMargin

  /** DuckDB greedy budget pick — ONE definition shared by the
   * budget_select and budget_select_prethin oracles (the pre-thin is
   * exact, so both plans must match the same SQL). */
  private lazy val budgetSelectSql =
    s"""WITH qs AS ($qualityScoreSql),
       |j AS (SELECT d.doc_id, d.source, qs.n_tokens, qs.quality_score
       |      FROM documents d JOIN qs ON qs.doc_id = d.doc_id),
       |r AS (SELECT doc_id, source, n_tokens, quality_score,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY quality_score DESC, doc_id) AS BIGINT) AS pick_rank,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source
       |      ORDER BY quality_score DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cost
       |  FROM j)
       |SELECT doc_id, source, n_tokens, quality_score, pick_rank,
       |  cum_cost
       |FROM r WHERE cum_cost <= 800
       |ORDER BY source, pick_rank""".stripMargin
}
