package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, Similarity}
import graft.queries.Shared._

/** Exact, span-level and near-duplicate detection, and the near-dup pair
 * graph. */
private[graft] object Deduplication {

  def defs: Seq[QueryDef] = Seq(
    QueryDef("exact_dedup", (s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents")).orderBy("keep_id"),
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),

    // entity-level fuzzy self-join: customer names within 1 edit —
    // deletion-neighborhood candidates (FastSS) + levenshtein verify
    QueryDef("fuzzy_join", (s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "customer"), k = 1,
        idCol = "c_custkey", textCol = "c_name")
        .orderBy("doc_a", "doc_b"),
      // fuzzy_join is verify-exact (the prefix filter is complete, the
      // levenshtein verify exact), so the oracle is the brute-force join
      """SELECT a.c_custkey AS doc_a, b.c_custkey AS doc_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY doc_a, doc_b""".stripMargin),

    // C4-style corpus segment dedup; the fixtures' text is one line, so
    // the query dedups word segments (sep = " ") — same machinery
    QueryDef("dedup_lines", (s, dir) =>
      Dedup.dedupSegments(t(s, dir, "documents"), sep = " ")
        .orderBy("doc_id"),
      // dedup_lines: corpus-first-occurrence per word segment (sep = ' '),
      // reassembled per doc; first = lowest (doc_id, position)
      """WITH segs AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
        |    unnest(string_split(text, ' ')) AS seg
        |  FROM documents),
        |marked AS (
        |  SELECT doc_id, pos, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
        |  FROM segs)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(COALESCE(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    AS n_kept,
        |  COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY pos),
        |    '') AS text_kept
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // windowed exact-substring contamination stats (Lee et al. ACL'22
    // semantics via overlapping w-token window hashes instead of a
    // global suffix array)
    QueryDef("duplicated_spans", (s, dir) =>
      Dedup.duplicatedSpans(t(s, dir, "documents"), w = 8)
        .orderBy("doc_id"),
      // duplicated_spans: since round 15 the contract is the actual
      // WINDOW TEXT (matching the rewrite twin dedup_spans — the Spark
      // side uses an xxhash64 candidate filter and verifies text), so
      // the oracle groups presence-in->=2-docs by the window string
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |wins AS (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
         |      list_transform(generate_series(1, len(t) - 7),
         |        j -> array_to_string(array_slice(t, j, j + 7), ' '))
         |    ELSE CAST([] AS VARCHAR[]) END) AS wt
         |  FROM toks),
         |dup AS (SELECT wt FROM wins GROUP BY wt
         |        HAVING min(doc_id) <> max(doc_id)),
         |stats AS (
         |  SELECT w.doc_id, count(*) AS n_windows,
         |    sum(CASE WHEN d.wt IS NOT NULL THEN 1 ELSE 0 END) AS dup_windows
         |  FROM wins w LEFT JOIN dup d ON w.wt = d.wt GROUP BY w.doc_id)
         |SELECT tk.doc_id,
         |  CAST(COALESCE(s.n_windows, 0) AS BIGINT) AS n_windows,
         |  CAST(COALESCE(s.dup_windows, 0) AS BIGINT) AS dup_windows,
         |  CASE WHEN s.n_windows > 0
         |    THEN round(CAST(s.dup_windows AS DOUBLE) / s.n_windows, 6)
         |    ELSE 0.0 END AS dup_fraction
         |FROM toks tk LEFT JOIN stats s ON tk.doc_id = s.doc_id
         |ORDER BY tk.doc_id""".stripMargin),

    // the REWRITE of the same exact-substring semantics: later docs drop
    // token positions covered by windows a lower doc id owns; emits the
    // cleaned canonical text for every document
    QueryDef("dedup_spans", (s, dir) =>
      Dedup.removeDuplicatedSpans(t(s, dir, "documents"), w = 8)
        .orderBy("doc_id"),
      // dedup_spans: unlike detection, the REWRITE's contract is the
      // actual WINDOW TEXT (the Spark side uses hashes only as a
      // candidate filter and verifies text before removing) — so the
      // oracle groups ownership by the window string itself: lowest doc
      // id owns a duplicated window text, every other holder drops the
      // covered 1-based positions (DuckDB list lambdas index 1-based)
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |wins AS (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
         |      list_transform(generate_series(1, len(t) - 7),
         |        j -> {'i': j,
         |              'w': array_to_string(array_slice(t, j, j + 7), ' ')})
         |    ELSE CAST([] AS STRUCT(i BIGINT, w VARCHAR)[]) END) AS s
         |  FROM toks),
         |w2 AS (SELECT doc_id, s.i AS i, s.w AS w FROM wins),
         |own AS (SELECT w, min(doc_id) AS own FROM w2 GROUP BY w
         |        HAVING min(doc_id) <> max(doc_id)),
         |rem AS (SELECT w2.doc_id,
         |    list(DISTINCT p) AS rem
         |  FROM w2 JOIN own ON own.w = w2.w AND w2.doc_id <> own.own,
         |    unnest(generate_series(w2.i, w2.i + 7)) AS u(p)
         |  GROUP BY w2.doc_id)
         |SELECT tk.doc_id,
         |  CAST(len(tk.t) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(len(r.rem), 0) AS BIGINT) AS n_removed,
         |  COALESCE(array_to_string(list_filter(tk.t, (tok, j) ->
         |    NOT list_contains(COALESCE(r.rem, CAST([] AS BIGINT[])), j)),
         |    ' '), '') AS clean_text
         |FROM toks tk LEFT JOIN rem r ON r.doc_id = tk.doc_id
         |ORDER BY tk.doc_id""".stripMargin),

    // the WITHIN-document half: later repeats of a window inside ONE
    // document drop; pure scan projection (zero shuffle)
    QueryDef("dedup_spans_intra", (s, dir) =>
      Dedup.removeRepeatedSpansWithinDoc(t(s, dir, "documents"), w = 8)
        .orderBy("doc_id"),
      // dedup_spans_intra: within ONE document, a window text's first
      // start owns; every later occurrence drops its covered positions
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |wins AS (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
         |      list_transform(generate_series(1, len(t) - 7),
         |        j -> {'i': j,
         |              'w': array_to_string(array_slice(t, j, j + 7), ' ')})
         |    ELSE CAST([] AS STRUCT(i BIGINT, w VARCHAR)[]) END) AS s
         |  FROM toks),
         |w2 AS (SELECT doc_id, s.i AS i, s.w AS w FROM wins),
         |fi AS (SELECT doc_id, w, min(i) AS fi FROM w2
         |       GROUP BY doc_id, w),
         |rem AS (SELECT w2.doc_id,
         |    list(DISTINCT p) AS rem
         |  FROM w2 JOIN fi ON fi.doc_id = w2.doc_id AND fi.w = w2.w
         |    AND w2.i <> fi.fi,
         |    unnest(generate_series(w2.i, w2.i + 7)) AS u(p)
         |  GROUP BY w2.doc_id)
         |SELECT tk.doc_id,
         |  CAST(len(tk.t) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(len(r.rem), 0) AS BIGINT) AS n_removed,
         |  COALESCE(array_to_string(list_filter(tk.t, (tok, j) ->
         |    NOT list_contains(COALESCE(r.rem, CAST([] AS BIGINT[])), j)),
         |    ' '), '') AS clean_text
         |FROM toks tk LEFT JOIN rem r ON r.doc_id = tk.doc_id
         |ORDER BY tk.doc_id""".stripMargin),

    // the full recipe: intra collapse first (zero shuffle), then
    // cross-doc ownership over the collapsed texts — the documented
    // mega-document mitigation, shipped as one oracle-checked operator
    QueryDef("dedup_spans_full", (s, dir) =>
      Dedup.dedupSpansFull(t(s, dir, "documents"), w = 8)
        .orderBy("doc_id"),
      // dedup_spans_full: the intra chain feeding the cross chain — the
      // same composition as the Spark operator (clean within, then dedup
      // across). The intermediate token list is kept as a list (Spark's
      // whitespace re-tokenization of a single-space join is the
      // identity on it).
      s"""WITH toks0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |wins0 AS (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
         |      list_transform(generate_series(1, len(t) - 7),
         |        j -> {'i': j,
         |              'w': array_to_string(array_slice(t, j, j + 7), ' ')})
         |    ELSE CAST([] AS STRUCT(i BIGINT, w VARCHAR)[]) END) AS s
         |  FROM toks0),
         |w20 AS (SELECT doc_id, s.i AS i, s.w AS w FROM wins0),
         |fi AS (SELECT doc_id, w, min(i) AS fi FROM w20
         |       GROUP BY doc_id, w),
         |rem0 AS (SELECT w20.doc_id,
         |    list(DISTINCT p) AS rem
         |  FROM w20 JOIN fi ON fi.doc_id = w20.doc_id AND fi.w = w20.w
         |    AND w20.i <> fi.fi,
         |    unnest(generate_series(w20.i, w20.i + 7)) AS u(p)
         |  GROUP BY w20.doc_id),
         |intra AS (SELECT tk.doc_id,
         |    CAST(len(tk.t) AS BIGINT) AS n_tokens,
         |    CAST(COALESCE(len(r.rem), 0) AS BIGINT) AS n_removed_intra,
         |    list_filter(tk.t, (tok, j) ->
         |      NOT list_contains(COALESCE(r.rem, CAST([] AS BIGINT[])), j))
         |      AS t
         |  FROM toks0 tk LEFT JOIN rem0 r ON r.doc_id = tk.doc_id),
         |wins AS (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
         |      list_transform(generate_series(1, len(t) - 7),
         |        j -> {'i': j,
         |              'w': array_to_string(array_slice(t, j, j + 7), ' ')})
         |    ELSE CAST([] AS STRUCT(i BIGINT, w VARCHAR)[]) END) AS s
         |  FROM intra),
         |w2 AS (SELECT doc_id, s.i AS i, s.w AS w FROM wins),
         |own AS (SELECT w, min(doc_id) AS own FROM w2 GROUP BY w
         |        HAVING min(doc_id) <> max(doc_id)),
         |rem AS (SELECT w2.doc_id,
         |    list(DISTINCT p) AS rem
         |  FROM w2 JOIN own ON own.w = w2.w AND w2.doc_id <> own.own,
         |    unnest(generate_series(w2.i, w2.i + 7)) AS u(p)
         |  GROUP BY w2.doc_id)
         |SELECT it.doc_id, it.n_tokens, it.n_removed_intra,
         |  CAST(COALESCE(len(r.rem), 0) AS BIGINT) AS n_removed_cross,
         |  COALESCE(array_to_string(list_filter(it.t, (tok, j) ->
         |    NOT list_contains(COALESCE(r.rem, CAST([] AS BIGINT[])), j)),
         |    ' '), '') AS clean_text
         |FROM intra it LEFT JOIN rem r ON r.doc_id = it.doc_id
         |ORDER BY it.doc_id""".stripMargin),

    // longest consecutive duplicated run per doc — scattered boilerplate
    // vs wholesale-copy discrimination over the same removal set
    QueryDef("dup_span_runs", (s, dir) =>
      Dedup.duplicatedSpanRuns(t(s, dir, "documents"), w = 8)
        .orderBy("doc_id"),
      // dup_span_runs: the dedup_spans removal set per doc, reduced to
      // the LONGEST consecutive position run (gaps-and-islands:
      // p - row_number() is constant within a run)
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |wins AS (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
         |      list_transform(generate_series(1, len(t) - 7),
         |        j -> {'i': j,
         |              'w': array_to_string(array_slice(t, j, j + 7), ' ')})
         |    ELSE CAST([] AS STRUCT(i BIGINT, w VARCHAR)[]) END) AS s
         |  FROM toks),
         |w2 AS (SELECT doc_id, s.i AS i, s.w AS w FROM wins),
         |own AS (SELECT w, min(doc_id) AS own FROM w2 GROUP BY w
         |        HAVING min(doc_id) <> max(doc_id)),
         |rp AS (SELECT DISTINCT w2.doc_id, p
         |  FROM w2 JOIN own ON own.w = w2.w AND w2.doc_id <> own.own,
         |    unnest(generate_series(w2.i, w2.i + 7)) AS u(p)),
         |runs AS (SELECT doc_id, count(*) AS len FROM (
         |    SELECT doc_id, p,
         |      p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
         |    FROM rp) GROUP BY doc_id, g),
         |best AS (SELECT doc_id, max(len) AS max_dup_run,
         |    sum(len) AS dup_positions
         |  FROM runs GROUP BY doc_id)
         |SELECT tk.doc_id,
         |  CAST(len(tk.t) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(b.dup_positions, 0) AS BIGINT) AS dup_positions,
         |  CAST(COALESCE(b.max_dup_run, 0) AS BIGINT) AS max_dup_run
         |FROM toks tk LEFT JOIN best b ON b.doc_id = tk.doc_id
         |ORDER BY tk.doc_id""".stripMargin),

    QueryDef("minhash_lsh", (s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), n = 3, numHashes = 128,
        bands = 32, threshold = 0.5).orderBy("doc_a", "doc_b"),
      jaccardPairsSql),

    // oracle-grade only (not benched): even DF-capped, candidate volume is
    // Ω(Σ df²) and measured 38× superlinear at 10× dup mass
    // (BENCH_scaling.md) — minhash_lsh is the near-dup pair default at
    // scale (same pair set to 0.014% recall, 15× faster). Shingles seen
    // in > 20 documents are excluded from CANDIDATE GENERATION while
    // Jaccard denominators stay pre-cap; the oracle models the cap exactly
    QueryDef("ngram_jaccard", bench = false, build = (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), n = 3, threshold = 0.5,
        maxShingleDF = Some(20)).orderBy("doc_a", "doc_b"),
      // the default (DF-capped) path: candidates only from shingles with
      // df <= 20, but the Jaccard denominator uses PRE-CAP set sizes (matches
      // Dedup.ngramJaccardPairs cap semantics — precision preserved, recall
      // traded)
      oracleSql = s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  generate_series(1, len(t) - 2),
         |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
         |  FROM toks WHERE len(t) >= 3),
         |dfreq AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
         |capped AS (SELECT sh.doc_id, sh.s FROM sh
         |  JOIN dfreq ON sh.s = dfreq.s WHERE dfreq.c <= 20),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b FROM inter
         |JOIN sizes sa ON inter.doc_a = sa.doc_id
         |JOIN sizes sb ON inter.doc_b = sb.doc_id
         |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin),

    // exact all-candidates oracle twin (maxShingleDF = None): O(df²) join
    // volume by definition — never the production default
    QueryDef("ngram_jaccard_exact", bench = false, build = (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), n = 3, threshold = 0.5,
        maxShingleDF = None).orderBy("doc_a", "doc_b"),
      oracleSql = jaccardPairsSql),

    // MinHash-vs-exact recall gate: the claim "minhashLshPairs finds the
    // same pair set as the quadratic exact operator" as an oracle row —
    // if banding ever drops a true pair at this SF, this row goes red.
    // Oracle-only (contains the exact Jaccard side), never benched.
    QueryDef("dedup_recall", bench = false, build = (s, dir) => {
      val docs = t(s, dir, "documents")
      Similarity.annRecall(
        Dedup.minhashLshPairs(docs, n = 3, numHashes = 128, bands = 32,
          threshold = 0.5)
          .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b")),
        Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5,
          maxShingleDF = None)
          .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b")))
    },
      // dedup_recall: both pair frames equal the exact Jaccard set at this
      // SF (minhash_lsh's own oracle IS jaccardPairsSql), so all three
      // counts are the exact-pair count and recall = precision = 1.0
      oracleSql = s"""WITH $jaccardCtes,
         |n AS (SELECT count(*) AS c FROM pairs)
         |SELECT CAST((SELECT c FROM n) AS BIGINT) AS n_exact,
         |  CAST((SELECT c FROM n) AS BIGINT) AS n_approx,
         |  CAST((SELECT c FROM n) AS BIGINT) AS n_hit,
         |  CASE WHEN (SELECT c FROM n) > 0 THEN 1.0 END AS recall,
         |  CASE WHEN (SELECT c FROM n) > 0 THEN 1.0 END AS precision""".stripMargin),

    // prefix-filtered EXACT similarity join (AllPairs): same pair set as
    // ngram_jaccard_exact, candidate volume bounded by rare-prefix dfs
    // instead of all shingle dfs — the exact path that IS benchable
    QueryDef("ppjoin", (s, dir) =>
      Dedup.ppjoinPairs(t(s, dir, "documents"), n = 3, threshold = 0.5)
        .orderBy("doc_a", "doc_b"),
      jaccardPairsSql),

    // bucket-size-capped variant: band buckets holding > 64 docs are
    // dropped before the candidate self-join — the skew guard for biased
    // sign bits (the sf0.01 fixture's two largest buckets hold 108 and 73
    // of 500 docs; the cap prunes exactly those). The signature is fully
    // closed-form, so the oracle recomputes the dropped buckets too and
    // the recall trade itself is hash-checked. Pigeonhole completeness
    // holds only uncapped — this is the high-skew production escape hatch.
    QueryDef("simhash_capped", (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 3, n = 3,
        threshold = 0.5, maxBucketSize = Some(64))
        .orderBy("doc_a", "doc_b"),
      simhashSql(cap = Some(64))),

    // oracle-grade only (not benched): the uncapped band-bucket self-join
    // is skew-prone on biased sign bits (round-6 driver bench: 12.5 s vs
    // 2.1 s capped on identical fixtures) — simhash_capped is the headline.
    QueryDef("simhash", bench = false, build = (s, dir) =>
      // maxHamming = 3 on a 64-bit signature: the Manku et al. (WWW'07)
      // web-dedup operating point; 4x16-bit bands keep the candidate join
      // ~20x smaller than hamming-7's 8x8-bit bands on biased sign bits
      Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 3, n = 3,
        threshold = 0.5).orderBy("doc_a", "doc_b"),
      oracleSql = simhashSql(cap = None)),

    // the incremental ingest shape: docs with doc_id % 7 = 0 arrive as the
    // new batch; the rest is the already-signed corpus (signature index
    // only — corpus text is never re-read). Verification is the MinHash
    // Jaccard ESTIMATE (>= 64 of 128 components equal), recomputed exactly
    // by the oracle from the closed-form polynomial/LCG signature chain.
    QueryDef("incremental_neardup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpusSigs = Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 7 =!= 0), reproducible = true)
      Dedup.incrementalNearDups(
        docs.filter(col("doc_id") % 7 === 0), corpusSigs)
        .orderBy("doc_a", "doc_b")
    },
      // incremental ingest: sign-once corpus index + per-batch banding,
      // verified by the signature-estimated Jaccard — the whole chain is
      // closed-form and recomputed here
      incrementalNearDupSql),

    // the PERSISTED-index variant of incremental_neardup: corpus
    // signatures are written ONCE as the co-located two-table bucketed
    // layout (writeBandedIndex; memoized across bench passes — the build
    // is per-corpus, the timed steady state is per-batch), then the batch
    // joins against it with zero Exchange on the index side (DedupSpec
    // plan assertion). Same output contract and the same oracle SQL as
    // incremental_neardup.
    QueryDef("incremental_neardup_indexed", (s, dir) => {
      val docs = t(s, dir, "documents")
      val base = "graft_nd_idx_" + math.abs(dir.hashCode).toString
      memoIndex(s, base, Seq("_bands", "_sigs")) {
        Dedup.writeBandedIndex(
          Dedup.minhashSignatures(docs.filter(col("doc_id") % 7 =!= 0)), base)
      }
      Dedup.incrementalNearDupsAgainstIndex(
        Dedup.minhashSignatures(docs.filter(col("doc_id") % 7 === 0)), base)
        .orderBy("doc_a", "doc_b")
    },
      // identical contract through the persisted bucketed index
      incrementalNearDupSql),

    // incremental embedding near-dup: the corpus exists only as 8-byte
    // hyperplane signatures; the batch (vec_id % 7 == 0, mirroring
    // incremental_neardup's split) compares by signature hamming.
    // Banding is pigeonhole-exact (bands > maxHamming), so the oracle is
    // the direct quadratic hamming join.
    QueryDef("incremental_embedding_neardup", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Dedup.incrementalEmbeddingNearDups(
        emb.filter(col("vec_id") % 7 === 0),
        Dedup.embeddingSignatures(emb.filter(col("vec_id") % 7 =!= 0)))
        .orderBy("vec_a", "vec_b")
    },
      // incremental embedding near-dup: signatures are the closed-form
      // 63-plane sign packing, banding is pigeonhole-exact (21 bands >
      // H=20), so the oracle is the DIRECT quadratic hamming join over
      // recomputed signatures — the banded candidate path must equal it
      incrementalEmbeddingNearDupSql),

    // identical contract through the persisted bucketed signature index
    // (the 100 TB steady-state shape: the corpus-scale side joins at its
    // bucketing with zero Exchange) — mirrors incremental_neardup_indexed
    QueryDef("incremental_embedding_neardup_indexed", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = "graft_emb_idx_" + math.abs(dir.hashCode).toString
      memoIndex(s, base, Seq("_bands", "_sigs")) {
        Dedup.writeEmbeddingBandedIndex(
          Dedup.embeddingSignatures(emb.filter(col("vec_id") % 7 =!= 0)),
          base)
      }
      Dedup.incrementalEmbeddingNearDupsAgainstIndex(
        Dedup.embeddingSignatures(emb.filter(col("vec_id") % 7 === 0)), base)
        .orderBy("vec_a", "vec_b")
    },
      // identical contract through the persisted bucketed index
      incrementalEmbeddingNearDupSql),

    // integer PageRank over the symmetrized near-dup pair graph: the
    // transitive "which copy is canonical" centrality signal
    QueryDef("pagerank", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs, n = 3, numHashes = 128,
        bands = 32, threshold = 0.5)
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      Graph.pageRank(edges, docs, iters = 5).orderBy("doc_id")
    },
      pageRankSql),

    // per-document triangle counts over the near-dup graph: local
    // clique density — "replica farm" vs "one stray copy"
    QueryDef("triangle_count", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs, n = 3, numHashes = 128,
        bands = 32, threshold = 0.5)
      Graph.triangleCounts(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
        docs).orderBy("doc_id")
    },
      // triangles with corners x < y < z enumerated exactly once from the
      // canonical (doc_a < doc_b) pair list, then fanned out to corners
      s"""WITH $jaccardCtes,
         |tri AS (SELECT p1.doc_a AS x, p1.doc_b AS y, p2.doc_b AS z
         |  FROM pairs p1
         |  JOIN pairs p2 ON p2.doc_a = p1.doc_b
         |  JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b),
         |tn AS (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri),
         |tc AS (SELECT n, CAST(count(*) AS BIGINT) AS t FROM tn GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(tc.t, CAST(0 AS BIGINT)) AS triangles
         |FROM documents d LEFT JOIN tc ON d.doc_id = tc.n
         |ORDER BY doc_id""".stripMargin),

    // Watts–Strogatz local clustering: clique (1000‰) vs hub-and-spoke
    // (0‰) duplication families; oracle-only — its cost IS the triangle
    // pass plus a degree join (benching would double-count)
    QueryDef("clustering_coeff", bench = false, build = (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs, n = 3, numHashes = 128,
        bands = 32, threshold = 0.5)
      Graph.clusteringCoefficients(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
        docs).orderBy("doc_id")
    },
      // triangle fan-out joined with symmetric degrees; same integer DIV
      oracleSql = s"""WITH $jaccardCtes,
         |tri AS (SELECT p1.doc_a AS x, p1.doc_b AS y, p2.doc_b AS z
         |  FROM pairs p1
         |  JOIN pairs p2 ON p2.doc_a = p1.doc_b
         |  JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b),
         |tn AS (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri),
         |tc AS (SELECT n, CAST(count(*) AS BIGINT) AS t FROM tn GROUP BY 1),
         |dn AS (SELECT doc_a AS n FROM pairs
         |  UNION ALL SELECT doc_b FROM pairs),
         |dg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM dn GROUP BY 1)
         |SELECT doc.doc_id,
         |  COALESCE(dg.d, CAST(0 AS BIGINT)) AS degree,
         |  COALESCE(tc.t, CAST(0 AS BIGINT)) AS triangles,
         |  CASE WHEN COALESCE(dg.d, 0) >= 2
         |       THEN CAST(2000 * COALESCE(tc.t, 0) // (dg.d * (dg.d - 1))
         |            AS BIGINT)
         |       ELSE CAST(0 AS BIGINT) END AS coeff_permille
         |FROM documents doc
         |LEFT JOIN tc ON doc.doc_id = tc.n
         |LEFT JOIN dg ON doc.doc_id = dg.n
         |ORDER BY doc.doc_id""".stripMargin),
  )

  private val jaccardPairsSql =
    s"WITH $jaccardCtes\nSELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b"

  /** Unrolled integer PageRank over the exact near-dup pair graph
   * (minhash at these parameters reproduces the exact pair set — same
   * equivalence the minhash_lsh oracle relies on). Five fixed iterations
   * as chained CTEs; every step is BIGINT floor arithmetic, so the ranks
   * are bit-exact across engines. */
  private val pageRankSql: String = {
    val iterCtes = (1 to 5).map { i =>
      s"""p$i AS (SELECT n.doc_id,
         |  CAST(150000 + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT) AS pr
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS doc_id, CAST(sum(p${i - 1}.pr // e.d) AS BIGINT) AS m
         |    FROM e JOIN p${i - 1} ON e.src = p${i - 1}.doc_id
         |    GROUP BY 1) s ON n.doc_id = s.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $jaccardCtes,
       |ed AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |       UNION ALL SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM ed GROUP BY 1),
       |e AS (SELECT ed.src, ed.dst, deg.d FROM ed JOIN deg ON ed.src = deg.src),
       |n AS (SELECT doc_id FROM documents),
       |p0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS pr FROM n),
       |$iterCtes
       |SELECT doc_id, pr AS pr_micro FROM p5 ORDER BY doc_id""".stripMargin
  }

  /** DuckDB simhash oracle: the FULL operator contract —
   * `hamming(simhash_a, simhash_b) <= 3 AND jaccard >= 0.5` — recomputed
   * from scratch (token hashes, bit sums, sign bits, pairwise hamming).
   *
   * With `cap = Some(c)` the oracle ALSO recomputes the 4 x 16-bit band
   * buckets (bit k of block t = bits[16t + k]), drops any (band, bucket)
   * group holding more than c docs, and intersects with the surviving
   * candidate pairs — so the recall-only pruning of
   * `Dedup.simhashPairs(maxBucketSize = ...)` is itself hash-checked.
   * Uncapped, candidate membership is redundant (pigeonhole guarantees
   * every qualifying pair is a candidate) and is omitted. */
  private def simhashSql(cap: Option[Int]): String = {
    val candCtes = cap match {
      case Some(c) =>
        s"""bands AS (SELECT doc_id, t.band,
           |    list_sum(list_transform(generate_series(1, 16),
           |      k -> bits[16 * t.band + k] * (1 << (k - 1)))) AS bucket
           |  FROM bits, (SELECT unnest(generate_series(0, 3)) AS band) t),
           |ok AS (SELECT band, bucket FROM bands
           |  GROUP BY band, bucket HAVING count(*) <= $c),
           |kept AS (SELECT b.doc_id, b.band, b.bucket FROM bands b
           |  JOIN ok ON b.band = ok.band AND b.bucket = ok.bucket),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM kept a JOIN kept b
           |  ON a.band = b.band AND a.bucket = b.bucket
           |    AND a.doc_id < b.doc_id),
           |""".stripMargin
      case None => ""
    }
    val candJoin = if (cap.isDefined)
      "JOIN cand c ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b\n" else ""
    s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
       |th AS (SELECT doc_id, list_transform(t, w -> ${duckToken63("w")}) AS hs
       |       FROM toks),
       |bits AS (SELECT doc_id, list_transform(generate_series(0, 63),
       |  b -> CASE WHEN COALESCE(list_sum(list_transform(hs,
       |         h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
       |       THEN 1 ELSE 0 END) AS bits FROM th),
       |${candCtes}sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |  generate_series(1, len(t) - 2),
       |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
       |  FROM toks WHERE len(t) >= 3),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jac AS (SELECT doc_a, doc_b FROM inter
       |  JOIN sizes sa ON inter.doc_a = sa.doc_id
       |  JOIN sizes sb ON inter.doc_b = sb.doc_id
       |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5)
       |SELECT j.doc_a AS doc_a, j.doc_b AS doc_b FROM jac j
       |${candJoin}JOIN bits ba ON ba.doc_id = j.doc_a
       |JOIN bits bb ON bb.doc_id = j.doc_b
       |WHERE list_sum(list_transform(generate_series(1, 64),
       |  i -> CASE WHEN ba.bits[i] <> bb.bits[i] THEN 1 ELSE 0 END)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** DuckDB twin of incremental_neardup: the ENTIRE signature chain is
   * closed-form — polynomial shingle hash, the 128 LCG permutation (a, b)
   * pairs inlined below from [[graft.functions.TextFns.minhashParams]]
   * (including its a==0 guard, by construction), polynomial band buckets —
   * so DuckDB recomputes the exact signatures, the exact candidate set
   * (pairs sharing a band bucket where at least one side is the NEW batch,
   * doc_id % 7 = 0), and the exact >= 64-of-128 component-equality
   * Jaccard estimate. Corpus x corpus pairs are excluded by contract. */
  private val incrementalNearDupSql: String = {
    val ps = graft.functions.TextFns.minhashParams(128)
    val aLit = ps.map(_._1).mkString("[", ", ", "]")
    val bLit = ps.map(_._2).mkString("[", ", ", "]")
    s"""WITH p AS (SELECT CAST($aLit AS BIGINT[]) AS pa,
       |                  CAST($bLit AS BIGINT[]) AS pb),
       |toks AS (SELECT doc_id, $toksSql AS t FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |  generate_series(1, len(t) - 2),
       |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
       |  FROM toks WHERE len(t) >= 3),
       |hsets AS (SELECT doc_id, list(DISTINCT h) AS hs FROM
       |  (SELECT doc_id, ${duckPolyFragment("s", 31, 1000000007L)} AS h
       |   FROM sh) GROUP BY doc_id),
       |sigs AS (SELECT doc_id, list_transform(generate_series(1, 128),
       |    i -> list_min(list_transform(hs,
       |      h -> (h * pa[i] + pb[i]) % 1000000007))) AS sig
       |  FROM hsets, p),
       |bands AS (SELECT doc_id, band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      sig[band * 4 + 1 : band * 4 + 4]),
       |      (acc, x) -> (acc * 1000003 + x) % 2147483647) AS bucket
       |  FROM sigs, (SELECT unnest(generate_series(0, 31)) AS band)),
       |cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
       |    greatest(a.doc_id, b.doc_id) AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |      AND a.doc_id <> b.doc_id
       |  WHERE a.doc_id % 7 = 0)
       |SELECT c.doc_a, c.doc_b FROM cand c
       |JOIN sigs sa ON sa.doc_id = c.doc_a
       |JOIN sigs sb ON sb.doc_id = c.doc_b
       |WHERE list_sum(list_transform(generate_series(1, 128),
       |  i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) >= 64
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** DuckDB twin of the incremental embedding near-dup contract: the
   * closed-form 63-plane signature packing, then the DIRECT quadratic
   * hamming join (banding is pigeonhole-exact, so the banded paths must
   * equal it). Shared by incremental_embedding_neardup and its
   * bucketed-index twin. */
  private val incrementalEmbeddingNearDupSql =
    s"""WITH planes AS (
       |  SELECT p, list_transform(generate_series(0, 63), d ->
       |    ($planeMixSql % 2001 - 1000) / 1000.0) AS pv
       |  FROM generate_series(0, 62) t(p)),
       |bits AS (
       |  SELECT e.vec_id,
       |    CASE WHEN ${dotSql("e.embedding", "pl.pv")} > 0
       |         THEN 1::BIGINT << pl.p ELSE 0 END AS bit
       |  FROM embeddings e, planes pl),
       |sigs AS (
       |  SELECT vec_id, CAST(sum(bit) AS BIGINT) AS sig
       |  FROM bits GROUP BY vec_id)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 20
       |  AND (a.vec_id % 7 = 0 OR b.vec_id % 7 = 0)
       |ORDER BY vec_a, vec_b""".stripMargin
}
