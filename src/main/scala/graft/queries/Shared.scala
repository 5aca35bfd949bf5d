package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Fixtures

/** Helpers that more than one query family uses: the fixture loader and
 * persisted-index memo on the Spark side, and the DuckDB fragments several
 * oracles share. */
private[graft] object Shared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Fixtures.table(s, dir, name)

  /** One-time (per JVM) persisted-index build for the `*_indexed` bench
   * queries. The default in-memory catalog starts empty in every JVM,
   * but a previous JVM's warehouse DIRECTORY can outlive it — so before
   * the build, clear any stale locations for ALL the index's tables
   * (plus staged-swap leftovers), avoiding LOCATION_ALREADY_EXISTS.
   * The index counts as present only when EVERY table exists: a
   * half-present set (build crash) rebuilds instead of serving
   * missing-table errors or generation skew. */
  def memoIndex(s: SparkSession, base: String,
                suffixes: Seq[String])(build: => Unit): Unit =
    if (!suffixes.forall(sfx => s.catalog.tableExists(base + sfx))) {
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      for (sfx <- suffixes;
           full <- Seq(sfx, sfx + "__swap_tmp", sfx + "__swap_backup")) {
        s.sql(s"DROP TABLE IF EXISTS `$base$full`")
        fs.delete(new org.apache.hadoop.fs.Path(wh, base + full), true)
      }
      build
    }

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL — same semantics, same ORDER BY, same output types.
  // ---------------------------------------------------------------------

  /** DuckDB expression: whitespace tokens of `text` (empty tokens dropped,
   * mirroring TextFns.tokens). */
  val toksSql =
    "list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')"

  /** DuckDB CTE body computing exact 3-gram Jaccard >= 0.5 pairs into a
   * `pairs(doc_a, doc_b)` CTE — shared by the three near-dup pair operators
   * (they differ only in candidate generation; all verify by exact Jaccard)
   * and by the connected-components clusters oracle. */
  val jaccardCtes =
    s"""toks AS (SELECT doc_id, $toksSql AS t FROM documents),
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
       |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5)""".stripMargin

  /** DuckDB quality-score body (no ORDER BY) — shared by the
   * quality_score and quality_band oracles. */
  val qualityScoreSql =
    s"""SELECT doc_id, n_tokens, n_stop, n_punct, n_chars, stop_ratio,
       |  round(CAST(least(n_tokens, 200) AS DOUBLE) / 200 * 0.5
       |        + stop_ratio * 0.3
       |        + (1.0 - CAST(least(n_punct, 50) AS DOUBLE) / 50) * 0.2, 6) AS quality_score
       |FROM (
       |  SELECT doc_id, n_tokens, n_stop, n_punct, n_chars,
       |    CASE WHEN n_tokens > 0
       |         THEN round(n_stop / CAST(n_tokens AS DOUBLE), 6)
       |         ELSE 0.0 END AS stop_ratio
       |  FROM (
       |    SELECT doc_id,
       |      len(t) AS n_tokens,
       |      len(list_filter(t, w -> list_contains(
       |        ['the','a','and','of','to','in','is','it'], w))) AS n_stop,
       |      CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
       |      CAST(length(text) AS BIGINT) AS n_chars
       |    FROM (SELECT doc_id, text, $toksSql AS t FROM documents)))""".stripMargin

  /** DuckDB fragment: polynomial hash of non-empty lambda variable `v`
   * (mirrors TextFns.polyHashFragment). */
  def duckPolyFragment(v: String, mult: Long, mod: Long): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
    s"list_transform(generate_series(1, length($v)), " +
    s"i -> CAST(ascii(substr($v, i, 1)) AS BIGINT))), " +
    s"(acc, x) -> (acc * $mult + x) % $mod)"

  /** DuckDB fragment: 63-bit token hash (mirrors TextFns.token63Fragment). */
  def duckToken63(v: String): String =
    s"(${duckPolyFragment(v, 31, 1000000007L)} " +
    s"+ ${duckPolyFragment(v, 131, 998244353L)} * 1073741824 " +
    s"+ (${duckPolyFragment(v, 137, 1000003L)} % 8) * 1152921504606846976)"

  /** DuckDB scalar: reproducible polynomial hash of expression `e`
   * (mirrors TextFns.polyHash). */
  def polyHashSql(e: String): String =
    s"""CASE WHEN length($e) = 0 THEN 0 ELSE list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series(1, length($e)),
       |                   i -> CAST(ascii(substr($e, i, 1)) AS BIGINT))),
       |  (acc, x) -> (acc * 31 + x) % 1000000007) END""".stripMargin

  /** DuckDB scalar: sequential-order double dot product of two FLOAT[]
   * columns — same accumulation order as VectorFns.dot. */
  def dotSql(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, len($a)),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))""".stripMargin

  /** The Gopher pass conjunction over `gbase` columns, parameterized by
   * the word-count bounds — ONE definition of the rule battery's SQL,
   * used by the gopher_rules oracle (50/100000) and the
   * intake_pipeline_v3 oracle (20/100000). Any rule change lands in
   * both oracles and leaves only the Scala twin to sync. */
  def gopherPassSql(minWords: Int, maxWords: Int): String =
    s"""(n_words >= $minWords AND n_words <= $maxWords
       |    AND n_words > 0 AND sum_word_len >= n_words * 3
       |    AND sum_word_len <= n_words * 10
       |    AND n_symbols * 10 <= n_words
       |    AND n_alpha_words * 5 >= n_words * 4
       |    AND n_stop_distinct >= 2)""".stripMargin

  /** Shared DuckDB CTE `gbase(doc_id, n_words, sum_word_len,
   * n_alpha_words, n_stop_distinct, n_symbols)` — the per-document
   * integer stats the Gopher rule battery compares. Shared by
   * gopher_rules and intake_pipeline_v3. */
  val gopherBaseCte =
    s"""gbase AS (SELECT doc_id,
       |  CAST(len(t) AS BIGINT) AS n_words,
       |  CAST(COALESCE(list_sum(list_transform(t,
       |    w -> CAST(length(w) AS BIGINT))), 0) AS BIGINT) AS sum_word_len,
       |  CAST(len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]')))
       |    AS BIGINT) AS n_alpha_words,
       |  CAST(len(list_intersect(t,
       |    ['the', 'a', 'and', 'of', 'to', 'in', 'is', 'it'])) AS BIGINT)
       |    AS n_stop_distinct,
       |  CAST(len(regexp_extract_all(text, '#|\\.{3}')) AS BIGINT)
       |    AS n_symbols
       |  FROM (SELECT doc_id, text, $toksSql AS t FROM documents))""".stripMargin

  /** Shared DuckDB CTE chain ending in `lmscore(doc_id, n_bigrams,
   * lm_score)` — the corpus-count bigram LM with per-term micro-nat
   * floors. Shared by lm_score and intake_pipeline_v3. */
  val lmScoreCtes =
    s"""lmtoks AS (SELECT doc_id, $toksSql AS t FROM documents),
       |lmbg AS (
       |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
       |        FROM lmtoks WHERE len(t) >= 2)),
       |lmc12 AS (SELECT w1, w2, count(*) AS c12 FROM lmbg GROUP BY w1, w2),
       |lmc1 AS (SELECT w1, count(*) AS c1 FROM lmbg GROUP BY w1),
       |lmst AS (
       |  SELECT doc_id, count(*) AS nb,
       |    sum(CAST(floor(ln(CAST(lmc12.c12 AS DOUBLE) / lmc1.c1) * 1e6)
       |        AS BIGINT)) AS s
       |  FROM lmbg JOIN lmc12 USING (w1, w2) JOIN lmc1 USING (w1)
       |  GROUP BY doc_id),
       |lmscore AS (
       |  SELECT d.doc_id,
       |    CAST(COALESCE(st.nb, 0) AS BIGINT) AS n_bigrams,
       |    CASE WHEN st.nb > 0
       |      THEN round(CAST(st.s AS DOUBLE) / st.nb / 1e6, 6)
       |      ELSE 0.0 END AS lm_score
       |  FROM documents d LEFT JOIN lmst st ON d.doc_id = st.doc_id)""".stripMargin

  /** DuckDB twin of Similarity.planeComponent's mixed LCG (two rounds
   * with an xorshift between them — the mix decorrelates planes; see
   * the scaladoc there), producing the raw 31-bit value BEFORE the
   * `% 2001 - 1000) / 1000.0` range mapping. Every intermediate is
   * nonnegative and < 2^31, so no abs and no HUGEINT is needed. */
  def mixLcgSql(seed: String): String = {
    val x1 = s"((1103515245 * ($seed) + 12345) % 2147483647)"
    s"((1103515245 * xor($x1, $x1 >> 13) + 12345) % 2147483647)"
  }

  val planeMixSql = mixLcgSql("p * 131 + d + 1")
}
