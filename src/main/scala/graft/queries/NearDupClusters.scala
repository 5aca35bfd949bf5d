package graft.queries

import graft.operators.{Curation, Dedup}
import graft.queries.Shared._

/** Near-dup connected components and containment pairs. */
private[graft] object NearDupClusters {

  def defs: Seq[QueryDef] = Seq(
    QueryDef("neardup_clusters", (s, dir) =>
      Dedup.nearDupClusters(t(s, dir, "documents")).orderBy("doc_id"),
      // connected components over the near-dup pair graph: transitive closure
      // via recursive CTE, cluster id = min reachable doc id
      s"""WITH RECURSIVE $nearDupClusterCtes
         |SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""".stripMargin),

    // leakage-free split (assign whole near-dup clusters to one side);
    // oracle-grade only: its cost IS neardup_clusters (already benched)
    // plus a hash projection — benching it would double-count that pass
    QueryDef("cluster_split", bench = false, build = (s, dir) =>
      Curation.clusterSplit(t(s, dir, "documents"), valPct = 10)
        .orderBy("doc_id"),
      // cluster-hash split: same recursive closure, split decided by the
      // cluster id's polynomial hash (the trainValSplit rule on cluster_id)
      oracleSql = s"""WITH RECURSIVE $nearDupClusterCtes
         |SELECT doc_id, cluster_id,
         |  CASE WHEN ${polyHashSql("CAST(cluster_id AS VARCHAR)")} % 100 < 10
         |       THEN 'val' ELSE 'train' END AS split
         |FROM cl ORDER BY doc_id""".stripMargin),

    // materialized dedup: cluster representatives + absorbed counts
    QueryDef("neardup_dedup", (s, dir) =>
      Dedup.nearDupDedup(t(s, dir, "documents")).orderBy("keep_id"),
      // materialized dedup: one row per cluster representative
      s"""WITH RECURSIVE $nearDupClusterCtes
         |SELECT cluster_id AS keep_id, CAST(count(*) AS BIGINT) AS n_members
         |FROM cl GROUP BY cluster_id ORDER BY keep_id""".stripMargin),

    // quality-aware canonicalization: per-cluster argmax(quality, -id)
    // instead of min id — the representative a training corpus keeps
    QueryDef("neardup_dedup_quality", (s, dir) =>
      Dedup.nearDupDedupByQuality(t(s, dir, "documents"))
        .orderBy("doc_id"),
      // quality-aware canonicalization: same recursive closure, keep the
      // micro-quantized-quality argmax (ties -> lowest id) per cluster
      s"""WITH RECURSIVE $nearDupClusterCtes,
         |qs AS ($qualityScoreSql),
         |jq AS (SELECT cl.doc_id, cl.cluster_id,
         |    CAST(round(qs.quality_score * 1000000) AS BIGINT) AS q_micro
         |  FROM cl JOIN qs ON cl.doc_id = qs.doc_id),
         |best AS (SELECT doc_id AS keep_id, cluster_id, n_members FROM (
         |  SELECT doc_id, cluster_id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY q_micro DESC, doc_id ASC) AS rn,
         |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         |      AS n_members
         |  FROM jq) WHERE rn = 1)
         |SELECT jq.doc_id, jq.cluster_id, b.keep_id,
         |  jq.doc_id = b.keep_id AS kept, b.n_members
         |FROM jq JOIN best b ON jq.cluster_id = b.cluster_id
         |ORDER BY jq.doc_id""".stripMargin),

    // the SCALE path for containment: one-sided prefix filter (inner's
    // rarest tokens vs all tokens) + exact array-intersect verify — no
    // recall loss, candidates track the output instead of Σ df²
    QueryDef("containment_exact", (s, dir) =>
      Dedup.containmentPairsExact(t(s, dir, "documents"), n = 3,
        threshold = 0.8).orderBy("doc_inner", "doc_outer"),
      // containment_exact twin: UNCAPPED intersections (the Spark side's
      // prefix filter is lossless, so the ground truth is the full join)
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  generate_series(1, len(t) - 2),
         |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
         |  FROM toks WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS da, b.doc_id AS db,
         |    CAST(count(*) AS BIGINT) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |dirs AS (
         |  SELECT da AS doc_inner, db AS doc_outer, i, sa.sz AS szi
         |  FROM inter JOIN sizes sa ON inter.da = sa.doc_id
         |  UNION ALL
         |  SELECT db AS doc_inner, da AS doc_outer, i, sb.sz AS szi
         |  FROM inter JOIN sizes sb ON inter.db = sb.doc_id)
         |SELECT doc_inner, doc_outer,
         |  CAST(i * 1000 // szi AS BIGINT) AS containment_permille
         |FROM dirs
         |WHERE CAST(i AS DOUBLE) >= 0.8 * szi
         |ORDER BY doc_inner, doc_outer""".stripMargin),

    // asymmetric containment (quote/boilerplate/subset detection):
    // C(inner->outer) = |inner ∩ outer| / |inner| >= 0.8, both
    // directions from one counted intersection; Jaccard-invisible
    // short-in-long embeddings surface here. Oracle-grade only (not
    // benched): it shares ngram_jaccard's counted-intersection frame and
    // its Ω(Σ df²) candidate volume; containment_exact (one-sided prefix
    // filter + exact verify) is its benched scale path, the ppjoin
    // relationship
    QueryDef("containment_pairs", bench = false, build = (s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), n = 3,
        threshold = 0.8, maxShingleDF = Some(20))
        .orderBy("doc_inner", "doc_outer"),
      // containment_pairs twin: same capped intersections + pre-cap sizes,
      // each direction tested against its own inner size
      oracleSql = s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |  generate_series(1, len(t) - 2),
         |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
         |  FROM toks WHERE len(t) >= 3),
         |dfreq AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
         |capped AS (SELECT sh.doc_id, sh.s FROM sh
         |  JOIN dfreq ON sh.s = dfreq.s WHERE dfreq.c <= 20),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS da, b.doc_id AS db,
         |    CAST(count(*) AS BIGINT) AS i
         |  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |dirs AS (
         |  SELECT da AS doc_inner, db AS doc_outer, i, sa.sz AS szi
         |  FROM inter JOIN sizes sa ON inter.da = sa.doc_id
         |  UNION ALL
         |  SELECT db AS doc_inner, da AS doc_outer, i, sb.sz AS szi
         |  FROM inter JOIN sizes sb ON inter.db = sb.doc_id)
         |SELECT doc_inner, doc_outer,
         |  CAST(i * 1000 // szi AS BIGINT) AS containment_permille
         |FROM dirs
         |WHERE CAST(i AS DOUBLE) >= 0.8 * szi
         |ORDER BY doc_inner, doc_outer""".stripMargin),
  )

  /** Near-dup connected components as CTEs ending in
   * `cl(doc_id, cluster_id)` — shared by the clusters and materialized-
   * dedup oracles (prefix with WITH RECURSIVE). */
  private val nearDupClusterCtes =
    s"""$jaccardCtes,
       |ed AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |       UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, dst FROM ed
       |  UNION
       |  SELECT reach.id, ed.dst FROM reach JOIN ed ON reach.r = ed.src),
       |cl AS (SELECT d.doc_id,
       |  CAST(least(d.doc_id, COALESCE(min(reach.r), d.doc_id)) AS BIGINT)
       |    AS cluster_id
       |  FROM documents d LEFT JOIN reach ON reach.id = d.doc_id
       |  GROUP BY d.doc_id)""".stripMargin
}
