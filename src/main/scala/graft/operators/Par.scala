package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/**
 * Parallelism pin for CPU-DENSE candidate/verify stages (optimization
 * guide §2.5/§2.6: stragglers and idle capacity).
 *
 * AQE's partition coalescing sizes post-shuffle partitions by BYTES
 * (`advisoryPartitionSizeInBytes` / `minPartitionSize`), which is the
 * right model for I/O- and shuffle-bound stages but is blind to stages
 * whose per-row cost is CPU: a candidate-pair verify (array_intersect
 * over ~50-element shingle sets, banded levenshtein, 64-dim dot
 * products) carries ~16-byte rows that each cost microseconds of CPU.
 * Measured at sf0.1 (round 21): the ppjoin prefix-join + exact-Jaccard
 * verify pipeline — 655k candidate rows, 8.6 s of task time — ran on 2
 * AQE-coalesced partitions of a 32-core session (3.3 MB each, so
 * byte-coalescing was "right"), serializing 96% of the machine.
 *
 * [[widen]] repartitions such a frame to the session's configured
 * shuffle parallelism (`spark.sql.shuffle.partitions` — core count in
 * GraftSession.local, the cluster's shuffle sizing in production) with
 * an EXPLICIT numPartitions, which plans a REPARTITION_BY_NUM exchange
 * that AQE never re-coalesces. Keys must be provided (hash
 * partitioning; a keyless round-robin would pay the
 * sortBeforeRepartition local sort) and should be fine-grained enough
 * to spread hot candidates (pair ids, (band, bucket), prefix
 * positions).
 *
 * Use ONLY where the downstream per-row CPU dominates the exchange of
 * the frame's own (narrow, key-shaped) rows — candidate pairs before a
 * verify join, bucket rows before a banded self-join. Never widen
 * payload-carrying frames (token arrays, vectors, texts): at scale
 * that is a second full shuffle of the heavy bytes the operators are
 * designed to move at most once.
 */
private[graft] object Par {
  // Input-size gates on these pins lost when measured: plans/r22/SPOT_scale.md

  def widen(df: DataFrame, cols: Column*): DataFrame = widenBy(df, 1, cols: _*)

  /** [[widen]] with `factor`x the configured shuffle parallelism. Two
   * uses: more waves for very CPU-dense stages, and — the subtle one —
   * keeping a SUBSET-keyed pin alive: a repartition whose partitioning
   * (keys AND count) exactly equals the child's inherited layout is
   * removed at planning, so pinning by a prefix of an upstream
   * aggregate's keys (to keep a downstream groupBy co-located and
   * fully combining) needs a different partition count to survive
   * (measured on bm25TopK: the doc_id pin at 1x silently vanished and
   * the scoring aggregate stayed on 2 byte-coalesced partitions). */
  def widenBy(df: DataFrame, factor: Int, cols: Column*): DataFrame = {
    require(cols.nonEmpty, "widen needs hash keys (keyless repartition sorts)")
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(factor * p, cols: _*)
  }
}
