package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/**
 * Driver contract — one `queries` entry per implemented operator from
 * SURVEY.md §2 plus the LLM-pipeline extension surface, each with a
 * DuckDB-runnable `oracleSql` twin over the same parquet tables.
 *
 * Each query is one [[graft.queries.QueryDef]] (name, Spark plan, oracle
 * SQL, bench flag) in a per-family object under `graft.queries`;
 * `queries`, `oracleSql` and `benchQueries` are views of that one
 * ordered registry.
 *
 * Determinism rules shared by every query/oracle pair:
 *   - every query ends in an explicit ORDER BY on both sides;
 *   - count-like columns are BIGINT on both sides;
 *   - monetary aggregates run in DECIMAL (exact, order-independent) and are
 *     cast to DOUBLE only at the end, so Spark's partial/final aggregation
 *     order cannot perturb the result vs the single-threaded oracle;
 *   - double-typed derived values are either raw divisions of identical
 *     integer inputs (bit-identical across engines) or guarded by explicit
 *     CASE so ANSI Spark and DuckDB agree on edge rows.
 */
object SparkEntry {

  /** Every query in bench order; each `bench = false` def sits beside
   * the benched twin it is measured against. */
  private lazy val registry: Seq[QueryDef] = {
    val all = Seq(StarSchema.defs, Profiling.defs, ReferenceParity.defs,
      TextStats.defs, Deduplication.defs, VectorSearch.defs, Media.defs,
      CorpusCuration.defs, EventTime.defs, NearDupClusters.defs,
      TextCleaning.defs, Reshaping.defs, TextScoring.defs, Splits.defs,
      Audits.defs, Intake.defs).flatten
    val dups = all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"query names registered twice: ${dups.mkString(", ")}")
    all
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q3_top_revenue")(spark, "/root/testdata/sf0.001")

  /** Headline bench set, in registry order: every query not marked
   * `bench = false`. */
  def benchQueries: Seq[String] = registry.filter(_.bench).map(_.name)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(d => d.name -> d.build).toMap

  def oracleSql: Map[String, String] =
    registry.map(d => d.name -> d.oracleSql).toMap
}
