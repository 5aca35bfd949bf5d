package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query.
 *
 * @param name      the driver-facing key (`SparkEntry.queries`, the
 *                  parquet directory Verify writes, the bench record)
 * @param build     the Spark plan over a fixture directory
 * @param oracleSql its DuckDB twin over the same parquet tables: same
 *                  semantics, same ORDER BY, same output types
 * @param bench     in the headline bench set; `false` only for
 *                  oracle-grade variants (exact quadratic twins, recall
 *                  gates, passes another query already times), each with
 *                  its reason beside the def */
final case class QueryDef(name: String,
                          build: (SparkSession, String) => DataFrame,
                          oracleSql: String,
                          bench: Boolean = true)
