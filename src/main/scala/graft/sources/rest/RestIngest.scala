package graft.sources.rest

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Convenience wrappers over [[PaginatedJsonSource]].
 *
 * `read` returns the raw one-JSON-object-per-row frame; `readJson`
 * materializes it to a typed table via Spark's JSON inference — the
 * union-of-keys / missing-keys-null semantics of `pd.DataFrame(all_objs)`
 * (reference: omnichannel_to_bq.py:48,61; SURVEY.md §2.1-S4). Ragged pages
 * (different key sets per page) land as one wide schema with nulls, which
 * is exactly the reference behavior.
 *
 * Fetch once: `readJson` lands the raw `value` rows in one eager local
 * checkpoint before inference, so every page is requested once — the
 * reference's single `all_objs` accumulation (omnichannel_to_bq.py:33-61).
 * Schema inference and every later action on the returned frame (empty
 * check, sort sampling, preview, writes) read that snapshot, never the
 * API, so the schema and the rows cannot come from different reads of a
 * changing source.
 */
object RestIngest {

  def read(spark: SparkSession, options: Map[String, String]): DataFrame =
    spark.read.format(classOf[PaginatedJsonSource].getName)
      .options(options).load()

  def readJson(spark: SparkSession, options: Map[String, String]): DataFrame = {
    import spark.implicits._
    val landed = read(spark, options).localCheckpoint(eager = true)
    spark.read.json(landed.as[String])
  }
}
