package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.queries.Shared._

/** Pivot, ragged union and cube aggregation. */
private[graft] object Reshaping {

  def defs: Seq[QueryDef] = Seq(
    QueryDef("pivot_counts", (s, dir) =>
      Relational.pivotCounts(t(s, dir, "events"), "user_id", "event_type",
        Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("user_id"),
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    QueryDef("union_ragged", (s, dir) => {
      // ragged-schema concatenation — the S4/§2.7 surface: JSON pages with
      // differing key sets align by name, missing columns go null
      val ev = t(s, dir, "events")
      val a = ev.filter(col("event_id") % 2 === 0)
        .select("event_id", "user_id", "event_type")
      val b = ev.filter(col("event_id") % 2 =!= 0)
        .select("event_id", "value")
      a.unionByName(b, allowMissingColumns = true).orderBy("event_id")
    },
      """SELECT event_id, user_id, event_type, CAST(NULL AS DOUBLE) AS value
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT event_id, CAST(NULL AS BIGINT) AS user_id,
        |       CAST(NULL AS VARCHAR) AS event_type, value
        |FROM events WHERE event_id % 2 <> 0
        |ORDER BY event_id""".stripMargin),

    QueryDef("cube_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus")),
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
  )
}
