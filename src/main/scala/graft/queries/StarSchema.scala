package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Relational
import graft.queries.Shared._

/** Relational-engine headliners: TPC-H-style star-schema aggregates and
 * joins, top-n and rollups, and semi/anti joins and set operations. */
private[graft] object StarSchema {

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q1_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
          sum(revenue).cast("double").as("sum_disc_price"),
          (sum(col("l_quantity").cast(dec)).cast("double") / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    QueryDef("q3_top_revenue", (s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      t(s, dir, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey")
        .agg(sum(revenue).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    },
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey  = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    QueryDef("q5_region_revenue", (s, dir) => {
      // 5-way join: region -> nation -> customer -> orders -> lineitem;
      // tiny dims broadcast, fact tables shuffle on their join keys
      val reg = broadcast(t(s, dir, "region"))
      val nat = broadcast(t(s, dir, "nation"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy("r_name")
        .agg(sum(revenue).cast("double").as("revenue"),
          count(lit(1)).as("n_lineitems"))
        .orderBy("r_name")
    },
      """SELECT r_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem
        |JOIN orders   ON l_orderkey  = o_orderkey
        |JOIN customer ON o_custkey   = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY r_name ORDER BY r_name""".stripMargin),

    QueryDef("q7_nation_volume", (s, dir) => {
      // TPC-H Q7-style 6-way join: shipping volume between every
      // (supplier nation, customer nation) pair by ship year. Both
      // nation legs and the supplier dim broadcast; the lineitem →
      // orders → customer chain shuffles on its join keys with the
      // shipdate filter pushed to the fact scan.
      val nat = t(s, dir, "nation")
      val natS = broadcast(nat.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation")))
      val natC = broadcast(nat.select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation")))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(natS, col("s_nationkey") === col("s_nk"))
        .join(natC, col("c_nationkey") === col("c_nk"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(revenue).cast("double").as("revenue"),
          count(lit(1)).as("n_lineitems"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    QueryDef("q12_priority_class", (s, dir) =>
      // TPC-H Q12-style: late-shipment counts split by order-priority
      // class per return flag — one fact-fact equi-join (both sides
      // shuffle on the order key) and a pure-integer conditional
      // aggregate; the shipdate filter prunes at the lineitem scan
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    QueryDef("q17_small_qty_revenue", (s, dir) => {
      // TPC-H Q17-style correlated aggregate: revenue from lineitems
      // whose quantity is below 20% of their part's mean, by brand. The
      // threshold is evaluated in integers (5·n·qty < Σqty ⟺
      // qty < 0.2·avg — quantities are integral), so no decimal-vs-
      // double average crosses engines. The stats aggregate and both
      // joins all hash on l_partkey, so the join pipeline needs no
      // re-exchange after the first (the stats branch re-scans lineitem
      // with narrower pruning — a cheaper trade than shuffling the wide
      // row twice); no broadcast hint — the part dim is sf-scaled, AQE
      // decides.
      val li = t(s, dir, "lineitem").select(col("l_partkey"),
        col("l_quantity").cast("long").as("qty"), col("l_extendedprice"))
      val stats = li.groupBy("l_partkey")
        .agg(sum("qty").cast("long").as("sq"), count(lit(1)).as("n"))
      li.join(stats, "l_partkey")
        .filter(lit(5L) * col("n") * col("qty") < col("sq"))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_small"),
          sum(col("l_extendedprice").cast(dec)).cast("double")
            .as("small_qty_revenue"))
        .orderBy("p_brand")
    },
      """WITH q AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |  l_extendedprice FROM lineitem),
        |st AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sq,
        |  CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_small,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS small_qty_revenue
        |FROM q JOIN st USING (l_partkey)
        |JOIN part ON l_partkey = p_partkey
        |WHERE 5 * n * qty < sq
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    QueryDef("vocab_stats", (s, dir) => {
      // corpus report: distinct vocabulary and volume per document source
      val docs = t(s, dir, "documents")
      docs
        .select(col("source"), col("doc_id"),
          explode(graft.functions.TextFns.tokens("text")).as("tok"))
        .groupBy("source")
        .agg(countDistinct(col("tok")).as("n_vocab"),
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"))
        .orderBy("source")
    },
      """SELECT source,
        |  count(DISTINCT tok) AS n_vocab,
        |  count(DISTINCT doc_id) AS n_docs,
        |  count(*) AS n_tokens
        |FROM (SELECT source, doc_id,
        |        unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                           w -> w <> '')) AS tok
        |      FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin),

    QueryDef("nation_agg", (s, dir) => {
      val nat = broadcast(t(s, dir, "nation"))
      val reg = broadcast(t(s, dir, "region"))
      t(s, dir, "customer")
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast(dec)).cast("double").as("sum_acctbal"))
        .orderBy("r_name", "n_name")
    },
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin),

    QueryDef("topn_per_group", (s, dir) =>
      Relational.dedupeLatest(t(s, dir, "orders"), "o_custkey", "o_orderdate",
        tieBreak = Seq("o_orderkey"))
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey"),
      """SELECT o_custkey, o_orderkey, o_orderdate FROM orders
        |QUALIFY row_number() OVER (
        |  PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
        |ORDER BY o_custkey""".stripMargin),

    QueryDef("rollup_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    QueryDef("anti_join", (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey"),
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    QueryDef("semi_join", (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem").filter(col("l_quantity") >= 50),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey")
        .orderBy("o_orderkey"),
      """SELECT o_orderkey FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 50)
        |ORDER BY o_orderkey""".stripMargin),

    QueryDef("intersect_users", (s, dir) => {
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "purchase").select("user_id")
        .intersect(ev.filter(col("event_type") === "error").select("user_id"))
        .orderBy("user_id")
    },
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin),

    QueryDef("except_users", (s, dir) => {
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "signup").select("user_id")
        .except(ev.filter(col("event_type") === "purchase").select("user_id"))
        .orderBy("user_id")
    },
      """SELECT user_id FROM events WHERE event_type = 'signup'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin),
  )

  private val dec = DecimalType(18, 2)

  /** Exact per-row revenue term: decimal in, decimal out. */
  private def revenue =
    col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec))
}
