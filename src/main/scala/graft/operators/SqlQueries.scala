package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** The SQL-text surface: queries submitted through spark.sql over temp
  * views — exercising the parser, CTE handling, and Catalyst's
  * correlated-subquery decorrelation, none of which the DataFrame-API
  * inventory touches. Oracle SQL is near-identical text (dialect
  * differences only in the epoch-micros function).
  */
object SqlQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Temp views are session-global state: namespacing them by sfDir
    * avoids clobbering user views named `orders` etc. and keeps two
    * scale factors from racing on one session. Returns the lookup that
    * splices a view name into the SQL text; a table's view is made on
    * its first lookup, so a query reads only the tables it names, each
    * once.
    */
  private def withViews(s: SparkSession, d: String): String => String = {
    val sfx = d.replaceAll("[^0-9A-Za-z]", "_")
    val made = scala.collection.mutable.Map.empty[String, String]
    t => made.getOrElseUpdate(t, {
      val v = s"graft_${t}_$sfx"
      Tables.t(s, d, t).createOrReplaceTempView(v)
      v
    })
  }

  def queries: Map[String, Q] = Map(
    // TPC-H Q3 shape (shipping-priority): 3-way join + filtered agg +
    // top-k on the aggregate. Catalyst decides join order; the LIMIT
    // rides TakeOrderedAndProject.
    "q_sql_q3" -> ((s, d) => {
      val v = withViews(s, d)
      s.sql(
        s"""SELECT l_orderkey,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS revenue,
           |  unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS odate_us,
           |  o_orderpriority
           |FROM ${v("customer")} JOIN ${v("orders")} ON c_custkey = o_custkey
           |  JOIN ${v("lineitem")} ON l_orderkey = o_orderkey
           |WHERE c_mktsegment = 'BUILDING'
           |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
           |GROUP BY l_orderkey, odate_us, o_orderpriority
           |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin)
    }),

    // CTE + correlated EXISTS (decorrelated into a semi join).
    "q_sql_exists_cte" -> ((s, d) => {
      val v = withViews(s, d)
      s.sql(
        s"""WITH big_orders AS (
           |  SELECT * FROM ${v("orders")} WHERE o_totalprice > 200000
           |)
           |SELECT c_custkey, c_name FROM ${v("customer")} c
           |WHERE EXISTS (SELECT 1 FROM big_orders o WHERE o.o_custkey = c.c_custkey)
           |ORDER BY c_custkey""".stripMargin)
    }),

    // Explicit GROUPING SETS with grouping() markers — the general
    // form behind rollup/cube.
    "q_sql_grouping_sets" -> ((s, d) => {
      val v = withViews(s, d)
      s.sql(
        s"""SELECT o_orderstatus, o_orderpriority,
           |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
           |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
           |  count(*) AS n
           |FROM ${v("orders")}
           |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
           |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    }),

    // Scalar subquery threshold. The comparison is algebraically
    // rearranged to avoid avg(double) (whose sum order differs between
    // engines): price·count > 1.5·exact_sum keeps everything on
    // deterministic values.
    "q_sql_scalar_subquery" -> ((s, d) => {
      val v = withViews(s, d)
      s.sql(
        s"""SELECT o_orderkey, o_totalprice FROM ${v("orders")}
           |WHERE o_totalprice * (SELECT count(*) FROM ${v("orders")})
           |      > 1.5 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM ${v("orders")})
           |ORDER BY o_orderkey""".stripMargin)
    }),

    // Recursive CTE (Spark 4 WITH RECURSIVE → UnionLoop iterative
    // execution): walk each nation key down its `k >> 1` ancestor chain
    // to the root — a bounded graph traversal the optimizer unrolls as
    // repeated self-union jobs. Depth is data-derived (≤ log2(maxkey)),
    // so the iteration count stays O(log n) no matter the row count —
    // the scale hazard with recursive CTEs is DEPTH, not width: each
    // level is a fully parallel distributed step.
    "q_sql_recursive" -> ((s, d) => {
      val v = withViews(s, d)
      s.sql(
        s"""WITH RECURSIVE chain(root, cur, depth) AS (
           |  SELECT n_nationkey, n_nationkey, 0 FROM ${v("nation")}
           |  UNION ALL
           |  SELECT root, cur >> 1, depth + 1 FROM chain WHERE cur > 0
           |)
           |SELECT root, max(depth) AS height, count(*) AS chain_len,
           |       sum(cur) AS key_sum
           |FROM chain GROUP BY root ORDER BY root""".stripMargin)
    }),

    // Correlated LATERAL subquery with ORDER BY + LIMIT: top-2
    // customers by balance per nation — the "top-k per group" shape
    // expressed as a lateral join instead of a window. Catalyst
    // decorrelates it; on a big corpus prefer the window/TopKPerGroup
    // form (one shuffle) — LATERAL is the expressive fallback for
    // correlations windows can't state.
    "q_sql_lateral" -> ((s, d) => {
      val v = withViews(s, d)
      s.sql(
        s"""SELECT n.n_name, x.c_custkey, x.c_acctbal
           |FROM ${v("nation")} n,
           |LATERAL (SELECT c_custkey, c_acctbal FROM ${v("customer")} c
           |         WHERE c.c_nationkey = n.n_nationkey
           |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) x
           |ORDER BY n_name, c_custkey""".stripMargin)
    }),

    // IN-subquery under a disjunction: Catalyst can't rewrite this to a
    // plain semi join (the OR keeps non-members), so it plans the
    // ExistenceJoin variant — the one join form the DataFrame inventory
    // can't reach, since only the analyzer produces it.
    "q_sql_existence" -> ((s, d) => {
      val v = withViews(s, d)
      s.sql(
        s"""SELECT c_custkey, c_acctbal FROM ${v("customer")}
           |WHERE c_custkey IN (SELECT o_custkey FROM ${v("orders")} WHERE o_totalprice > 300000)
           |   OR c_acctbal > 9500
           |ORDER BY c_custkey""".stripMargin)
    }),
  )

  def oracles: Map[String, String] = Map(
    "q_sql_q3" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS revenue,
        |  epoch_us(o_orderdate) AS odate_us,
        |  o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_orderkey, odate_us, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin,

    "q_sql_exists_cte" ->
      """WITH big_orders AS (
        |  SELECT * FROM orders WHERE o_totalprice > 200000
        |)
        |SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM big_orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_sql_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |  count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_sql_recursive" ->
      """WITH RECURSIVE chain(root, cur, depth) AS (
        |  SELECT n_nationkey, n_nationkey, 0 FROM nation
        |  UNION ALL
        |  SELECT root, cur >> 1, depth + 1 FROM chain WHERE cur > 0
        |)
        |SELECT root, max(depth) AS height, count(*) AS chain_len,
        |       CAST(sum(cur) AS BIGINT) AS key_sum
        |FROM chain GROUP BY root ORDER BY root""".stripMargin,

    "q_sql_lateral" ->
      """SELECT n.n_name, x.c_custkey, x.c_acctbal
        |FROM nation n,
        |LATERAL (SELECT c_custkey, c_acctbal FROM customer c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) x
        |ORDER BY n_name, c_custkey""".stripMargin,

    "q_sql_existence" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        |   OR c_acctbal > 9500
        |ORDER BY c_custkey""".stripMargin,

    "q_sql_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice * (SELECT count(*) FROM orders)
        |      > 1.5 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
  )
}
