package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.Tables
import Relational.{dsum, osum, oavg}

/** The 12 TPC-H query SHAPES the round-1 corpus was missing (judged against
  * `/root/reference/testdata/tpch/queries/q{2,8,9,11,12,13,14,15,18,19,21,22}.sql`),
  * adapted to the driver's schema (no partsupp table; no l_shipmode /
  * c_phone / p_mfgr columns — the SHAPE of each plan is what transfers:
  * correlated scalar subqueries, nested aggregation over many joins, HAVING
  * over a scalar subquery, left-outer count distributions, view lifecycle,
  * IN over a grouped HAVING, disjunctive join predicates, multi-EXISTS, and
  * substring-class + NOT EXISTS + scalar-avg combinations).
  *
  * Subquery-heavy shapes go through `spark.sql` on registered temp views —
  * exercising Spark's correlated-subquery decorrelation (RewriteCorrelated
  * ScalarSubquery → joins) rather than hand-rewriting them, exactly what a
  * reference user migrating SQL would run.
  */
object Relational2 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- TPC-H q2 shape: correlated scalar subquery with aggregate ----
    "q36_min_cost_supplier" -> ((s, dir) => {
      Tables.register(s, dir, "supplier", "nation")
      s.sql("""SELECT s_name, s_acctbal, n_name
               FROM supplier s JOIN nation ON s.s_nationkey = n_nationkey
               WHERE s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2
                                  WHERE s2.s_nationkey = s.s_nationkey)
               ORDER BY s_name""")
    }),

    // ---- TPC-H q8 shape: market share — nested agg over 5-way join,
    // sum(CASE)/sum ratio per year ----
    "q37_market_share" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val n = broadcast(t(s, dir, "nation"))
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          (dsum(when(col("n_name") === "NATION_7", vol).otherwise(0)) /
            dsum(vol)).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // ---- TPC-H q9 shape: profit by nation/year over lineitem ⨝ supplier ⨝
    // nation ⨝ part(filtered) ⨝ orders ----
    "q38_product_profit" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val su = t(s, dir, "supplier")
      val n = broadcast(t(s, dir, "nation"))
      val p = t(s, dir, "part").filter(col("p_name").contains("red"))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // ---- TPC-H q11 shape: HAVING over a scalar subquery (value > fraction
    // of the grand total) ----
    "q39_important_parts" -> ((s, dir) => {
      Tables.register(s, dir, "lineitem")
      s.sql(s"""SELECT l_partkey, ${osum("l_extendedprice", 2)} AS part_value
               FROM lineitem GROUP BY l_partkey
               HAVING ${osum("l_extendedprice", 2)} >
                 (SELECT ${osum("l_extendedprice", 2)} * 0.0006 FROM lineitem)
               ORDER BY part_value DESC, l_partkey""")
    }),

    // ---- TPC-H q12 shape: join + conditional two-way count by category ----
    "q40_priority_shipping" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- TPC-H q13 shape: left outer join + count, then distribution of
    // the counts (customers with zero orders included) ----
    "q41_cust_order_distribution" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey") &&
               col("o_orderstatus") =!= "P", "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // ---- TPC-H q14 shape: conditional revenue ratio (promo share) ----
    "q42_promo_revenue" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      val p = t(s, dir, "part")
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          dsum(when(col("p_type") === "PROMO", vol).otherwise(0)) /
          dsum(vol)).as("promo_revenue"))
    }),

    // ---- TPC-H q15 shape: view lifecycle — create a revenue view, query
    // it joined with the scalar max over itself (the reference test
    // exercises exactly this create/use path,
    // `tests/tpch_correctness_test.rs:176-196`) ----
    "q43_top_supplier" -> ((s, dir) => {
      Tables.register(s, dir, "lineitem", "supplier")
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW revenue_v AS
               SELECT l_suppkey AS supplier_no,
                      ${osum("l_extendedprice*(1-l_discount)")} AS total_revenue
               FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                 AND l_shipdate < TIMESTAMP '1997-04-01'
               GROUP BY l_suppkey""")
      s.sql("""SELECT s_suppkey, s_name, total_revenue
               FROM supplier JOIN revenue_v ON s_suppkey = supplier_no
               WHERE total_revenue = (SELECT max(total_revenue) FROM revenue_v)
               ORDER BY s_suppkey""")
    }),

    // ---- TPC-H q18 shape: IN over a grouped HAVING subquery ----
    "q44_large_orders" -> ((s, dir) => {
      Tables.register(s, dir, "customer", "orders", "lineitem")
      s.sql(s"""SELECT c_name, c_custkey, o_orderkey,
                      date_format(o_orderdate, 'yyyy-MM-dd') AS o_odate,
                      o_totalprice, ${osum("l_quantity", 2)} AS sum_qty
               FROM customer
               JOIN orders ON c_custkey = o_custkey
               JOIN lineitem ON o_orderkey = l_orderkey
               WHERE o_orderkey IN (
                 SELECT l_orderkey FROM lineitem
                 GROUP BY l_orderkey
                 HAVING sum(cast(l_quantity AS decimal(18,2))) > 200)
               GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")
    }),

    // ---- TPC-H q19 shape: disjunctive multi-predicate join (each disjunct
    // pairs part attributes with lineitem attributes) ----
    "q45_disjunctive_join" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      val d1 = col("p_brand") === "Brand#1" &&
        col("p_size").between(1, 15) && col("l_quantity").between(1, 20)
      val d2 = col("p_brand") === "Brand#2" &&
        col("p_size").between(10, 30) && col("l_quantity").between(10, 30)
      val d3 = col("p_brand") === "Brand#3" &&
        col("p_size").between(20, 50) && col("l_quantity").between(20, 50)
      l.join(p, col("l_partkey") === col("p_partkey") && (d1 || d2 || d3))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    }),

    // ---- TPC-H q21 shape: EXISTS + NOT EXISTS against the same table ----
    "q46_returned_never_huge" -> ((s, dir) => {
      Tables.register(s, dir, "customer", "orders", "lineitem", "nation")
      s.sql("""SELECT n_name, count(*) AS numorders
               FROM customer
               JOIN nation ON c_nationkey = n_nationkey
               JOIN orders ON o_custkey = c_custkey
               WHERE EXISTS (SELECT 1 FROM lineitem l1
                             WHERE l1.l_orderkey = o_orderkey
                               AND l1.l_returnflag = 'R')
                 AND NOT EXISTS (SELECT 1 FROM lineitem l2
                                 WHERE l2.l_orderkey = o_orderkey
                                   AND l2.l_quantity >= 49)
               GROUP BY n_name
               ORDER BY numorders DESC, n_name""")
    }),

    // ---- set operations: INTERSECT / EXCEPT (distinct semantics) ----
    "q57_intersect" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"), col("c_name"))
        .intersect(c.filter(col("c_acctbal") > 5000).select(col("c_custkey"), col("c_name")))
        .orderBy(col("c_custkey"))
    }),

    "q58_except" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"), col("c_name"))
        .except(c.filter(col("c_acctbal") > 5000).select(col("c_custkey"), col("c_name")))
        .orderBy(col("c_custkey"))
    }),

    // ---- multiset set ops: INTERSECT ALL / EXCEPT ALL keep per-row
    // multiplicities (Spark plans them as a count-min join over grouped
    // counts — a different Expand/Aggregate shape than the DISTINCT
    // variants in q57/q58) ----
    "q76_intersect_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersectAll(o.filter(col("o_totalprice") > 150000).select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    "q77_except_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .exceptAll(o.filter(col("o_totalprice") > 150000).select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    // ---- UNPIVOT/melt (wide metrics -> long rows; the inverse of q60's
    // PIVOT): Spark's Expand-based unpivot, three metric columns per
    // priority melted to (metric, value) rows ----
    "q78_unpivot_metrics" -> ((s, dir) => {
      val agg = t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("double").as("n_orders"),
          dsum(col("o_totalprice"), 2).as("total_price"),
          max(col("o_totalprice")).as("max_price"))
      agg.unpivot(Array(col("o_orderpriority")),
          Array(col("n_orders"), col("total_price"), col("max_price")),
          "metric", "value")
        .orderBy(col("o_orderpriority"), col("metric"))
    }),

    // ---- MERGE/upsert: deterministic delta (every 7th customer updated,
    // every 7th+3 inserted under a shifted key) applied via one full-outer
    // join; the incremental-refresh primitive (graft.operators.Merge) ----
    "q79_merge_upsert" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val upd = c.filter(pmod(col("c_custkey"), lit(7)) === 0)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          (col("c_acctbal") + 100.0).as("c_acctbal"),
          lit("MERGED").as("c_mktsegment"))
      val ins = c.filter(pmod(col("c_custkey"), lit(7)) === 3)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("NEW-"), col("c_custkey")).as("c_name"),
          lit(0).as("c_nationkey"),
          lit(0.0).as("c_acctbal"),
          lit("NEW").as("c_mktsegment"))
      graft.operators.Merge.upsert(c, upd.union(ins), "c_custkey")
        .orderBy(col("c_custkey"))
    }),

    // ---- Z-order (Morton) encoding: the multi-column clustering key
    // behind graft.operators.Layout, computed by the codegen'd
    // interleave_bits expression and mirrored bit-for-bit by the oracle's
    // unrolled shift/mask sum ----
    "q80_zorder_cells" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .select(
          graft.functions.HashExpressions
            .interleaveBits(col("l_partkey"), col("l_suppkey")).as("z"),
          col("l_partkey"), col("l_suppkey"))
        .orderBy(col("z"))
        .limit(200)
    }),

    // ---- LATERAL correlated subquery (per-nation top-2 suppliers) ----
    "q59_lateral_topn" -> ((s, dir) => {
      Tables.register(s, dir, "supplier", "nation")
      s.sql("""SELECT n_name, s_name, s_acctbal
               FROM nation,
               LATERAL (SELECT s_name, s_acctbal FROM supplier
                        WHERE s_nationkey = n_nationkey
                        ORDER BY s_acctbal DESC, s_name LIMIT 2)
               ORDER BY n_name, s_acctbal DESC, s_name""")
    }),

    // ---- PIVOT (status columns per order year) ----
    "q60_pivot_status" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_year"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy(col("o_year"))
    }),

    // ---- TPC-H q22 shape: substring class + scalar avg subquery +
    // NOT EXISTS anti join ----
    "q47_idle_rich_customers" -> ((s, dir) => {
      Tables.register(s, dir, "customer", "orders")
      s.sql(s"""SELECT cntrycode, count(*) AS numcust,
                      ${osum("c_acctbal", 2)} AS totacctbal
               FROM (SELECT substr(c_name, 16, 1) AS cntrycode, c_acctbal
                     FROM customer
                     WHERE substr(c_name, 16, 1) IN ('1','2','3','4','5')
                       AND c_acctbal > (SELECT ${oavg("c_acctbal", 2)}
                                        FROM customer WHERE c_acctbal > 0)
                       AND NOT EXISTS (SELECT 1 FROM orders
                                       WHERE o_custkey = c_custkey
                                         AND o_orderstatus = 'P'))
               GROUP BY cntrycode ORDER BY cntrycode""")
    })
  )

  val oracles: Map[String, String] = Map(
    "q36_min_cost_supplier" ->
      """SELECT s_name, s_acctbal, n_name
         FROM supplier s JOIN nation ON s.s_nationkey = n_nationkey
         WHERE s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2
                            WHERE s2.s_nationkey = s.s_nationkey)
         ORDER BY s_name""",

    "q37_market_share" ->
      s"""SELECT cast(extract(year FROM o_orderdate) AS integer) AS o_year,
          ${osum("CASE WHEN n_name = 'NATION_7' THEN l_extendedprice*(1-l_discount) ELSE 0 END")} /
          ${osum("l_extendedprice*(1-l_discount)")} AS mkt_share
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY o_year ORDER BY o_year""",

    "q38_product_profit" ->
      s"""SELECT n_name AS nation,
          cast(extract(year FROM o_orderdate) AS integer) AS o_year,
          ${osum("l_extendedprice*(1-l_discount)")} AS profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%red%'
        GROUP BY n_name, o_year ORDER BY n_name, o_year DESC""",

    "q39_important_parts" ->
      s"""SELECT l_partkey, ${osum("l_extendedprice", 2)} AS part_value
        FROM lineitem GROUP BY l_partkey
        HAVING ${osum("l_extendedprice", 2)} >
          (SELECT ${osum("l_extendedprice", 2)} * 0.0006 FROM lineitem)
        ORDER BY part_value DESC, l_partkey""",

    "q40_priority_shipping" ->
      """SELECT l_returnflag,
              cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                       THEN 1 ELSE 0 END) AS bigint) AS high_line_count,
              cast(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                       THEN 1 ELSE 0 END) AS bigint) AS low_line_count
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q41_cust_order_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey AND o_orderstatus <> 'P'
           GROUP BY c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",

    "q42_promo_revenue" ->
      s"""SELECT 100.0 *
          ${osum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0 END")} /
          ${osum("l_extendedprice*(1-l_discount)")} AS promo_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01'
          AND l_shipdate < TIMESTAMP '1997-10-01'""",

    "q43_top_supplier" ->
      s"""WITH revenue_v AS (
          SELECT l_suppkey AS supplier_no,
                 ${osum("l_extendedprice*(1-l_discount)")} AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1997-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue_v ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue_v)
        ORDER BY s_suppkey""",

    "q44_large_orders" ->
      s"""SELECT c_name, c_custkey, o_orderkey,
              strftime(o_orderdate, '%Y-%m-%d') AS o_odate,
              o_totalprice, ${osum("l_quantity", 2)} AS sum_qty
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey
          HAVING sum(cast(l_quantity AS decimal(18,2))) > 200)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",

    "q45_disjunctive_join" ->
      s"""SELECT ${osum("l_extendedprice*(1-l_discount)")} AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
          AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                AND l_quantity BETWEEN 10 AND 30)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                AND l_quantity BETWEEN 20 AND 50))""",

    "q46_returned_never_huge" ->
      """SELECT n_name, count(*) AS numorders
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         WHERE EXISTS (SELECT 1 FROM lineitem l1
                       WHERE l1.l_orderkey = o_orderkey
                         AND l1.l_returnflag = 'R')
           AND NOT EXISTS (SELECT 1 FROM lineitem l2
                           WHERE l2.l_orderkey = o_orderkey
                             AND l2.l_quantity >= 49)
         GROUP BY n_name ORDER BY numorders DESC, n_name""",

    "q57_intersect" ->
      """SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000
         ORDER BY c_custkey""",

    "q58_except" ->
      """SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'
         EXCEPT
         SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000
         ORDER BY c_custkey""",

    "q76_intersect_all" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT ALL
         SELECT o_custkey FROM orders WHERE o_totalprice > 150000
         ORDER BY o_custkey""",

    "q77_except_all" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT ALL
         SELECT o_custkey FROM orders WHERE o_totalprice > 150000
         ORDER BY o_custkey""",

    "q78_unpivot_metrics" ->
      """WITH a AS (SELECT o_orderpriority,
                         cast(count(*) AS double) AS n_orders,
                         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total_price,
                         max(o_totalprice) AS max_price
                  FROM orders GROUP BY o_orderpriority)
         SELECT o_orderpriority, metric, value FROM (
           SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM a
           UNION ALL SELECT o_orderpriority, 'total_price', total_price FROM a
           UNION ALL SELECT o_orderpriority, 'max_price', max_price FROM a)
         ORDER BY o_orderpriority, metric""",

    "q59_lateral_topn" ->
      """SELECT n_name, s_name, s_acctbal
         FROM nation,
         LATERAL (SELECT s_name, s_acctbal FROM supplier
                  WHERE s_nationkey = n_nationkey
                  ORDER BY s_acctbal DESC, s_name LIMIT 2)
         ORDER BY n_name, s_acctbal DESC, s_name""",

    "q60_pivot_status" ->
      """SELECT cast(extract(year FROM o_orderdate) AS integer) AS o_year,
              cast(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS bigint) AS n_f,
              cast(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS bigint) AS n_o,
              cast(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS bigint) AS n_p
         FROM orders GROUP BY o_year ORDER BY o_year""",

    "q47_idle_rich_customers" ->
      s"""SELECT cntrycode, count(*) AS numcust,
            ${osum("c_acctbal", 2)} AS totacctbal
        FROM (SELECT substr(c_name, 16, 1) AS cntrycode, c_acctbal
              FROM customer
              WHERE substr(c_name, 16, 1) IN ('1','2','3','4','5')
                AND c_acctbal > (SELECT ${oavg("c_acctbal", 2)}
                                 FROM customer WHERE c_acctbal > 0)
                AND NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey
                                  AND o_orderstatus = 'P'))
        GROUP BY cntrycode ORDER BY cntrycode""",

    "q79_merge_upsert" ->
      """WITH upd AS (
           SELECT c_custkey, c_name, c_nationkey,
                  c_acctbal + 100.0 AS c_acctbal, 'MERGED' AS c_mktsegment
           FROM customer WHERE c_custkey % 7 = 0
           UNION ALL
           SELECT c_custkey + 1000000, 'NEW-' || c_custkey, 0, 0.0, 'NEW'
           FROM customer WHERE c_custkey % 7 = 3)
         SELECT coalesce(u.c_custkey, b.c_custkey) AS c_custkey,
                CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name
                     ELSE b.c_name END AS c_name,
                CASE WHEN u.c_custkey IS NOT NULL THEN u.c_nationkey
                     ELSE b.c_nationkey END AS c_nationkey,
                CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal
                     ELSE b.c_acctbal END AS c_acctbal,
                CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment
                     ELSE b.c_mktsegment END AS c_mktsegment
         FROM customer b FULL JOIN upd u ON b.c_custkey = u.c_custkey
         ORDER BY c_custkey""",

    "q80_zorder_cells" -> {
      // Unrolled Morton encode over the full 32 bits the Spark expression
      // interleaves; BIGINT arithmetic keeps the i=31 shift (bit 63) exact.
      def morton(x: String, y: String): String =
        (0 until 32).map(i =>
          s"(((CAST($x AS BIGINT) >> $i) & 1) << ${2 * i}) + " +
            s"(((CAST($y AS BIGINT) >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
      s"""WITH d AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
         SELECT (${morton("l_partkey", "l_suppkey")}) AS z,
                l_partkey, l_suppkey
         FROM d ORDER BY z LIMIT 200"""
    }
  )
}
