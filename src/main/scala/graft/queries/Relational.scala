package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import QueryPack.t

/** Relational operator coverage (SURVEY.md §2.5): scan/filter, multi-way
  * equi-joins, semi/anti joins, hash aggregation, distinct aggregation,
  * rollup/cube, window functions (ranking, running, lag/gap sessionization),
  * as-of join, set operations, scalar functions, sort/limit/top-k, and the
  * data-quality plan shapes from SURVEY.md §2.2.
  *
  * Determinism contract with the DuckDB oracle: every floating aggregate is
  * accumulated exactly (per-term cast to DECIMAL, exact decimal sum) and only
  * then cast to DOUBLE, so both engines produce bit-identical values
  * regardless of accumulation order. Per-row double arithmetic is IEEE-
  * deterministic and safe as-is. Ranking windows always carry a unique
  * tie-break key.
  */
object Relational {

  /** Exact sum of a double column: per-term decimal cast -> exact sum ->
    * double. Matches `CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)`.
    */
  private def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")
  private def dsumSql(x: String, scale: Int = 4): String =
    s"CAST(SUM(CAST($x AS DECIMAL(18,$scale))) AS DOUBLE)"

  val specs: Seq[QuerySpec] = Seq(

    // ---- TPC-H Q1: pricing summary (scan + filter + hash agg, partial agg) ----
    QuerySpec("q1_pricing_summary",
      (s, dir) => {
        val l = t(s, dir, "lineitem").filter(col("l_shipdate") <= lit("1998-09-02"))
        l.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity"), 2).as("sum_qty"),
            dsum(col("l_extendedprice"), 2).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${dsumSql("l_quantity", 2)} AS sum_qty,
        ${dsumSql("l_extendedprice", 2)} AS sum_base_price,
        ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
        ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
        COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),

    // ---- TPC-H Q6: forecast revenue (tight filter -> pushdown showcase) ----
    QuerySpec("q6_forecast_revenue",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01") && col("l_shipdate") < lit("1996-01-01")
          && col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount"), 4).as("revenue")),
      Some(s"""SELECT ${dsumSql("l_extendedprice * l_discount", 4)} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""")),

    // ---- TPC-H Q3-ish: 3-way join + agg + top-k (TakeOrderedAndProject) ----
    QuerySpec("q3_shipping_priority",
      (s, dir) => {
        val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, o_orderdate,
        ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""")),

    // ---- TPC-H Q5-ish: 6-way join + agg (the reference's own federated
    // revenue example, doc/doc/lightning-commands.md:113-128, on testdata) ----
    QuerySpec("q5_revenue_by_nation",
      (s, dir) => {
        val r = t(s, dir, "region")
        val n = t(s, dir, "nation")
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        val sup = t(s, dir, "supplier")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(sup, l("l_suppkey") === sup("s_suppkey") && c("c_nationkey") === sup("s_nationkey"))
          .join(n, sup("s_nationkey") === n("n_nationkey"))
          .join(r, n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name").asc)
      },
      Some(s"""SELECT n_name,
        ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY n_name ORDER BY revenue DESC, n_name ASC""")),

    // ---- TPC-H Q7 shape: bilateral shipping volume between two nations by
    // ship year. Supplier and customer nations resolve through separate
    // broadcast joins of the nation dim (aliased twice); the fact table
    // still shuffles at most for the orders join. ----
    QuerySpec("q7_nation_volume",
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val sup = t(s, dir, "supplier")
        val n1 = t(s, dir, "nation").select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
        val n2 = t(s, dir, "nation").select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(n1, sup("s_nationkey") === n1("sk"))
          .join(n2, c("c_nationkey") === n2("ck"))
          .where((col("supp_nation") === "NATION_5" && col("cust_nation") === "NATION_12") ||
                 (col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_5"))
          .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("volume"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
          ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS volume
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_5' AND n2.n_name = 'NATION_12')
           OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_5')
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // ---- TPC-H Q9-lite (no partsupp table in testdata): profit proxy by
    // part brand and order year; part dim broadcasts onto the fact scan. ----
    QuerySpec("q9_brand_profit",
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val p = t(s, dir, "part")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(p, l("l_partkey") === p("p_partkey"))
          .groupBy(col("p_brand"), year(col("o_orderdate")).as("o_year"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
            col("l_quantity") * col("p_retailprice") * lit(0.5), 4).as("profit"))
          .orderBy(col("p_brand"), col("o_year"))
      },
      Some(s"""SELECT p_brand, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
          ${dsumSql("l_extendedprice * (1.0 - l_discount) - l_quantity * p_retailprice * 0.5", 4)} AS profit
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- TPC-H Q17 shape: correlated scalar subquery (per-part average)
    // that Catalyst decorrelates into an aggregate + join — no per-row
    // subquery execution. Written via spark.sql to exercise the SQL
    // decorrelation path end-to-end. ----
    QuerySpec("q17_small_qty_revenue",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("li_q17")
        s.sql(s"""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly
          FROM li_q17 l
          WHERE l_quantity < (
            SELECT 0.5 * AVG(l_quantity) FROM li_q17 WHERE l_partkey = l.l_partkey
          )""")
      },
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem l
        WHERE l_quantity < (
          SELECT 0.5 * AVG(l_quantity) FROM lineitem WHERE l_partkey = l.l_partkey
        )""")),

    // ---- TPC-H q22 shape: scalar subquery (global average) AND correlated
    // NOT EXISTS anti-join in ONE plan — Catalyst must decorrelate both.
    // Customers with above-average balance and no urgent orders, grouped by
    // the market segment ("country code" stand-in). ----
    QuerySpec("q22_idle_balances",
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("cust_q22")
        t(s, dir, "orders").createOrReplaceTempView("ord_q22")
        s.sql("""SELECT c_mktsegment AS segment, COUNT(*) AS numcust,
          |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
          |FROM cust_q22 c
          |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          |    FROM cust_q22 WHERE c_acctbal > 0.0)
          |  AND NOT EXISTS (SELECT 1 FROM ord_q22 o
          |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
          |GROUP BY c_mktsegment ORDER BY segment""".stripMargin)
      },
      Some("""SELECT c_mktsegment AS segment, COUNT(*) AS numcust,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM customer c
        WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment ORDER BY segment""")),

    // ---- TPC-H Q4 shape: correlated EXISTS with a NON-EQUI correlated
    // predicate (l_shipdate > o_orderdate + 60 days references the outer
    // row inside the subquery) — Catalyst must decorrelate to a left-semi
    // join carrying the extra condition. Testdata has no l_commitdate /
    // l_receiptdate, so "late" = shipped >60 days after the order date. ----
    QuerySpec("q4_order_priority",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("ord_q4")
        t(s, dir, "lineitem").createOrReplaceTempView("li_q4")
        s.sql("""SELECT o_orderpriority, COUNT(*) AS order_count
          |FROM ord_q4 o
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
          |  AND EXISTS (SELECT 1 FROM li_q4 l
          |    WHERE l.l_orderkey = o.o_orderkey
          |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- TPC-H Q21 shape: correlated EXISTS *and* NOT EXISTS, both
    // self-joins on the fact table with an inequality on the correlation
    // sibling (l2.l_suppkey <> l1.l_suppkey) — the hardest decorrelation
    // in the TPC-H suite (semi + anti join against the same relation).
    // "Late" stands in as l_returnflag = 'R' (no receipt/commit dates in
    // testdata): suppliers who were the ONLY returning supplier on a
    // multi-supplier finished order. ----
    QuerySpec("q21_waiting_supplier",
      (s, dir) => {
        t(s, dir, "supplier").createOrReplaceTempView("sup_q21")
        t(s, dir, "lineitem").createOrReplaceTempView("li_q21")
        t(s, dir, "orders").createOrReplaceTempView("ord_q21")
        t(s, dir, "nation").createOrReplaceTempView("nat_q21")
        s.sql("""SELECT s_name, COUNT(*) AS numwait
          |FROM sup_q21, li_q21 l1, ord_q21 o, nat_q21
          |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          |  AND EXISTS (SELECT 1 FROM li_q21 l2
          |      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM li_q21 l3
          |      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          |        AND l3.l_returnflag = 'R')
          |  AND s_nationkey = n_nationkey AND n_nationkey IN (3, 7)
          |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)
      },
      Some("""SELECT s_name, COUNT(*) AS numwait
        FROM supplier, lineitem l1, orders o, nation
        WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_returnflag = 'R')
          AND s_nationkey = n_nationkey AND n_nationkey IN (3, 7)
        GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""")),

    // ---- TPC-H Q18 shape: IN over a grouped-HAVING subquery on the same
    // fact table (semi join against an aggregate), then re-aggregation of
    // the surviving orders. Exact-decimal quantity sums on both sides keep
    // the HAVING threshold engine-agnostic. ----
    QuerySpec("q18_large_orders",
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("cust_q18")
        t(s, dir, "orders").createOrReplaceTempView("ord_q18")
        t(s, dir, "lineitem").createOrReplaceTempView("li_q18")
        s.sql("""SELECT c_name, c_custkey, o.o_orderkey, o_orderdate, o_totalprice,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
          |FROM cust_q18 c, ord_q18 o, li_q18 l
          |WHERE o.o_orderkey IN (SELECT l_orderkey FROM li_q18 GROUP BY l_orderkey
          |    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
          |  AND c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
          |GROUP BY c_name, c_custkey, o.o_orderkey, o_orderdate, o_totalprice
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)
      },
      Some("""SELECT c_name, c_custkey, o.o_orderkey, o_orderdate, o_totalprice,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        FROM customer c, orders o, lineitem l
        WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
          AND c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
        GROUP BY c_name, c_custkey, o.o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // ---- TPC-H Q20 shape: nested double subquery — an IN whose subquery
    // carries another IN (part filter) AND a correlated scalar subquery in
    // its HAVING (per-part total referencing the outer grouping column).
    // Without a partsupp table, "availability" is the supplier's own
    // shipped share of a part vs the part's total across suppliers. ----
    QuerySpec("q20_promo_suppliers",
      (s, dir) => {
        t(s, dir, "supplier").createOrReplaceTempView("sup_q20")
        t(s, dir, "nation").createOrReplaceTempView("nat_q20")
        t(s, dir, "lineitem").createOrReplaceTempView("li_q20")
        t(s, dir, "part").createOrReplaceTempView("part_q20")
        s.sql("""SELECT s_name, s_suppkey
          |FROM sup_q20 JOIN nat_q20 ON s_nationkey = n_nationkey
          |WHERE n_nationkey IN (1, 2, 3, 4, 5)
          |  AND s_suppkey IN (
          |    SELECT li.l_suppkey FROM li_q20 li
          |    WHERE li.l_partkey IN (SELECT p_partkey FROM part_q20 WHERE p_name LIKE 'small%')
          |    GROUP BY li.l_suppkey, li.l_partkey
          |    HAVING CAST(SUM(CAST(li.l_quantity AS DECIMAL(18,2))) AS DOUBLE) >
          |      (SELECT 0.05 * CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |       FROM li_q20 l2 WHERE l2.l_partkey = li.l_partkey))
          |ORDER BY s_name, s_suppkey""".stripMargin)
      },
      Some("""SELECT s_name, s_suppkey
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_nationkey IN (1, 2, 3, 4, 5)
          AND s_suppkey IN (
            SELECT li.l_suppkey FROM lineitem li
            WHERE li.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
            GROUP BY li.l_suppkey, li.l_partkey
            HAVING CAST(SUM(CAST(li.l_quantity AS DECIMAL(18,2))) AS DOUBLE) >
              (SELECT 0.05 * CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               FROM lineitem l2 WHERE l2.l_partkey = li.l_partkey))
        ORDER BY s_name, s_suppkey""")),

    // ---- TPC-H Q11 shape: uncorrelated scalar subquery in HAVING (the
    // group's value vs a fraction of the SAME aggregate over the whole
    // filtered relation — two aggregations of one join tree). Exact
    // decimal sums cast to double keep both engines bit-identical. ----
    QuerySpec("q11_important_stock",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("li_q11")
        t(s, dir, "supplier").createOrReplaceTempView("sup_q11")
        t(s, dir, "nation").createOrReplaceTempView("nat_q11")
        s.sql("""SELECT l_partkey AS p_key,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
          |FROM li_q11 JOIN sup_q11 ON l_suppkey = s_suppkey
          |  JOIN nat_q11 ON s_nationkey = n_nationkey
          |WHERE n_nationkey IN (1, 2, 3, 4, 5)
          |GROUP BY l_partkey
          |HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) >
          |  (SELECT 0.001 * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |   FROM li_q11 JOIN sup_q11 ON l_suppkey = s_suppkey
          |     JOIN nat_q11 ON s_nationkey = n_nationkey
          |   WHERE n_nationkey IN (1, 2, 3, 4, 5))
          |ORDER BY part_value DESC, p_key LIMIT 100""".stripMargin)
      },
      Some("""SELECT l_partkey AS p_key,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
        WHERE n_nationkey IN (1, 2, 3, 4, 5)
        GROUP BY l_partkey
        HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) >
          (SELECT 0.001 * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ON s_nationkey = n_nationkey
           WHERE n_nationkey IN (1, 2, 3, 4, 5))
        ORDER BY part_value DESC, p_key LIMIT 100""")),

    // ---- TPC-H Q8 shape: national market share — a 7-way join whose
    // aggregate is a RATIO of two conditional sums (share of one supplier
    // nation inside a customer region, by order year). Both sums are
    // exact-decimal before the double division, so the ratio is
    // bit-identical across engines. ----
    QuerySpec("q8_market_share",
      (s, dir) => {
        Seq("lineitem", "orders", "customer", "supplier", "nation", "region")
          .foreach(t0 => t(s, dir, t0).createOrReplaceTempView(s"${t0}_q8"))
        s.sql("""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
          |  CAST(SUM(CASE WHEN s_nationkey = 3
          |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
          |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
          |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share
          |FROM lineitem_q8
          |JOIN orders_q8 ON l_orderkey = o_orderkey
          |JOIN customer_q8 ON o_custkey = c_custkey
          |JOIN nation_q8 n1 ON c_nationkey = n1.n_nationkey
          |JOIN region_q8 ON n1.n_regionkey = r_regionkey
          |JOIN supplier_q8 ON l_suppkey = s_suppkey
          |WHERE r_name = 'ASIA'
          |GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
          CAST(SUM(CASE WHEN s_nationkey = 3
            THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
            ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
          CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE r_name = 'ASIA'
        GROUP BY 1 ORDER BY 1""")),

    // ---- TPC-H Q10 shape: returned-item losers — 4-way join filtered to
    // returns, top-20 customers by exact-decimal revenue. ----
    QuerySpec("q10_returned_items",
      (s, dir) => {
        Seq("lineitem", "orders", "customer", "nation")
          .foreach(t0 => t(s, dir, t0).createOrReplaceTempView(s"${t0}_q10"))
        s.sql("""SELECT c_custkey, c_name,
          |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
          |  c_acctbal, n_name
          |FROM customer_q10, orders_q10, lineitem_q10, nation_q10
          |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
          |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
          |GROUP BY c_custkey, c_name, c_acctbal, n_name
          |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name,
          CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
          c_acctbal, n_name
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
          AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // ---- TPC-H Q13 shape: customer order-count distribution — LEFT OUTER
    // join with a filter INSIDE the join condition (preserved-row
    // semantics: customers with zero qualifying orders count as c_count=0),
    // then an aggregation OF an aggregation. ----
    QuerySpec("q13_customer_distribution",
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("cust_q13")
        t(s, dir, "orders").createOrReplaceTempView("ord_q13")
        s.sql("""SELECT c_count, COUNT(*) AS custdist FROM (
          |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
          |  FROM cust_q13 LEFT OUTER JOIN ord_q13
          |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          |  GROUP BY c_custkey) t
          |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)
      },
      Some("""SELECT c_count, COUNT(*) AS custdist FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) t
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),

    // ---- TPC-H Q14 shape: promo revenue share — single join, ratio of
    // conditional to total exact-decimal sum over one ship month. ----
    QuerySpec("q14_promo_revenue",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("li_q14")
        t(s, dir, "part").createOrReplaceTempView("part_q14")
        s.sql("""SELECT CAST(100.00 *
          |  CAST(SUM(CASE WHEN p_type = 'PROMO'
          |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
          |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
          |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
          |  AS DOUBLE) AS promo_revenue
          |FROM li_q14 JOIN part_q14 ON l_partkey = p_partkey
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'""".stripMargin)
      },
      Some("""SELECT CAST(100.00 *
          CAST(SUM(CASE WHEN p_type = 'PROMO'
            THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
            ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
          CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
          AS DOUBLE) AS promo_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'""")),

    // ---- TPC-H Q15 shape: top supplier — a CTE referenced twice (once as
    // the join input, once under a scalar MAX subquery). Exact-decimal
    // revenue makes the double equality engine-safe. ----
    QuerySpec("q15_top_supplier",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("li_q15")
        t(s, dir, "supplier").createOrReplaceTempView("sup_q15")
        s.sql("""WITH revenue AS (
          |  SELECT l_suppkey AS supplier_no,
          |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
          |  FROM li_q15
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_revenue
          |FROM sup_q15 JOIN revenue ON s_suppkey = supplier_no
          |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
          |ORDER BY s_suppkey""".stripMargin)
      },
      Some("""WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
            CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s_suppkey""")),

    // ---- TPC-H Q16 shape: supplier count per part config — NOT IN over a
    // subquery (null-aware anti join) + COUNT DISTINCT of the fact key. ----
    QuerySpec("q16_supplier_cnt",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("li_q16")
        t(s, dir, "part").createOrReplaceTempView("part_q16")
        t(s, dir, "supplier").createOrReplaceTempView("sup_q16")
        s.sql("""SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
          |FROM li_q16 JOIN part_q16 ON l_partkey = p_partkey
          |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
          |  AND p_size IN (1,4,9,14,19,24,28,33,38,45)
          |  AND l_suppkey NOT IN (SELECT s_suppkey FROM sup_q16 WHERE s_acctbal < 0)
          |GROUP BY p_brand, p_type, p_size
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 50""".stripMargin)
      },
      Some("""SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
          AND p_size IN (1,4,9,14,19,24,28,33,38,45)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 50""")),

    // ---- TPC-H Q19 shape: disjunctive join — equi-join plus an OR of
    // conjunctive range predicates spanning BOTH sides. Catalyst must keep
    // the equi-key join and evaluate the disjunction as a post-join
    // filter, extracting the common p_partkey = l_partkey key (a naive
    // planner degrades to a nested loop). ----
    QuerySpec("q19_disjunctive_revenue",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("li_q19")
        t(s, dir, "part").createOrReplaceTempView("part_q19")
        s.sql("""SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
          |FROM li_q19 JOIN part_q19 ON p_partkey = l_partkey
          |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
          |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
          |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)
      },
      Some("""SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""")),

    // ---- TPC-H Q2 shape: minimum-cost supplier — a correlated scalar MIN
    // subquery whose inner query repeats the outer's region-restricted join
    // tree, equality on the (stored, arithmetic-free) double, top-100 with a
    // total tie-break order. Without a partsupp table the supply relation is
    // lineitem and "cost" is the stored l_extendedprice; the decorrelation
    // shape (per-part MIN aggregate joined back on partkey + cost) is
    // exactly Q2's. ----
    QuerySpec("q2_min_cost_supplier",
      (s, dir) => {
        Seq("lineitem", "part", "supplier", "nation", "region")
          .foreach(t0 => t(s, dir, t0).createOrReplaceTempView(s"${t0}_q2"))
        s.sql("""SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
          |FROM part_q2, supplier_q2, lineitem_q2, nation_q2, region_q2
          |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          |  AND p_size = 15
          |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          |  AND r_name = 'EUROPE'
          |  AND l_extendedprice = (
          |    SELECT MIN(l2.l_extendedprice)
          |    FROM lineitem_q2 l2, supplier_q2 s2, nation_q2 n2, region_q2 r2
          |    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
          |      AND s2.s_nationkey = n2.n_nationkey
          |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
          |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin)
      },
      Some("""SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
        FROM part, supplier, lineitem, nation, region
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          AND p_size = 15
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'EUROPE'
          AND l_extendedprice = (
            SELECT MIN(l2.l_extendedprice)
            FROM lineitem l2, supplier s2, nation n2, region r2
            WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
              AND s2.s_nationkey = n2.n_nationkey
              AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""")),

    // ---- TPC-H Q12 shape: shipping-priority CASE counts — one equi-join
    // with a non-equi residual (late shipment: l_shipdate > o_orderdate,
    // standing in for the commit/receipt dates the testdata lacks), an IN
    // over two group values (l_returnflag for the absent l_shipmode), and
    // the high/low priority CASE sums. ----
    QuerySpec("q12_late_shipments",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("ord_q12")
        t(s, dir, "lineitem").createOrReplaceTempView("li_q12")
        s.sql("""SELECT l_returnflag,
          |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
          |FROM ord_q12 JOIN li_q12 ON o_orderkey = l_orderkey
          |WHERE l_returnflag IN ('A', 'R') AND l_shipdate > o_orderdate
          |  AND l_shipdate >= TIMESTAMP '1995-01-01'
          |  AND l_shipdate < TIMESTAMP '1997-01-01'
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag,
          CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_returnflag IN ('A', 'R') AND l_shipdate > o_orderdate
          AND l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- PIVOT: order counts per priority pivoted by status (explicit
    // value list keeps the output schema deterministic). Oracle uses the
    // equivalent conditional aggregation. ----
    QuerySpec("q_pivot",
      (s, dir) => t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
          COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
          COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
          COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- UNPIVOT (melt): status-count columns back to long form. ----
    QuerySpec("q_unpivot",
      (s, dir) => {
        val wide = t(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .pivot("o_orderstatus", Seq("O", "F", "P"))
          .agg(count(lit(1)))
          .na.fill(0L)
        wide.unpivot(Array(col("o_orderpriority")),
            Array(col("O"), col("F"), col("P")), "status", "n")
          .orderBy(col("o_orderpriority"), col("status"))
      },
      Some("""WITH wide AS (
          SELECT o_orderpriority,
            COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
            COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
            COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
          FROM orders GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, status, n FROM (
          SELECT o_orderpriority, 'O' AS status, "O" AS n FROM wide
          UNION ALL SELECT o_orderpriority, 'F', "F" FROM wide
          UNION ALL SELECT o_orderpriority, 'P', "P" FROM wide
        ) ORDER BY o_orderpriority, status""")),

    // ---- Semi join via IN subquery (DQ FK-check shape, SURVEY §2.2) ----
    QuerySpec("q_semi_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
          .select(col("o_custkey"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
        ORDER BY c_custkey""")),

    // ---- Anti join (NOT EXISTS): customers with no big order ----
    QuerySpec("q_anti_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
          .select(col("o_custkey"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_mktsegment"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        ORDER BY c_custkey""")),

    // ---- Ranking window: top-3 orders per customer ----
    QuerySpec("q_window_topk",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        o.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3 && col("o_custkey") < 100)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
          .orderBy(col("o_custkey"), col("rk"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rk
        FROM orders) WHERE rk <= 3 AND o_custkey < 100
        ORDER BY o_custkey, rk""")),

    // ---- Running-total window over the events stream table ----
    QuerySpec("q_window_running",
      (s, dir) => {
        val e = t(s, dir, "events").filter(col("user_id") < 50)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        e.select(col("user_id"), col("event_id"),
            unix_millis(col("ts")).as("ts_ms"),
            sum(col("value").cast(DecimalType(18, 6))).over(w).cast("double").as("running_value"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
          PARTITION BY user_id ORDER BY ts ASC, event_id ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        FROM events WHERE user_id < 50 ORDER BY user_id, event_id""")),

    // ---- Sessionization: gaps-and-islands via lag + conditional running sum ----
    QuerySpec("q_sessionize",
      (s, dir) => {
        val e = t(s, dir, "events").filter(col("user_id") < 50)
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val gapped = e.select(col("user_id"), col("event_id"), col("ts"),
          when(unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(byUser)) > 1800000L, 1L)
            .otherwise(0L).as("new_session"))
        gapped.select(col("user_id"), col("event_id"),
            sum(col("new_session")).over(byUser).as("session_id"))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"))
          .orderBy(col("user_id"), col("session_id"))
      },
      Some("""WITH gapped AS (
          SELECT user_id, event_id, ts,
            CASE WHEN epoch_ms(ts) - epoch_ms(LAG(ts, 1) OVER w) > 1800000 THEN 1 ELSE 0 END AS new_session
          FROM events WHERE user_id < 50
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ), sess AS (
          SELECT user_id, event_id,
            CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          FROM gapped
        )
        SELECT user_id, session_id, COUNT(*) AS n_events FROM sess
        GROUP BY user_id, session_id ORDER BY user_id, session_id""")),

    // ---- Rollup (multi-level agg) over region/nation ----
    QuerySpec("q_rollup",
      (s, dir) => {
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        val c = t(s, dir, "customer")
        c.join(n, c("c_nationkey") === n("n_nationkey"))
          .join(r, n("n_regionkey") === r("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal"), 2).as("sum_acctbal"))
          .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
      },
      Some(s"""SELECT r_name, n_name, COUNT(*) AS n_customers,
        ${dsumSql("c_acctbal", 2)} AS sum_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")),

    // ---- Exact distinct aggregation ----
    QuerySpec("q_count_distinct",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- Set operations: UNION / INTERSECT / EXCEPT ----
    QuerySpec("q_set_ops",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val buyers = t(s, dir, "orders").select(col("o_custkey").as("k"))
        val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
        val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey").as("k"))
        building.intersect(buyers).union(auto.except(buyers)).distinct()
          .orderBy(col("k"))
      },
      Some("""SELECT k FROM (
        SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT SELECT o_custkey AS k FROM orders
        UNION
        (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
         EXCEPT SELECT o_custkey AS k FROM orders)
      ) ORDER BY k""")),

    // ---- Scalar function showcase (string/date/math/conditional) ----
    QuerySpec("q_scalar_funcs",
      (s, dir) => t(s, dir, "orders").filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"),
          concat(upper(col("o_orderstatus")), lit("#"), col("o_orderpriority")).as("status_tag"),
          length(col("o_orderpriority")).as("prio_len"),
          substring(col("o_orderpriority"), 1, 1).as("prio_code"),
          year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"),
          floor(col("o_totalprice")).as("price_floor"),
          when(col("o_totalprice") > 200000.0, lit("big")).otherwise(lit("small")).as("size_class"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
        upper(o_orderstatus) || '#' || o_orderpriority AS status_tag,
        CAST(length(o_orderpriority) AS INT) AS prio_len,
        substring(o_orderpriority, 1, 1) AS prio_code,
        CAST(year(o_orderdate) AS INT) AS o_year,
        CAST(month(o_orderdate) AS INT) AS o_month,
        CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
        CASE WHEN o_totalprice > 200000.0 THEN 'big' ELSE 'small' END AS size_class
        FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""")),

    // ---- Conditional aggregation (CASE inside SUM) ----
    QuerySpec("q_conditional_agg",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > 50.0, 1L).otherwise(0L)).as("n_high"),
          dsum(when(col("value") > 50.0, col("value")).otherwise(lit(0.0)), 6).as("sum_high"))
        .orderBy(col("event_type")),
      Some(s"""SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        ${dsumSql("CASE WHEN value > 50.0 THEN value ELSE 0.0 END", 6)} AS sum_high
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- Time-bucketed aggregation (the batch shape of a streaming
    // tumbling-window agg) ----
    QuerySpec("q_time_bucket",
      (s, dir) => t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
        .select(unix_millis(col("day")).as("day_ms"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("day_ms"), col("event_type")),
      Some(s"""SELECT epoch_ms(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS day_ms, event_type,
        COUNT(*) AS n, ${dsumSql("value", 6)} AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY day_ms, event_type""")),

    // ---- As-of join: latest purchase at-or-before each click, per user.
    // Spark-side: single-shuffle union + last_value(ignoreNulls) window —
    // no range join, no cartesian; scales as one sort per user partition. ----
    QuerySpec("q_asof_join",
      (s, dir) => {
        val e = t(s, dir, "events").filter(col("user_id") < 50)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts"))
        val purch = e.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("p_event_id"))
        val unioned = clicks.select(col("user_id"), col("ts"), lit(1).as("is_click"),
            col("event_id"), lit(null).cast("long").as("p_event_id"))
          .unionByName(purch.select(col("user_id"), col("ts"), lit(0).as("is_click"),
            lit(null).cast("long").as("event_id"), col("p_event_id")))
        // purchases sort before clicks at equal ts => "at or before" semantics
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("is_click").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        unioned
          .withColumn("last_purchase", last(col("p_event_id"), ignoreNulls = true).over(w))
          .filter(col("is_click") === 1)
          .select(col("user_id"), col("event_id").as("click_id"),
            unix_millis(col("ts")).as("ts_ms"), col("last_purchase"))
          .orderBy(col("user_id"), col("click_id"))
      },
      Some("""WITH clicks AS (
          SELECT user_id, event_id, ts FROM events WHERE event_type = 'click' AND user_id < 50
        ), purch AS (
          SELECT user_id, ts, MAX(event_id) AS p_event_id FROM events
          WHERE event_type = 'purchase' AND user_id < 50 GROUP BY user_id, ts
        )
        SELECT c.user_id AS user_id, c.event_id AS click_id, epoch_ms(c.ts) AS ts_ms,
          (SELECT p.p_event_id FROM purch p
            WHERE p.user_id = c.user_id AND p.ts <= c.ts
            ORDER BY p.ts DESC LIMIT 1) AS last_purchase
        FROM clicks c ORDER BY user_id, click_id""")),

    // ---- Date/interval arithmetic over order dates ----
    QuerySpec("q_date_arith",
      (s, dir) => t(s, dir, "orders").filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"),
          datediff(lit("1998-12-31"), col("o_orderdate")).as("days_to_eoy"),
          unix_millis((col("o_orderdate") + expr("INTERVAL 90 DAYS")).cast("timestamp")).as("due_ms"),
          dayofweek(col("o_orderdate")).as("dow"),
          quarter(col("o_orderdate")).as("q"),
          last_day(col("o_orderdate")).cast("string").as("month_end"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
          CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT) AS days_to_eoy,
          epoch_ms(o_orderdate + INTERVAL 90 DAY) AS due_ms,
          CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
          CAST(quarter(o_orderdate) AS INT) AS q,
          CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end
        FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""")),

    // ---- Cube: full grouping-set lattice over two dims ----
    QuerySpec("q_cube",
      (s, dir) => {
        val o = t(s, dir, "orders")
        o.cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("sum_price"))
          .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
      },
      Some(s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        ${dsumSql("o_totalprice", 2)} AS sum_price
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")),

    // ---- JSON extraction from the events.props payload column ----
    QuerySpec("q_json_extract",
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("k_mod")),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
        COUNT(*) AS n, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        FROM events GROUP BY 1 ORDER BY k_mod""")),

    // ---- Approximate count-distinct (HLL++). The raw estimate is
    // algorithm-specific, but the CONTRACT — estimate within 3x the default
    // rsd of the exact count — is engine-independent: each engine checks its
    // OWN estimator against the same exact count, and the boolean + exact
    // columns hash-match. ----
    QuerySpec("q_approx_distinct",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_linestatus"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts")).cast("double") /
            col("exact_parts").cast("double") <= 0.15).as("within_bound"))
        .orderBy(col("l_linestatus")),
      Some("""SELECT l_linestatus, CAST(exact_parts AS BIGINT) AS exact_parts,
          (ABS(approx - exact_parts) * 1.0 / exact_parts) <= 0.15 AS within_bound
        FROM (
          SELECT l_linestatus, approx_count_distinct(l_partkey) AS approx,
            COUNT(DISTINCT l_partkey) AS exact_parts
          FROM lineitem GROUP BY l_linestatus
        ) ORDER BY l_linestatus""")),

    // ---- Range (theta) join: event pairs within 6h per user. Equi-join on
    // user_id carries the heavy lifting; the range predicate filters inside
    // each hash bucket, so this stays a hash join, not a cartesian. ----
    QuerySpec("q_range_join",
      (s, dir) => {
        val e = t(s, dir, "events").filter(col("user_id") < 5)
          .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"))
        val a = e.select(col("user_id"), col("event_id").as("id_a"), col("ts_ms").as("ts_a"))
        val b = e.select(col("user_id"), col("event_id").as("id_b"), col("ts_ms").as("ts_b"))
        a.join(b, Seq("user_id"))
          .where(col("id_a") < col("id_b") &&
            abs(col("ts_b") - col("ts_a")) <= 21600000L)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT a.user_id AS user_id, COUNT(*) AS n_pairs
        FROM (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events WHERE user_id < 5) a
        JOIN (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events WHERE user_id < 5) b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
          AND abs(b.ts_ms - a.ts_ms) <= 21600000
        GROUP BY a.user_id ORDER BY user_id""")),

    // ---- Exact interpolated percentiles (both engines sort exactly) ----
    QuerySpec("q_percentile",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          expr("percentile(l_extendedprice, 0.5)").as("price_p50"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
          quantile_cont(l_quantity, 0.5) AS p50,
          quantile_cont(l_quantity, 0.9) AS p90,
          quantile_cont(l_extendedprice, 0.5) AS price_p50
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- Array/higher-order functions over collected per-group values ----
    QuerySpec("q_array_funcs",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 100)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"))
        .select(col("l_orderkey"),
          size(col("lines")).as("n_lines"),
          aggregate(col("lines"), lit(0L), (a, x) => a + x).as("sum_lines"),
          element_at(col("lines"), 1).as("first_line"))
        .orderBy(col("l_orderkey")),
      Some("""SELECT l_orderkey, CAST(len(lines) AS INT) AS n_lines,
          CAST(list_sum(lines) AS BIGINT) AS sum_lines, lines[1] AS first_line
        FROM (SELECT l_orderkey, list_sort(list(l_linenumber)) AS lines
              FROM lineitem WHERE l_orderkey < 100 GROUP BY l_orderkey)
        ORDER BY l_orderkey""")),

    // ---- DQ plan shapes (SURVEY §2.2): PK / FK / custom-expression checks
    // expressed over testdata exactly as the reference generates them ----
    QuerySpec("dq_pk_check",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val total = c.agg(count(lit(1)).as("total"))
        val valid = c.groupBy(col("c_custkey")).agg(count(col("c_custkey")).as("cnt"))
          .filter(col("cnt") === 1).agg(count(lit(1)).as("valid"))
        total.crossJoin(valid)
          .select(lit("pk_customer").as("name"), col("total"), col("valid"),
            (col("total") - col("valid")).as("invalid"))
      },
      Some("""SELECT 'pk_customer' AS name,
        (SELECT COUNT(*) FROM customer) AS total,
        (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer GROUP BY c_custkey HAVING COUNT(c_custkey) = 1)) AS valid,
        (SELECT COUNT(*) FROM customer) -
        (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer GROUP BY c_custkey HAVING COUNT(c_custkey) = 1)) AS invalid""")),

    QuerySpec("dq_fk_check",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer").select(col("c_custkey"))
        val total = o.agg(count(lit(1)).as("total"))
        val valid = o.join(c, o("o_custkey") === c("c_custkey"), "left_semi")
          .agg(count(lit(1)).as("valid"))
        total.crossJoin(valid)
          .select(lit("fk_orders_customer").as("name"), col("total"), col("valid"),
            (col("total") - col("valid")).as("invalid"))
      },
      Some("""SELECT 'fk_orders_customer' AS name,
        (SELECT COUNT(*) FROM orders) AS total,
        (SELECT COUNT(*) FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer)) AS valid,
        (SELECT COUNT(*) FROM orders) -
        (SELECT COUNT(*) FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer)) AS invalid""")),

    QuerySpec("dq_custom_check",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val total = o.agg(count(lit(1)).as("total"))
        val valid = o.filter(col("o_totalprice") > 0.0 && col("o_orderstatus").isin("O", "F", "P"))
          .agg(count(lit(1)).as("valid"))
        total.crossJoin(valid)
          .select(lit("orders_sane").as("name"), col("total"), col("valid"),
            (col("total") - col("valid")).as("invalid"))
      },
      Some("""SELECT 'orders_sane' AS name,
        (SELECT COUNT(*) FROM orders) AS total,
        (SELECT COUNT(*) FROM orders WHERE o_totalprice > 0.0 AND o_orderstatus IN ('O','F','P')) AS valid,
        (SELECT COUNT(*) FROM orders) -
        (SELECT COUNT(*) FROM orders WHERE o_totalprice > 0.0 AND o_orderstatus IN ('O','F','P')) AS invalid""")),

    // ---- salted two-phase aggregation (skew tooling): the salted partial +
    // merge plan must produce EXACTLY the plain GROUP BY result. Values are
    // pre-cast to decimal so the two accumulation orders cannot diverge. ----
    QuerySpec("skew_salted_agg",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .withColumn("l_quantity", col("l_quantity").cast(DecimalType(18, 2)))
        graft.operators.Skew.saltedSum(li, Seq("l_returnflag"), "l_quantity", salts = 32)
          .select(col("l_returnflag"),
            col("sum_l_quantity").cast("double").as("sum_qty"), col("n_rows"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- split-union skew join: hot keys (detected from the data) join via
    // broadcast, the long tail joins as usual, and the union must equal the
    // plain join — the power-law-key plan checked value-exact. ----
    QuerySpec("skew_split_join",
      (s, dir) => {
        val l = t(s, dir, "orders").select(col("o_custkey").as("custkey"), col("o_totalprice"))
        val r = t(s, dir, "customer").select(col("c_custkey").as("custkey"), col("c_mktsegment"))
        // fraction 1.0 keeps hot-key detection deterministic for the gate
        val hot = graft.operators.Skew.hotKeys(l, "custkey", fraction = 1.0, threshold = 20L)
        graft.operators.Skew.splitJoin(l, r, "custkey", hot)
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("total"))
          .orderBy(col("segment"))
      },
      Some("""SELECT c_mktsegment AS segment, COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY segment""")),

    // ---- bucketed write + shuffle-free bucketed join (the 100 TB layout
    // lever): both sides land as 8-bucket external tables, the join runs on
    // the bucket key, and the aggregate must equal the plain-join oracle.
    // BucketingSuite asserts the no-Exchange plan shape; this gate pins the
    // values. ----
    QuerySpec("bucketed_join",
      (s, dir) => {
        import org.apache.spark.sql.SaveMode
        val base = QueryPack.wh(dir) + "/buck"
        graft.operators.Bucketing.writeBucketed(
          t(s, dir, "orders").select("o_custkey", "o_totalprice"),
          "gate_orders_b", Seq("o_custkey"), 8, sorted = true, SaveMode.Overwrite,
          Some(s"$base/gate_orders_b"))
        graft.operators.Bucketing.writeBucketed(
          t(s, dir, "customer").select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
          "gate_cust_b", Seq("o_custkey"), 8, sorted = true, SaveMode.Overwrite,
          Some(s"$base/gate_cust_b"))
        graft.operators.Bucketing.bucketedJoin(s, "gate_orders_b", "gate_cust_b", "o_custkey")
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("total"))
          .orderBy(col("segment"))
      },
      Some("""SELECT c_mktsegment AS segment, COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY segment"""))
  )
}
