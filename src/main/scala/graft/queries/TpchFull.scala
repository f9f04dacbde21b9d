package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables.t
import graft.queries.QueryDef.dec

/** The remaining 13 TPC-H query shapes (Q2/Q4/Q6/Q8/Q9/Q11/Q12/Q15/Q16/
  * Q17/Q20/Q21/Q22), completing the 22-query suite started in
  * `Relational` (Q1/Q3/Q5) and `RelationalMore` (Q7/Q10/Q13/Q14/Q18/Q19).
  *
  * The testdata carries no `partsupp`, ship/commit/receipt-date pair,
  * ship mode, phone, or comment columns, so the classic predicates are
  * restated on what exists while preserving each query's OPERATOR shape —
  * the thing this library must prove it can execute:
  *   - `partsupp` := DISTINCT (l_partkey, l_suppkey) from lineitem,
  *   - "late delivery" := `l_returnflag = 'R'`,
  *   - supply cost := `s_acctbal` (Q2) / `p_retailprice` (Q9),
  *   - country code := `right(c_name, 2)` (Q22),
  *   - ship mode := `l_linestatus` (Q12).
  *
  * Exact-arithmetic discipline throughout (QueryDef scaladoc): money
  * aggregates run in DECIMAL and convert to DOUBLE once at the end;
  * threshold comparisons against an average avoid division entirely
  * (`x * n > sum` instead of `x > sum / n`) so no engine-specific
  * decimal-division scale rule can flip a boundary row.
  */
object TpchFull {

  private def revenue = (dec(col("l_extendedprice")) *
    (lit(BigDecimal(1)) - dec(col("l_discount"))).cast("decimal(4,2)"))
    .cast("decimal(18,4)")

  private val revenueSql =
    """CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
       CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(4,2))
       AS DECIMAL(18,4))"""

  private def tsLit(d: String) = lit(s"$d 00:00:00").cast("timestamp")

  /** Q2 shape: min-cost supplier per part — the correlated-MIN pattern.
    * Region-filtered supplier dims broadcast; the per-part minimum is a
    * window (one shuffle on p_partkey), not a self-join. Raw column
    * pass-through only, so the hash check needs no casts.
    */
  val q2MinCostSupplier = QueryDef(
    "q2_min_cost_supplier",
    (s, dir) => {
      val ps = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val suppEu = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
      val mn = Window.partitionBy(col("p_partkey"))
      t(s, dir, "part")
        .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
        .join(ps, col("p_partkey") === col("l_partkey"))
        .join(suppEu, col("l_suppkey") === col("s_suppkey"))
        .withColumn("mn", min(col("s_acctbal")).over(mn))
        .filter(col("s_acctbal") === col("mn"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },
    Some("""
      SELECT s_acctbal, s_name, n_name, p_partkey, p_name
      FROM (SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
                   min(s_acctbal) OVER (PARTITION BY p_partkey) AS mn
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
              JOIN part ON p_partkey = l_partkey
              JOIN supplier ON s_suppkey = l_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
            WHERE p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE')
      WHERE s_acctbal = mn
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"""))

  /** Q4 shape: order-priority count gated by EXISTS — a left-semi join
    * (never a row-multiplying inner join) from a date-sliced orders scan
    * to the flagged lineitems.
    */
  val q4OrderPriority = QueryDef(
    "q4_order_priority",
    (s, dir) => t(s, dir, "orders")
      .filter(col("o_orderdate") >= tsLit("1997-01-01") &&
        col("o_orderdate") < tsLit("1997-04-01"))
      .join(t(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority")),
    Some("""
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1997-04-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Q6 shape: the pure filter-aggregate forecast query — every predicate
    * pushes to the parquet scan; one partial/final agg, zero joins.
    */
  val q6ForecastRevenue = QueryDef(
    "q6_forecast_revenue",
    (s, dir) => t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= tsLit("1996-01-01") &&
        col("l_shipdate") < tsLit("1997-01-01") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(
        sum((dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items")),
    Some("""
      SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           CAST(l_discount AS DECIMAL(18,2))
                      AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount >= CAST(0.05 AS DOUBLE)
        AND l_discount <= CAST(0.07 AS DOUBLE)
        AND l_quantity < 24"""))

  /** Q8 shape: national market share — conditional share of a filtered
    * fact star. Both nation lookups broadcast under different aliases;
    * numerator and denominator stay exact decimals; ONE double division
    * at the end (identical IEEE result on both engines).
    */
  val q8MarketShare = QueryDef(
    "q8_market_share",
    (s, dir) => {
      val nCust = t(s, dir, "nation")
        .select(col("n_nationkey").as("cn_nk"), col("n_regionkey").as("cn_rk"))
      val nSupp = t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_nk"), col("n_name").as("supp_nation"))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_type") === "ECONOMY")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= tsLit("1995-01-01") &&
            col("o_orderdate") < tsLit("1997-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nCust), col("c_nationkey") === col("cn_nk"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "AMERICA")),
          col("cn_rk") === col("r_regionkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nSupp), col("s_nationkey") === col("sn_nk"))
        .groupBy(year(col("o_orderdate")).cast("bigint").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_5", revenue)
            .otherwise(lit(BigDecimal(0)).cast("decimal(18,4)"))).as("nat"),
          sum(revenue).as("tot"))
        .select(col("o_year"),
          (col("nat").cast("double") / col("tot").cast("double")).as("mkt_share"),
          col("nat").cast("double").as("nation_volume"),
          col("tot").cast("double").as("total_volume"))
        .orderBy(col("o_year"))
    },
    Some(s"""
      SELECT o_year,
             CAST(nat AS DOUBLE) / CAST(tot AS DOUBLE) AS mkt_share,
             CAST(nat AS DOUBLE) AS nation_volume,
             CAST(tot AS DOUBLE) AS total_volume
      FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   SUM(CASE WHEN n2.n_name = 'NATION_5' THEN $revenueSql
                            ELSE CAST(0 AS DECIMAL(18,4)) END) AS nat,
                   SUM($revenueSql) AS tot
            FROM lineitem
              JOIN part ON l_partkey = p_partkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON c_nationkey = n1.n_nationkey
              JOIN region ON n1.n_regionkey = r_regionkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
              AND o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY 1)
      ORDER BY o_year"""))

  /** Q9 shape: product-line profit by nation and year. Cost proxy is
    * `p_retailprice * l_quantity` (no ps_supplycost in this schema);
    * profit stays decimal until the final cast.
    */
  val q9ProductProfit = QueryDef(
    "q9_product_profit",
    (s, dir) => {
      val cost = (dec(col("p_retailprice")) * dec(col("l_quantity")))
        .cast("decimal(18,4)")
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_name").contains("red"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("bigint").as("o_year"))
        .agg(sum((revenue - cost).cast("decimal(18,4)")).cast("double")
          .as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
    Some(s"""
      SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(SUM(CAST($revenueSql -
                           CAST(CAST(p_retailprice AS DECIMAL(18,2)) *
                                CAST(l_quantity AS DECIMAL(18,2))
                           AS DECIMAL(18,4))
                      AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
      FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
      WHERE p_name LIKE '%red%'
      GROUP BY 1, 2 ORDER BY nation, o_year DESC"""))

  /** Q11 shape: important-stock value with a global-fraction HAVING —
    * the scalar-subquery threshold pattern. The total is a broadcast
    * one-row cross join; the comparison is decimal-exact on both sides.
    */
  val q11ImportantStock = QueryDef(
    "q11_important_stock",
    (s, dir) => {
      val natSupp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val li = t(s, dir, "lineitem")
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
      val perPart = li.groupBy(col("l_partkey"))
        .agg(sum(dec(col("l_extendedprice"))).as("value"))
      val total = perPart.agg(sum(col("value")).as("tot"))
      perPart.crossJoin(broadcast(total))
        .filter(col("value") > col("tot") * lit(BigDecimal("0.0001")))
        .select(col("l_partkey"), col("value").cast("double").as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    },
    Some("""
      WITH nat_li AS (
        SELECT l_partkey, l_extendedprice FROM lineitem
        WHERE l_suppkey IN (SELECT s_suppkey FROM supplier JOIN nation
                            ON s_nationkey = n_nationkey
                            WHERE n_name = 'NATION_3'))
      SELECT l_partkey, CAST(value AS DOUBLE) AS value
      FROM (SELECT l_partkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
            FROM nat_li GROUP BY l_partkey)
      WHERE value > (SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                     FROM nat_li) * CAST(0.0001 AS DECIMAL(8,4))
      ORDER BY value DESC, l_partkey"""))

  /** Q12 shape: priority lines by category (line status stands in for
    * ship mode) — the CASE-conditional dual count over a fact/dim join.
    */
  val q12PriorityLines = QueryDef(
    "q12_priority_lines",
    (s, dir) => {
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= tsLit("1996-01-01") &&
            col("l_shipdate") < tsLit("1997-01-01")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    },
    Some("""
      SELECT l_linestatus,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_linestatus ORDER BY l_linestatus"""))

  /** Q15 shape: top supplier by quarterly revenue — the view + scalar-MAX
    * pattern. Equality against the max happens on the EXACT decimal, so
    * ties are found identically on both engines.
    */
  val q15TopSupplier = QueryDef(
    "q15_top_supplier",
    (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= tsLit("1996-01-01") &&
          col("l_shipdate") < tsLit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revenue).as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      t(s, dir, "supplier")
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("mx"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_revenue").cast("double").as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    Some(s"""
      WITH rev AS (
        SELECT l_suppkey, SUM($revenueSql) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name,
             CAST(total_revenue AS DOUBLE) AS total_revenue
      FROM supplier JOIN rev ON s_suppkey = l_suppkey
      WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
      ORDER BY s_suppkey"""))

  /** Q16 shape: supplier count per part attribute with a NOT-IN
    * exclusion — left-anti against the bad-supplier list (negative
    * balance stands in for the complaints comment scan), then a
    * COUNT(DISTINCT) per attribute triple.
    */
  val q16SupplierCount = QueryDef(
    "q16_supplier_count",
    (s, dir) => {
      val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        .join(t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey")).distinct(),
          col("p_partkey") === col("l_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
    Some("""
      SELECT p_brand, p_type, p_size,
             count(DISTINCT l_suppkey) AS supplier_cnt
      FROM part
        JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
          ON p_partkey = l_partkey
      WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""))

  /** Q17 shape: small-quantity revenue loss — the correlated per-part
    * average. The 20%-of-average threshold is restated divisionless:
    * `qty * 5 * cnt < sum` (all exact decimals), immune to decimal
    * division scale rules. Per-part aggregates join back to the fact.
    */
  val q17SmallQty = QueryDef(
    "q17_small_qty",
    (s, dir) => {
      val perPart = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("agg_pk"))
        .agg(sum(dec(col("l_quantity"))).as("sq"),
          count(lit(1)).cast("decimal(10,0)").as("cq"))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_brand") === "Brand#3" && col("p_type") === "SMALL")),
          col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("agg_pk"))
        .filter(dec(col("l_quantity")) * col("cq") * lit(5) < col("sq"))
        .agg((sum(dec(col("l_extendedprice"))).cast("double") / 7.0)
          .as("avg_yearly"))
    },
    Some("""
      WITH per_part AS (
        SELECT l_partkey AS agg_pk,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
               CAST(count(*) AS DECIMAL(10,0)) AS cq
        FROM lineitem GROUP BY l_partkey)
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               / 7.0 AS avg_yearly
      FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN per_part ON l_partkey = agg_pk
      WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'
        AND CAST(l_quantity AS DECIMAL(18,2)) * cq * 5 < sq"""))

  /** Q20 shape: suppliers with excess supply of a part family — nested
    * IN chains become a grouped-HAVING candidate list probed by a
    * left-semi join; the nation dim broadcasts.
    */
  val q20ExcessSupply = QueryDef(
    "q20_excess_supply",
    (s, dir) => {
      val bigSupply = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(dec(col("l_quantity"))).as("qty"))
        .filter(col("qty") > 50)
        .select(col("l_suppkey"))
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .join(bigSupply, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(col("s_name"))
    },
    Some("""
      SELECT s_name, s_acctbal
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'
        AND s_suppkey IN (
          SELECT l_suppkey FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_type = 'PROMO')
          GROUP BY l_suppkey, l_partkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50)
      ORDER BY s_name"""))

  /** Q21 shape: suppliers who kept multi-supplier orders waiting — the
    * EXISTS / NOT-EXISTS pair. Restated as per-order distinct-supplier
    * aggregates (`n_supp > 1 AND n_supp_r = 1`), which is equivalent to
    * "another supplier exists, no OTHER supplier flagged" for a flagged
    * line, and runs as two hash aggregates instead of two non-equi
    * self-joins — the shape that survives 100×.
    */
  val q21WaitingSupplier = QueryDef(
    "q21_waiting_supplier",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      // Two-level aggregate instead of two countDistincts (round 19):
      // Spark plans multiple distinct aggregates via Expand (×2 the
      // fact rows through the first exchange, plus the gid machinery).
      // Grouping by (order, supplier) first — with bool_or carrying the
      // "has a flagged line" bit — then counting per order is
      // value-identical to the two countDistincts, and shuffles the
      // fact once at its natural (order, supplier) grain with no row
      // multiplication. Both counts skip the NULL-supplier group, as
      // countDistinct skips NULL: count(po_sk) by itself, n_supp_r by
      // its po_sk guard.
      val perOrder = li
        .groupBy(col("l_orderkey").as("po_ok"), col("l_suppkey").as("po_sk"))
        .agg(max(col("l_returnflag") === "R").as("has_r"))
        .groupBy(col("po_ok"))
        .agg(
          count(col("po_sk")).as("n_supp"),
          sum(when(col("has_r") && col("po_sk").isNotNull, 1L)
            .otherwise(0L)).as("n_supp_r"))
      li.filter(col("l_returnflag") === "R")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(perOrder, col("l_orderkey") === col("po_ok"))
        .filter(col("n_supp") > 1 && col("n_supp_r") === 1)
        .join(broadcast(t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_2")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },
    Some("""
      WITH per_order AS (
        SELECT l_orderkey AS po_ok,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN l_returnflag = 'R'
                                   THEN l_suppkey END) AS n_supp_r
        FROM lineitem GROUP BY l_orderkey)
      SELECT s_name, count(*) AS numwait
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN per_order ON l_orderkey = po_ok
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
      WHERE l_returnflag = 'R' AND o_orderstatus = 'F'
        AND n_supp > 1 AND n_supp_r = 1 AND n_name = 'NATION_2'
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"""))

  /** Q22 shape: above-average-balance customers with no RECENT orders,
    * by country code (`right(c_name, 2)` proxy; every customer in this
    * testdata has SOME order, so "no orders in 7 years" becomes "no
    * orders since 2000-01-01"). The above-average predicate is
    * divisionless (`bal * n > sum`) against a broadcast one-row scalar;
    * the no-recent-orders gate is a left-anti join on a date-sliced
    * orders scan (the predicate pushes to the scan).
    */
  val q22GlobalSales = QueryDef(
    "q22_global_sales",
    (s, dir) => {
      val codes = Seq("01", "12", "23", "34", "45", "56", "67")
      val cust = t(s, dir, "customer")
        .withColumn("cntrycode", expr("right(c_name, 2)"))
        .filter(col("cntrycode").isin(codes: _*))
      val stats = cust.filter(col("c_acctbal") > 0)
        .agg(sum(dec(col("c_acctbal"))).as("s"),
          count(lit(1)).cast("decimal(10,0)").as("n"))
      cust
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= tsLit("2000-01-01"))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(stats))
        .filter(dec(col("c_acctbal")) * col("n") > col("s"))
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
        .orderBy(col("cntrycode"))
    },
    Some("""
      WITH cust AS (
        SELECT c_custkey, c_acctbal, right(c_name, 2) AS cntrycode
        FROM customer
        WHERE right(c_name, 2) IN ('01','12','23','34','45','56','67')),
      stats AS (
        SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
               CAST(count(*) AS DECIMAL(10,0)) AS n
        FROM cust WHERE c_acctbal > 0)
      SELECT cntrycode, count(*) AS numcust,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS totacctbal
      FROM cust CROSS JOIN stats
      WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
      GROUP BY cntrycode ORDER BY cntrycode"""))

  val all: Seq[QueryDef] = Seq(q2MinCostSupplier, q4OrderPriority,
    q6ForecastRevenue, q8MarketShare, q9ProductProfit, q11ImportantStock,
    q12PriorityLines, q15TopSupplier, q16SupplierCount, q17SmallQty,
    q20ExcessSupply, q21WaitingSupplier, q22GlobalSales)
}
