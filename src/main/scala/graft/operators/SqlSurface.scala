package graft.operators

import graft.QueryDef
import graft.sources.Tables

/** The engine's SQL entry point: the same plans are reachable through
  * `spark.sql` over registered views — demonstrating that every operator
  * family is SQL-surfaced, not only DataFrame-surfaced. Thresholds built
  * from averages use `decimal_sum :: double / count` so both engines
  * compute the identical double (a bare avg() can differ in the last ulp
  * and flip boundary rows). */
object SqlSurface {

  private def views(s: org.apache.spark.sql.SparkSession, d: String, ts: String*): Unit =
    ts.foreach(t => Tables.table(s, d, t).createOrReplaceTempView(t))

  /** Dialect-shared query: the SAME ANSI text runs as `spark.sql` over
    * the registered views and as the DuckDB oracle — the strongest form
    * of the SQL-surface claim (one string, two engines, equal hashes). */
  private def sqlBoth(name: String, tables: Seq[String])(sql: String): QueryDef =
    QueryDef(name, sql) { (s, d) => views(s, d, tables: _*); s.sql(sql) }

  val defs: Seq[QueryDef] = Seq(
    sqlBoth("q_sql_revenue_by_nation",
      Seq("lineitem", "orders", "customer", "nation"))(
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |""".stripMargin),

    // TPC-H Q3 shape (shipping priority): segment-filtered customer x
    // date-bracketed orders x lineitem, revenue per open order, top 10.
    // The filters sit on three different tables, so this is the plan-
    // quality probe for pushdown-through-join: both predicates reach
    // their scans, customer (segment-pruned, ~300 rows) broadcasts, and
    // the ORDER BY ... LIMIT becomes TakeOrderedAndProject — no global
    // sort. Revenue is the exact-decimal sum; doubles leave via round().
    sqlBoth("q_sql_shipping_priority", Seq("customer", "orders", "lineitem"))(
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |  AND l_shipdate > TIMESTAMP '1997-07-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10
        |""".stripMargin),

    // TPC-H Q10 shape (returned items): per-customer lost revenue from
    // returned lineitems, nation attached, top 20 accounts. The return-
    // flag filter prunes lineitem at the scan to a third; nation is a
    // broadcast dim; the two fact joins shuffle on their keys and the
    // revenue tie-breaks by unique custkey so the LIMIT is stable in
    // both engines.
    sqlBoth("q_sql_returned_items",
      Seq("customer", "orders", "lineitem", "nation"))(
      """SELECT c_custkey, c_name, n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20
        |""".stripMargin),

    // Recursive CTE (Spark 4 WITH RECURSIVE): per nation, the smallest
    // nationkey reachable by walking consecutive keys within its region,
    // plus the walk length. Edges form chains (each node has at most one
    // predecessor), so UNION ALL derivations are unique and both engines
    // terminate at the same fixpoint with identical counts.
    // Planned as a driver-side fixpoint (graftbridge/RecursiveCte.scala).
    sqlBoth("q_sql_recursive", Seq("nation"))(
      """WITH RECURSIVE ed AS (
        |  SELECT a.n_nationkey AS i, b.n_nationkey AS j
        |  FROM nation a JOIN nation b
        |    ON b.n_nationkey = a.n_nationkey + 1 AND b.n_regionkey = a.n_regionkey),
        |walk(id, lbl) AS (
        |  SELECT n_nationkey, n_nationkey FROM nation
        |  UNION ALL
        |  SELECT e.j, w.lbl FROM walk w JOIN ed e ON e.i = w.id)
        |SELECT id AS n_nationkey, min(lbl) AS chain_root,
        |  count(*) AS chain_len
        |FROM walk GROUP BY id
        |""".stripMargin),

    // TPC-H Q4 shape (order priority checking): orders in a one-year
    // bracket with at least one line shipped after the order date,
    // counted per priority. The EXISTS decorrelates to a LEFT SEMI join
    // on l_orderkey — lineitem contributes at most one match per order
    // and only its join key + predicate columns cross the exchange; the
    // date filter prunes the orders scan before the join.
    sqlBoth("q_sql_order_priority", Seq("orders", "lineitem"))(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |""".stripMargin),

    // TPC-H Q12 shape (line priority by status): lines shipped in a
    // one-year bracket, split per linestatus into urgent/high vs other
    // order priorities — the conditional-count shape (Q12 keys on
    // l_shipmode, which this schema lacks; l_linestatus carries the
    // same plan: ship-date filter at the lineitem scan, one shuffle
    // join to orders, two CASE-guarded sums in one aggregate pass).
    sqlBoth("q_sql_line_priority", Seq("lineitem", "orders"))(
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus
        |""".stripMargin),

    // TPC-H Q14 shape (promo revenue): the share of one month's revenue
    // from PROMO-typed parts. part (2k rows/sf) broadcasts into the
    // date-pruned lineitem scan; both sums accumulate as exact decimal
    // in ONE aggregate pass and the ratio is a single double division
    // of the two rounded doubles — identical in both engines.
    sqlBoth("q_sql_promo_revenue", Seq("lineitem", "part"))(
      """WITH s AS (
        |  SELECT
        |    CAST(round(sum(CASE WHEN p_type = 'PROMO'
        |        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))
        |        ELSE CAST(0 AS DECIMAL(38,10)) END), 4) AS DOUBLE) AS promo_revenue,
        |    CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |    AND l_shipdate < TIMESTAMP '1997-10-01')
        |SELECT promo_revenue, total_revenue,
        |  100.0 * promo_revenue / total_revenue AS promo_pct
        |FROM s
        |""".stripMargin),

    // TPC-H Q18 shape (large-volume customers): orders whose total
    // quantity clears a threshold (~p99 of the per-order distribution),
    // with customer attached and quantity re-aggregated on the survivor
    // set. The HAVING subquery is a self-contained aggregate over
    // lineitem whose survivors (≈1% of orders) semi-join back — both
    // engines see a keys-only IN, and the final ORDER BY ... LIMIT is
    // TakeOrderedAndProject with o_orderkey as the unique tie-break.
    sqlBoth("q_sql_large_orders", Seq("customer", "orders", "lineitem"))(
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(38,10))) > 250)
        |GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
        |""".stripMargin),

    // Scalar subquery: Catalyst evaluates the uncorrelated subquery once
    // and broadcasts the scalar — no per-row re-evaluation.
    sqlBoth("q_sql_scalar_subquery", Seq("orders"))(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 2 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE)
        |                                 / count(*) FROM orders)
        |""".stripMargin),

    // Correlated subquery: decorrelated by Catalyst into aggregate + join
    // (no nested-loop re-execution per outer row).
    sqlBoth("q_sql_correlated_subquery", Seq("customer"))(
      """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE c_acctbal > 2 * (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(38,10))) AS DOUBLE)
        |                              / count(*)
        |                       FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
        |""".stripMargin),

    // TPC-H Q7 shape (volume shipping): bilateral trade between two
    // nations per ship year. Five joins, but only two carry volume —
    // supplier (100 rows/sf), customer (segment of 1.5k), and both
    // nation instances broadcast; the nation-pair disjunction reaches
    // the join output before the aggregate, and the lineitem date
    // bracket prunes its scan. The two nation roles need two aliased
    // instances of the same dim — the self-alias probe of the surface.
    sqlBoth("q_sql_volume_shipping",
      Seq("lineitem", "supplier", "orders", "customer", "nation"))(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS INT)
        |""".stripMargin),

    // TPC-H Q8 shape (national market share): one nation's share of a
    // region's order volume per year. The deepest join tree in the
    // registry — 7 tables — where every dim (part/supplier/nation x2/
    // region) broadcasts and only lineitem->orders shuffles; the share
    // is a guarded-sum / total-sum ratio computed in ONE aggregate pass
    // (both sums exact decimal, divided as the two rounded doubles —
    // the q_sql_promo_revenue discipline).
    sqlBoth("q_sql_market_share",
      Seq("lineitem", "part", "supplier", "orders", "customer", "nation", "region"))(
      """WITH flows AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)) AS volume,
        |    n1.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |  JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n2.n_regionkey
        |  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_year,
        |  CAST(round(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE CAST(0 AS DECIMAL(38,10)) END), 4) AS DOUBLE) AS nation_volume,
        |  CAST(round(sum(volume), 4) AS DOUBLE) AS total_volume,
        |  CAST(round(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE CAST(0 AS DECIMAL(38,10)) END), 4) AS DOUBLE)
        |    / CAST(round(sum(volume), 4) AS DOUBLE) AS mkt_share
        |FROM flows GROUP BY o_year
        |""".stripMargin),

    // TPC-H Q9 shape (product-type profit): revenue minus an input-cost
    // term (this schema has no partsupp, so cost = 0.1 * p_retailprice *
    // l_quantity — same columns-from-two-tables arithmetic), grouped by
    // supplier nation x ship year. The p_name LIKE filter prunes part
    // BEFORE its broadcast; profit subtracts one exact decimal from
    // another inside the sum, so accumulation order still cannot matter.
    sqlBoth("q_sql_profit_by_nation",
      Seq("lineitem", "part", "supplier", "nation"))(
      """SELECT n_name, CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))
        |    - CAST(0.1 * p_retailprice * l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY n_name, CAST(year(l_shipdate) AS INT)
        |""".stripMargin),

    // TPC-H Q13 shape (customer order-count distribution): how many
    // customers placed 0, 1, 2, ... qualifying orders. The LEFT join
    // keeps zero-order customers (count(o_orderkey) counts only matched
    // rows — the null-skipping count is the point of the shape), and the
    // filter lives in the JOIN condition, NOT the WHERE — pushed to the
    // orders scan but never turning the join inner. Two stacked
    // aggregations; the second runs over |customers| short rows.
    sqlBoth("q_sql_customer_distribution", Seq("customer", "orders"))(
      """SELECT n_orders, count(*) AS n_custs
        |FROM (SELECT c_custkey, count(o_orderkey) AS n_orders
        |      FROM customer LEFT JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |      GROUP BY c_custkey) AS c_orders
        |GROUP BY n_orders
        |""".stripMargin),

    // TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    // then the argmax via a scalar subquery over the SAME CTE — the
    // probe for CTE reuse (rev is referenced twice; Catalyst either
    // reuses the exchange or recomputes a 100-row aggregate, both
    // fine) and for scalar-subquery broadcast. Revenue leaves the CTE
    // already rounded, so the equality against max() compares doubles
    // produced by identical arithmetic in both engines.
    sqlBoth("q_sql_top_supplier", Seq("lineitem", "supplier"))(
      """WITH rev AS (
        |  SELECT l_suppkey AS suppkey,
        |    CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN rev ON s_suppkey = suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |""".stripMargin),

    // TPC-H Q17 shape (small-quantity revenue): lines at less than half
    // their part's average quantity. The correlated average decorrelates
    // to a per-part aggregate joined back on p_partkey (NOT a per-row
    // rescan); the threshold is (0.5 * decimal-sum-as-double) / count —
    // the identical-arithmetic discipline for comparisons, since a bare
    // avg() can differ in the last ulp and flip boundary rows.
    sqlBoth("q_sql_small_qty_revenue", Seq("lineitem", "part"))(
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 4) AS DOUBLE) / 7 AS avg_yearly,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#3'
        |  AND l_quantity < (SELECT (0.5 * CAST(sum(CAST(l2.l_quantity AS DECIMAL(38,10))) AS DOUBLE)) / count(*)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        |""".stripMargin),

    // TPC-H Q19 shape (disjunctive predicate pushdown): three OR'd
    // conjunct groups spanning both join sides. The plan probe: Catalyst
    // extracts the common per-table implications (p_brand IN (...),
    // p_size/l_quantity ranges) and pushes them to BOTH scans, leaving
    // the cross-table residual on the join — the classic OR-predicate
    // factoring test. One output row, exact decimal revenue.
    sqlBoth("q_sql_disjunctive_pushdown", Seq("lineitem", "part"))(
      """SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 30)
        |""".stripMargin),

    // TPC-H Q21 shape (suppliers who kept orders waiting): the sole late
    // supplier on a finished multi-supplier order ("late" = shipped >90
    // days after the order date; this schema has no receipt/commit
    // dates). Stated in TPC-H as EXISTS + NOT EXISTS with inequality
    // correlation; written here PRE-decorrelated as one per-order
    // aggregate (distinct-supplier count, late-supplier count, the late
    // supplier itself via null-skipping max) — the form that shuffles
    // lineitem ONCE instead of rescanning it per correlated branch,
    // which is how the shape survives 100 TB.
    sqlBoth("q_sql_waiting_orders", Seq("lineitem", "orders", "supplier"))(
      """WITH lo AS (
        |  SELECT l_orderkey,
        |    count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN l_suppkey END) AS n_late,
        |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN l_suppkey END) AS late_supp
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY l_orderkey)
        |SELECT s_name, count(*) AS numwait
        |FROM lo JOIN supplier ON s_suppkey = late_supp
        |WHERE n_supp > 1 AND n_late = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 10
        |""".stripMargin),

    // TPC-H Q2 shape (min-cost supplier): for each part in a slice, the
    // supplier offering it at the minimum unit cost. This schema has no
    // partsupp; the OBSERVED supply relation (distinct (part, supplier)
    // pairs in lineitem, unit cost = shipped value / shipped quantity)
    // carries the same plan: a correlated min subquery over the shared
    // ps CTE that Catalyst decorrelates to a per-part aggregate joined
    // back — never a per-row rescan — with the part slice pruned at its
    // scan before the join. The unit-cost double divides two rounded
    // exact decimals, so the min-equality comparison is bit-identical
    // in both engines.
    sqlBoth("q_sql_min_cost_supplier", Seq("part", "supplier", "lineitem"))(
      """WITH ps AS (
        |  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
        |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 4) AS DOUBLE)
        |      / CAST(round(sum(CAST(l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS unit_cost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT p_partkey, s_suppkey, s_name, ps.unit_cost
        |FROM part
        |JOIN ps ON ps.partkey = p_partkey
        |JOIN supplier ON s_suppkey = ps.suppkey
        |WHERE p_size = 11 AND p_type = 'SMALL'
        |  AND ps.unit_cost = (SELECT min(ps2.unit_cost) FROM ps ps2 WHERE ps2.partkey = p_partkey)
        |ORDER BY p_partkey, s_suppkey
        |""".stripMargin),

    // TPC-H Q16 shape (parts/supplier relationship): distinct-supplier
    // counts per (brand, type, size) over a sliced part set, with a
    // NOT IN supplier exclusion. The exclusion list (negative-balance
    // suppliers) decorrelates to a broadcast anti-join; the distinct
    // count shuffles (attrs, suppkey) pairs once; the top-25 is
    // TakeOrderedAndProject under the full tie-break.
    sqlBoth("q_sql_parts_supplier_relationship",
      Seq("lineitem", "part", "supplier"))(
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#5' AND p_size IN (1, 7, 14, 23, 36, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 25
        |""".stripMargin),

    // TPC-H Q6 shape (forecast revenue change): the no-join scan-dominated
    // member of the suite — a one-year date bracket, a discount band, and
    // a quantity cap, all three pushable to the lineitem scan, then one
    // exact-decimal sum of the forgone-discount revenue. At 100 TB this
    // query IS its scan: every predicate lands in PushedFilters and only
    // three columns leave the reader. The discount literals parse to the
    // identical IEEE doubles in both engines, so the band edges agree.
    sqlBoth("q_sql_forecast_revenue", Seq("lineitem"))(
      """SELECT
        |  CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |""".stripMargin),

    // TPC-H Q11 shape (important stock): parts whose supply value from
    // one nation's suppliers clears a fraction of that nation's total.
    // This schema has no partsupp; observed supply value = shipped
    // extendedprice (the q_sql_min_cost_supplier convention). The probe
    // is the GROUP BY ... HAVING-against-a-scalar-over-the-same-CTE
    // shape: ps is referenced twice (per-part rows + the global
    // threshold) and the nation filter arrives via its own scalar
    // subquery. All comparison arithmetic stays in exact decimal
    // (1000 * val > sum(val) — no double ever enters the predicate);
    // doubles appear only in the rounded output projection.
    sqlBoth("q_sql_important_stock", Seq("lineitem", "supplier", "nation"))(
      """WITH ps AS (
        |  SELECT l_partkey AS partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(38,10))) AS val
        |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |  WHERE s_nationkey = (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
        |  GROUP BY l_partkey)
        |SELECT partkey, CAST(round(val, 4) AS DOUBLE) AS supply_value
        |FROM ps
        |WHERE 1000 * val > (SELECT sum(val) FROM ps)
        |ORDER BY supply_value DESC, partkey LIMIT 100
        |""".stripMargin),

    // TPC-H Q20 shape (potential part promotion): suppliers who dominate
    // the flow of some sliced part — shipped more than half of its
    // bracketed-year volume. TPC-H states this as supplier IN (partsupp
    // with a correlated half-of-shipments threshold); here the observed
    // (part, supplier) quantity relation q feeds a per-part total CTE and
    // the dominance predicate is 2 * qty > tot in PURE decimal — the IN
    // decorrelates to a left-semi join, supplier never duplicates, and
    // the name-sliced part dim prunes before anything joins. qty stays
    // decimal inside the CTEs (never summed as double), which is what
    // makes the > comparison bit-identical across engines.
    sqlBoth("q_sql_part_promotion", Seq("lineitem", "part", "supplier"))(
      """WITH q AS (
        |  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
        |    sum(CAST(l_quantity AS DECIMAL(38,10))) AS qty
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE '%gear%'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |pt AS (SELECT partkey, sum(qty) AS tot FROM q GROUP BY partkey)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT suppkey FROM q JOIN pt ON pt.partkey = q.partkey
        |  WHERE 2 * q.qty > pt.tot)
        |ORDER BY s_suppkey
        |""".stripMargin),

    // TPC-H Q22 shape (dormant accounts): above-average-balance
    // customers with no recent orders, rolled up per nation. Scalar
    // subquery (the positive-balance mean, evaluated once) + a
    // conditional NOT EXISTS that decorrelates to a left-anti join
    // against the date-pruned orders scan — keys only cross the
    // exchange. TPC-H keys this on phone prefixes; nation carries the
    // same rollup with this schema.
    sqlBoth("q_sql_dormant_accounts", Seq("customer", "nation", "orders"))(
      """SELECT n_name, count(*) AS numcust,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,10))), 4) AS DOUBLE) AS totacctbal
        |FROM customer JOIN nation ON n_nationkey = c_nationkey
        |WHERE c_acctbal > (SELECT (CAST(sum(CAST(c2.c_acctbal AS DECIMAL(38,10))) AS DOUBLE)) / count(*)
        |                   FROM customer c2 WHERE c2.c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY n_name
        |""".stripMargin)
  )
}
