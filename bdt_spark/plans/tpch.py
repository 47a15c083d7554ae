"""TPC-H-style queries adapted to the driver fixture star schema (FIXTURES.md).

The reference demonstrates exactly this workload: its README runs TPC-H q1 at
sf10 through `bdt query` (reference README.md:119-135), delegating to the SQL
engine (main.rs:182). Here each query is the same declarative SQL handed to
Catalyst; the DuckDB oracle is the identical text (common SQL subset).

Scale notes (100 TB design point):
- lineitem/orders are the fact tables — every join keeps them on the probe
  side; dims (region/nation/customer/supplier/part) are broadcast-sized at
  any realistic SF, and Catalyst auto-broadcasts them under the threshold.
- Aggregations are partial+final (map-side combine) automatically.
- All filters are simple column predicates → pushed to the parquet scan.
"""

from __future__ import annotations

from bdt_spark.plans.registry import davg, dsum, get_query, isum, query, sql_query
from bdt_spark.sources.io import load_fixture_tables

# --- q1: pricing summary report (reference README.md:119-135) ---------------
sql_query(
    "tpch_q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {dsum('l_quantity', 'sum_qty')},
           {dsum('l_extendedprice', 'sum_base_price')},
           {dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {davg('l_quantity', 'avg_qty')},
           {davg('l_extendedprice', 'avg_price')},
           {davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("tpch", "agg"),
    doc="TPC-H q1 on fixture lineitem; the reference's flagship demo query.",
)

# --- q3: shipping priority --------------------------------------------------
sql_query(
    "tpch_q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("tpch", "join", "topk"),
)

# --- q4: order priority checking (correlated EXISTS -> semi join) -----------
sql_query(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("tpch", "subquery", "semi-join"),
)

# --- q5: local supplier volume (6-table join) -------------------------------
# Scale note: the textbook join order builds on the FULL customer table,
# which exceeds the broadcast threshold past sf~5 (1.5M rows at sf10) and
# forced a sort-merge join — the slowest query of the sf10 bench (35.3s).
# The asia_customer CTE semi-join-reduces customer through the tiny
# region->nation filter FIRST (the c_nationkey = s_nationkey equi-condition
# makes the reduction exact): the build side shrinks ~5x and column-prunes
# to two ints, so AQE restores a broadcast join at sf10 while the identical
# ANSI text remains the DuckDB oracle. Reduction shape pinned by
# tests/test_plans.py::test_q5_customer_semi_reduced_before_facts.
sql_query(
    "tpch_q5_local_supplier_volume",
    f"""
    WITH asia_nation AS (
      SELECT n_nationkey, n_name
      FROM nation JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    ),
    asia_customer AS (
      SELECT c_custkey, c_nationkey
      FROM customer JOIN asia_nation ON c_nationkey = n_nationkey
    )
    SELECT n_name, {dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM asia_customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN asia_nation ON s_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
    tags=("tpch", "join"),
)

# --- q6: forecasting revenue change -----------------------------------------
sql_query(
    "tpch_q6_forecast_revenue",
    f"""
    SELECT {dsum('l_extendedprice * l_discount', 'revenue')}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    tags=("tpch", "filter", "agg"),
)

# --- q7: volume shipping between two nations --------------------------------
sql_query(
    "tpch_q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year, {dsum('volume', 'revenue')}
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch", "join", "derived-table"),
)

# --- q8: market share (CASE ratio by year) ----------------------------------
sql_query(
    "tpch_q8_market_share",
    f"""
    SELECT o_year,
           CAST(SUM(CAST(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END
                    AS DECIMAL(30,8))) AS DOUBLE)
             / CAST(SUM(CAST(volume AS DECIMAL(30,8))) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    tags=("tpch", "join", "case"),
)

# --- q9: product type profit (no ps_supplycost in fixture; retailprice proxy)
sql_query(
    "tpch_q9_product_profit",
    f"""
    SELECT nation, o_year, {dsum('amount', 'sum_profit')}
    FROM (
      SELECT n_name AS nation,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%a%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    tags=("tpch", "join", "like"),
)

# --- q10: returned item reporting -------------------------------------------
sql_query(
    "tpch_q10_returned_items",
    f"""
    SELECT c_custkey, c_name, {dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           c_acctbal, n_name, c_mktsegment
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("tpch", "join", "topk"),
)

# --- q11: important stock (HAVING vs scalar subquery over total) ------------
sql_query(
    "tpch_q11_important_stock",
    f"""
    SELECT p_brand, {dsum('p_retailprice * p_size', 'value')}
    FROM part
    GROUP BY p_brand
    HAVING SUM(CAST(p_retailprice * p_size AS DECIMAL(30,8)))
         > (SELECT SUM(CAST(p_retailprice * p_size AS DECIMAL(30,8))) * 0.03
            FROM part)
    ORDER BY value DESC
    """,
    tags=("tpch", "having", "scalar-subquery"),
)

# --- q12: priority classification (CASE aggregation) ------------------------
sql_query(
    "tpch_q12_priority_class",
    f"""
    SELECT l_linestatus,
           {isum("CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END",
                 'high_line_count')},
           {isum("CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END",
                 'low_line_count')}
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    tags=("tpch", "case", "agg"),
)

# --- q13: customer order-count distribution (left join + double group) ------
sql_query(
    "tpch_q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                       AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("tpch", "left-join", "agg"),
)

# --- q14: promotion effect ---------------------------------------------------
sql_query(
    "tpch_q14_promo_revenue",
    """
    SELECT 100.00 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END AS DECIMAL(30,8))) AS DOUBLE)
                  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                  AS DECIMAL(30,8))) AS DOUBLE) AS promo_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
    tags=("tpch", "case", "join"),
)

# --- q15: top supplier (scalar subquery over an aggregate CTE) --------------
_Q15_REVENUE_CTE = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )"""

_Q15_ORACLE = (
    _Q15_REVENUE_CTE
    + """
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
    ORDER BY s_suppkey
    """
)

# r16 Spark arm (guide §2.4): the oracle form references `revenue`
# twice — Spark inlines the CTE, so the scalar MAX subquery re-scans
# and re-aggregates lineitem from scratch (executed sf10 plan: 2
# lineitem scans). `MAX() OVER ()` derives the same exact maximum
# (decimal sums, order-free) from the ONE revenue relation. The empty
# window frame moves `revenue` to a single partition, which is safe at
# any corpus scale: revenue has at most one row per supplier — a
# dim-cardinality relation, never fact-sized.
_Q15_SPARK = (
    _Q15_REVENUE_CTE
    + """
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier
    JOIN (SELECT supplier_no, total_rev,
                 MAX(total_rev) OVER () AS max_rev
          FROM revenue) r ON s_suppkey = supplier_no
    WHERE total_rev = max_rev
    ORDER BY s_suppkey
    """
)

sql_query(
    "tpch_q15_top_supplier",
    _Q15_SPARK,
    oracle=_Q15_ORACLE,
    tags=("tpch", "cte", "scalar-subquery"),
    doc="TPC-H q15: top supplier by quarterly revenue. Spark arm "
    "replaces the oracle's scalar MAX(revenue) subquery — which "
    "re-scans lineitem under CTE inlining — with MAX() OVER () on the "
    "single revenue relation: lineitem scans 2 -> 1 (r16, guide §2.4); "
    "identical rows (decimal max over the same aggregate).",
)

# --- q16: brand/type/size counts with NOT IN subquery -----------------------
sql_query(
    "tpch_q16_parts_supplier",
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 7, 14, 23, 36, 45, 19, 3)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_name LIKE '%3%')
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("tpch", "anti-join", "count-distinct"),
)

# --- q17: small-quantity-order revenue (correlated scalar subquery) ---------
_Q17_ORACLE = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / 7.0
           AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (
        SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey)
    """

# r16 Spark arm (guide §2.3/§2.4): Spark decorrelates the scalar AVG
# into a SECOND full lineitem scan aggregated over EVERY partkey, then
# joins — it cannot see that only Brand#3 partkeys are ever probed.
# The window form computes the identical per-partkey average on the
# ONE brand-filtered join result: lineitem scans 2 -> 1 and the agg
# shuffle shrinks from all parts to the brand's share (~1/25 at the
# fixture's brand cardinality). Equivalence: the join only filters
# WHICH partkeys survive, never drops rows within a partkey, so the
# window partition holds exactly the subquery's row set per partkey
# (duplicate part rows would scale sum and count equally — AVG is
# duplication-invariant, and outer-row multiplicity matches the
# oracle's join); l_quantity is integer-valued, so the double AVG is
# accumulation-order-exact in both engines.
_Q17_SPARK = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / 7.0
           AS avg_yearly
    FROM (
      SELECT l_extendedprice, l_quantity,
             AVG(l_quantity) OVER (PARTITION BY l_partkey) AS part_avg
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#3'
    ) q
    WHERE l_quantity < 0.5 * part_avg
    """

sql_query(
    "tpch_q17_small_quantity",
    _Q17_SPARK,
    oracle=_Q17_ORACLE,
    tags=("tpch", "correlated-subquery"),
    doc="TPC-H q17: small-quantity-order revenue. Spark arm replaces "
    "the decorrelated all-parts lineitem re-aggregation with a window "
    "AVG over the brand-filtered join (r16, guide §2.3/§2.4): lineitem "
    "scans 2 -> 1, agg shuffle restricted to the probed brand's rows; "
    "identical rows (see _Q17_SPARK comment for the proof sketch).",
)

# --- q18: large volume customers (HAVING + IN subquery) ---------------------
_Q18_SQL = f"""
    SELECT {{dim_hint}} c_name, c_custkey, o_orderkey, o_orderdate,
           o_totalprice,
           {dsum('l_quantity', 'sum_qty')}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT {{semi_hint}} l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """

# lineitem scan bytes above which the IN-subquery semi-join is hinted
# to sort-merge: the HAVING set is a FIXED ~20% of orders (measured
# identically at sf0.1/sf10/sf100), so its true size is linear in the
# fact table while Catalyst's agg+HAVING estimate stays broadcast-small
# — at sf100 (6.4 GB lineitem, 29.3M keys) the statically-planned
# broadcast died building the hash relation ("Not enough memory to
# build and broadcast"). sf10 (0.64 GB, 2.9M keys) measured fine
# broadcast-side, so 1 GB sits between the regimes; at production fact
# sizes the gate always picks the shuffle semi-join.
_BIG_FACT_MIN_BYTES = 1 << 30

# r16 Spark arm (guide §2.3/§2.4): the oracle text scans lineitem TWICE
# — once for the HAVING subquery, once joined raw into the outer
# aggregation — but the outer GROUP BY's sum(l_quantity) is a function
# of o_orderkey alone, i.e. EXACTLY the per-orderkey sum the subquery
# already computes. Aggregating lineitem once and joining the (orderkey,
# qty) relation removes a full lineitem scan AND the raw-lineitem
# shuffle into the join (sf10 profile: shuffle writes 489+439 MB -> 439;
# warm sf10 10.1 -> 6.3 s, 1.61x; rows identical at sf0.1/sf10).
# Equivalence: decimal sums are accumulation-order-free, so
# SUM(per-orderkey decimal sums) == dsum over the group's raw rows; the
# outer GROUP BY + SUM(qty) is kept so even pathological duplicate
# orders/customer rows multiply the sum exactly as the oracle form
# does. The HAVING keeps the oracle's plain-double comparison
# (l_quantity is integer-valued in TPC-H, sums exact in FP).
_Q18_SPARK = f"""
    WITH q AS (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(30,8))) AS qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 150
    )
    SELECT {{hints}}c_name, c_custkey, o_orderkey, o_orderdate,
           o_totalprice,
           CAST(SUM(qty) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN q ON o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """


@query(
    "tpch_q18_large_volume",
    oracle=_Q18_SQL.format(semi_hint="", dim_hint=""),
    tags=("tpch", "in-subquery", "having"),
    doc="TPC-H q18: large-volume customers via HAVING + IN subquery. "
    "Spark arm (r16, guide §2.3/§2.4): lineitem is aggregated ONCE to "
    "(l_orderkey, qty) and that relation joins orders/customer — the "
    "oracle form's second raw-lineitem scan + join shuffle is removed "
    "(sf10 warm 10.1 -> 6.3 s, 1.61x; rows identical — decimal sums "
    "re-aggregate exactly, see _Q18_SPARK). The q relation is a fixed "
    "~20% of ALL orders — linear in the fact table — but its "
    "agg+HAVING static estimate reads broadcast-small at every scale "
    "(the broadcast-over-Generate estimate family, without the "
    "explode), so the join strategy is picked from the exact lineitem "
    "scan bytes: planner-chosen broadcast below _BIG_FACT_MIN_BYTES, "
    "/*+ MERGE */ shuffle joins above (sf100 measured on the pre-r16 "
    "semi form: the static broadcast dies at 29.3M keys; same estimate "
    "family, same fix). The oracle keeps the declarative IN-subquery "
    "text; DuckDB plans its own semi-join.",
)
def tpch_q18_large_volume(spark, sf_dir):
    from bdt_spark.sources.io import ensure_heavy_arm_geometry, plan_scan_bytes

    load_fixture_tables(spark, sf_dir)
    b = plan_scan_bytes(spark.table("lineitem"))
    big = b >= _BIG_FACT_MIN_BYTES
    if big:
        # heavy arm: shuffle partitions derived from the same scan bytes
        # that selected the arm (see ensure_heavy_arm_geometry).
        ensure_heavy_arm_geometry(spark, b)
    return spark.sql(
        _Q18_SPARK.format(
            hints="/*+ MERGE(q), MERGE(customer) */ " if big else "",
        )
    )

# --- q19: discounted revenue (OR-of-ANDs pushdown stress) -------------------
sql_query(
    "tpch_q19_disjunctive_filter",
    f"""
    SELECT {dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 30)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 40)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 50)
    """,
    tags=("tpch", "filter"),
)

# --- q20: nested semi-joins --------------------------------------------------
sql_query(
    "tpch_q20_potential_promotion",
    """
    SELECT s_name, s_suppkey
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name LIKE 'NATION_1%'
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE '%e%'
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00')
    ORDER BY s_suppkey
    """,
    tags=("tpch", "semi-join"),
)

# --- q21: waiting suppliers (EXISTS + NOT EXISTS combo) ---------------------
_Q21_ORACLE = """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """

# Decorrelated Spark plan: an l1 row qualifies iff (a) its order has a
# SECOND supplier and (b) no OTHER supplier's line in the order ships
# later, i.e. l1.l_shipdate >= max(l_shipdate over the order's other
# suppliers). That per-row "other-supplier max" is a function of the
# per-(order, supplier) ship maxima: top1 of the order unless this
# supplier is the UNIQUE top1 holder, else top2 (an exact tie among
# suppliers at top1 means everyone still sees top1). One GROUP BY
# (orderkey, suppkey) collapses lineitem to supplier-level rows carrying
# a ship-date array (bounded by lines-per-supplier-per-order, a handful),
# one orderkey window derives n_supp/top1/top2/tie, and the count of
# qualifying l1 rows is size(filter(ships >= other_max)) — lineitem is
# scanned and shuffled ONCE, versus the EXISTS + NOT EXISTS form's three
# corpus self-join passes (sf10 10.4 s -> see bench; sf100 229.5 s
# measured for the self-join form). The waiting pairs are then a tiny
# relation joined to F-orders and the supplier dim.
_Q21_SPARK = """
    WITH per AS (
      SELECT l_orderkey, l_suppkey,
             MAX(l_shipdate) AS ms,
             collect_list(l_shipdate) AS ships
      FROM lineitem
      GROUP BY l_orderkey, l_suppkey
    ),
    stats AS (
      SELECT l_orderkey, l_suppkey, ms, ships,
             COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
             MAX(ms) OVER (PARTITION BY l_orderkey) AS top1,
             NTH_VALUE(ms, 2) OVER (
               PARTITION BY l_orderkey ORDER BY ms DESC, l_suppkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             ) AS top2,
             SUM(CASE WHEN ms = MAX(ms) OVER (PARTITION BY l_orderkey)
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY l_orderkey) AS n_top1
      FROM per
    ),
    waiting AS (
      SELECT l_orderkey, l_suppkey,
             size(filter(ships, x -> x >= other_max)) AS n_rows
      FROM (
        SELECT l_orderkey, l_suppkey, ships, ms,
               CASE WHEN ms < top1 OR n_top1 > 1 THEN top1
                    ELSE top2 END AS other_max
        FROM stats WHERE n_supp >= 2
      ) q
      WHERE ms >= other_max
    )
    SELECT /*+ MERGE(orders) */
           s_name, CAST(SUM(n_rows) AS BIGINT) AS numwait
    FROM waiting
    JOIN orders ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE o_orderstatus = 'F'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """
# MERGE(orders) is load-bearing for the only sizes this arm can be
# SELECTED at (lineitem >= _BIG_FACT_MIN_BYTES): the o_orderstatus
# filter's selectivity estimate statically shrinks a replica-scale orders
# under the broadcast threshold — at K=300 (1.9 GB lineitem / 45M orders)
# the planner broadcast it and the build died with "Not enough memory to
# build and broadcast" on the 8g heap (r13 midpoint probe; sf100 only
# survived because its larger estimates happened to pick SMJ). Forcing
# the shuffle join is the safe static default for a FILTER-poisoned
# estimate: AQE converts a shuffle join to broadcast from TRUE runtime
# sizes when a side really is small, the correct adaptive direction.
# supplier is deliberately NOT hinted: its estimate is a plain-scan byte
# count (honest), broadcasting it is both viable and fast at every
# measured size (r13 sf100 A/B: forcing MERGE(supplier) too cost ~2x —
# 290 s vs ~140 s — by shuffling the 37M-row waiting relation a second
# time), and at sizes where supplier outgrows the threshold the planner
# falls back to SMJ from those same honest scan bytes.


@query(
    "tpch_q21_waiting_supplier",
    oracle=_Q21_ORACLE,
    tags=("tpch", "exists", "not-exists", "decorrelated"),
    doc="TPC-H q21 (waiting suppliers). Oracle keeps the declarative "
    "EXISTS + NOT EXISTS form. The Spark plan is size-gated on exact "
    "lineitem scan bytes (same 1 GB threshold as q18): below it the "
    "same correlated text — Spark's own semi/anti decorrelation wins "
    "at probe scale (interleaved sf10 A/B: 9.8 s vs 14.3 s for the "
    "rewrite; three self-join shuffles of a 60M-row fact are cheaper "
    "than the rewrite's array+window machinery) — and above it the "
    "single-pass rewrite at _Q21_SPARK, which collapses the three "
    "corpus-wide self-join shuffles into one (orderkey, suppkey) "
    "aggregation plus one orderkey window (sf100 measured: 137.6 s vs "
    "229.5 s correlated, 1.7x). Tie semantics (two suppliers sharing "
    "an order's max ship date) are exact; both arms verify against "
    "the DuckDB oracle (sf0.01 gate; sf0.1 full-result cross-check).",
)
def tpch_q21_waiting_supplier(spark, sf_dir):
    from bdt_spark.sources.io import ensure_heavy_arm_geometry, plan_scan_bytes

    load_fixture_tables(spark, sf_dir)
    b = plan_scan_bytes(spark.table("lineitem"))
    big = b >= _BIG_FACT_MIN_BYTES
    if big:
        # heavy arm: raise shuffle partitions to the measured-safe
        # geometry (sf100: 512 rides through where 256 can die —
        # SCALE.md r13, encoded here per VERDICT r13 #1).
        ensure_heavy_arm_geometry(spark, b)
    return spark.sql(_Q21_SPARK if big else _Q21_ORACLE)

# --- q22: global sales opportunity (anti join + scalar subquery) ------------
sql_query(
    "tpch_q22_global_sales",
    f"""
    SELECT c_mktsegment, COUNT(*) AS numcust,
           {dsum('c_acctbal', 'totacctbal')}
    FROM customer
    WHERE c_acctbal > (
        SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("tpch", "anti-join", "scalar-subquery"),
)

# --- q2-style: min-price part per brand (correlated min) --------------------
sql_query(
    "tpch_q2_min_cost_part",
    """
    SELECT p_brand, p_partkey, p_name, p_retailprice
    FROM part p
    WHERE p_retailprice = (
      SELECT MIN(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand)
    ORDER BY p_brand, p_partkey
    """,
    tags=("tpch", "correlated-subquery"),
)


# --- q1 DataFrame-API variant: both Spark surfaces for the flagship ---------
@query(
    "tpch_q1_dataframe_api",
    oracle=get_query("tpch_q1_pricing_summary").oracle,
    tags=("tpch", "agg", "dataframe-api"),
    doc="TPC-H q1 expressed through the DataFrame API (same logical plan "
    "Catalyst sees from the SQL form — proves both declaration surfaces "
    "hit the same decimal-exact semantics; shares q1's oracle).",
)
def tpch_q1_dataframe_api(spark, sf_dir):
    from pyspark.sql import functions as F

    t = load_fixture_tables(spark, sf_dir)

    def dec(c):
        return c.cast("decimal(30,8)")

    li = t["lineitem"].filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(dec(F.col("l_extendedprice"))).cast("double")
            .alias("sum_base_price"),
            F.sum(dec(disc_price)).cast("double").alias("sum_disc_price"),
            F.sum(dec(charge)).cast("double").alias("sum_charge"),
            (F.sum(dec(F.col("l_quantity"))).cast("double")
             / F.count("l_quantity")).alias("avg_qty"),
            (F.sum(dec(F.col("l_extendedprice"))).cast("double")
             / F.count("l_extendedprice")).alias("avg_price"),
            (F.sum(dec(F.col("l_discount"))).cast("double")
             / F.count("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
