"""Tier B relational operator sweep (SURVEY.md §2 B2-B9).

Everything here is capability the reference exposes by delegating arbitrary
SQL to its engine (`ctx.sql`, reference src/bin/main.rs:182). On Spark it is
Catalyst-native; these queries pin conformance against the DuckDB oracle.

A mix of SQL-text queries (common Spark/DuckDB subset → oracle is the same
text) and DataFrame-API queries (oracle is separate DuckDB SQL) so both API
surfaces are exercised.

Scale notes: window queries partition by high-cardinality keys (custkey,
user_id) — state per partition stays bounded; ranking windows use total
orders (unique tie-break) so results are deterministic on any cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bdt_spark.plans.registry import davg, dsum, isum, query, sql_query
from bdt_spark.sources.io import load_fixture_tables

# ---------------------------------------------------------------------------
# B3 — join types
# ---------------------------------------------------------------------------

sql_query(
    "join_inner_multi_key",
    f"""
    SELECT n_name, r_name, COUNT(*) AS n_customers,
           {dsum('c_acctbal', 'total_acctbal')}
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    ORDER BY n_name
    """,
    tags=("join",),
)

sql_query(
    "join_left_outer",
    """
    SELECT s_suppkey, s_name, COUNT(l_orderkey) AS n_lineitems
    FROM supplier
    LEFT JOIN lineitem ON s_suppkey = l_suppkey AND l_quantity > 49
    GROUP BY s_suppkey, s_name
    ORDER BY s_suppkey
    """,
    tags=("join", "left"),
)

sql_query(
    "join_right_outer",
    """
    SELECT n_nationkey, n_name, COUNT(c_custkey) AS n_customers
    FROM customer
    RIGHT JOIN nation ON c_nationkey = n_nationkey AND c_acctbal > 9000
    GROUP BY n_nationkey, n_name
    ORDER BY n_nationkey
    """,
    tags=("join", "right"),
)

sql_query(
    "join_full_outer",
    """
    SELECT COALESCE(a.k, b.k) AS k, a.n_orders, b.n_lineitems
    FROM (SELECT o_custkey AS k, COUNT(*) AS n_orders
          FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey) a
    FULL JOIN (SELECT l_suppkey AS k, COUNT(*) AS n_lineitems
               FROM lineitem WHERE l_quantity > 45 GROUP BY l_suppkey) b
      ON a.k = b.k
    ORDER BY k
    """,
    tags=("join", "full"),
)

sql_query(
    "join_semi_in",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    ORDER BY c_custkey
    """,
    tags=("join", "semi"),
)

sql_query(
    "join_anti_not_exists",
    """
    SELECT p_partkey, p_name
    FROM part
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_partkey = p_partkey AND l_quantity > 49 AND l_discount >= 0.08)
    ORDER BY p_partkey
    """,
    tags=("join", "anti"),
)

sql_query(
    "join_cross",
    """
    SELECT r1.r_name AS region_a, r2.r_name AS region_b
    FROM region r1
    CROSS JOIN region r2
    WHERE r1.r_regionkey < r2.r_regionkey
    ORDER BY region_a, region_b
    """,
    tags=("join", "cross"),
)

sql_query(
    "join_non_equi_range",
    """
    SELECT o_orderkey, n_bigger_same_day
    FROM (
      SELECT o_orderkey,
             CAST(RANK() OVER (PARTITION BY o_orderdate
                               ORDER BY o_totalprice DESC) - 1 AS BIGINT)
               AS n_bigger_same_day
      FROM orders) t
    WHERE n_bigger_same_day > 0
    ORDER BY o_orderkey
    LIMIT 50
    """,
    tags=("join", "non-equi", "window"),
    doc="Non-equi range-join semantics ('count of same-day orders with a "
    "strictly greater totalprice'), computed JOINLESSLY via the rank "
    "identity: RANK() OVER (PARTITION BY o_orderdate ORDER BY o_totalprice "
    "DESC) - 1 equals the count of strictly-greater rows in the partition "
    "(RANK skips ties, so equal prices are excluded exactly as the > "
    "predicate would). The naive equi+theta join form (hash join on date, "
    "residual price predicate) is quadratic per date group — ~94e9 residual "
    "evaluations at sf10 — while this form is one window exchange on "
    "o_orderdate + an O(n log n) in-partition sort at any scale, and "
    "UNBOUNDED: no probe-side key cut is needed to make the plan survive "
    "100x (earlier rounds carried an o_orderkey < 500 bound; result "
    "verified identical). Rows with zero bigger-same-day orders are "
    "filtered (the inner join emitted no row for them) to preserve the "
    "original join-form semantics.",
)


@query(
    "join_broadcast_hint",
    oracle="""
    SELECT n_name, COUNT(*) AS n_suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
    tags=("join", "broadcast", "dataframe-api"),
    doc="Explicit broadcast() hint on the dim side — the 100 TB join pattern.",
)
def join_broadcast_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_fixture_tables(spark, sf_dir)
    return (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_suppliers"))
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# B4 — aggregation shapes
# ---------------------------------------------------------------------------

@query(
    "agg_distinct_counts",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS distinct_suppliers,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_distinct_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "distinct"),
    doc=(
        "Multi-distinct aggregation, scale-safe form. Spark plans N distinct "
        "aggregates in one SELECT via Expand with an N x row multiplier "
        "(proven sf1 OOM on an 8 GiB heap, SCALE.md). Instead: one "
        "column-pruned scan + pre-shuffle-dedup single-distinct sub-agg per "
        "measure, joined on the (tiny) group key. Plan shape pinned by "
        "tests/test_plans.py::test_multi_distinct_agg_has_no_expand."
    ),
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_fixture_tables(spark, sf_dir)["lineitem"]

    def one_distinct(key_col, agg_expr, alias: str) -> DataFrame:
        # distinct() before groupBy gives partial (map-side) dedup, a single
        # hash shuffle on (group, key), then the final per-group aggregate —
        # never an Expand. Each branch scans only its own 2 columns.
        return (
            li.select("l_returnflag", key_col)
            .distinct()
            .groupBy("l_returnflag")
            .agg(agg_expr.alias(alias))
        )

    supp = one_distinct(
        F.col("l_suppkey"), F.count("l_suppkey"), "distinct_suppliers"
    )
    part = one_distinct(F.col("l_partkey"), F.count("l_partkey"), "distinct_parts")
    qty = one_distinct(
        F.col("l_quantity").cast("decimal(18,2)").alias("q"),
        F.sum("q").cast("double"),
        "sum_distinct_qty",
    )
    return supp.join(part, "l_returnflag").join(qty, "l_returnflag").orderBy(
        "l_returnflag"
    )

sql_query(
    "agg_minmax_types",
    """
    SELECT o_orderstatus,
           MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
           MIN(o_orderdate) AS first_order, MAX(o_orderdate) AS last_order,
           MIN(o_orderpriority) AS min_priority, MAX(o_orderpriority) AS max_priority
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("agg",),
    doc="MIN/MAX over double, timestamp, and string in one pass.",
)

sql_query(
    "agg_variance_formulas",
    """
    SELECT l_linestatus,
           COUNT(*) AS n,
           (CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,8))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE)
              * CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*))
           / (COUNT(*) - 1) AS var_samp_qty,
           SQRT((CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,8))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE)
              * CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*))
           / (COUNT(*) - 1)) AS stddev_samp_qty
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    tags=("agg", "stats"),
    doc="Deterministic var/stddev from decimal-exact sums (engine-agnostic).",
)

sql_query(
    "agg_corr_covar_formulas",
    """
    SELECT
      (COUNT(*) * CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(32,6))) AS DOUBLE)
       - CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE)
         * CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE))
      / (COUNT(*) * COUNT(*)) AS covar_pop_qty_price
    FROM lineitem
    """,
    tags=("agg", "stats"),
)

sql_query(
    "agg_native_stats_rounded",
    """
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_extendedprice), 3) AS sd_price,
           ROUND(VAR_POP(l_discount), 8) AS var_disc,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS covar_qp
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "stats"),
    doc="Native stats aggregates, rounded to absorb accumulation-order noise.",
)

sql_query(
    "agg_bit_bool",
    """
    SELECT o_orderstatus,
           CAST(BIT_AND(o_custkey) AS BIGINT) AS band,
           CAST(BIT_OR(o_custkey) AS BIGINT) AS bor,
           CAST(BIT_XOR(o_custkey) AS BIGINT) AS bxor,
           BOOL_AND(o_totalprice > 1000) AS all_over_1k,
           BOOL_OR(o_totalprice > 400000) AS any_over_400k
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("agg", "bit", "bool"),
)

sql_query(
    "agg_rollup",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
           {isum('1', 'n_rows')}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("agg", "rollup"),
)

sql_query(
    "agg_cube",
    f"""
    SELECT o_orderstatus, o_orderpriority, {dsum('o_totalprice', 'total')}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    tags=("agg", "cube"),
)

sql_query(
    "agg_grouping_sets",
    f"""
    SELECT c_mktsegment, n_name, COUNT(*) AS n
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
    ORDER BY c_mktsegment NULLS FIRST, n_name NULLS FIRST
    """,
    tags=("agg", "grouping-sets"),
)

sql_query(
    "agg_having",
    f"""
    SELECT l_suppkey, COUNT(*) AS n_items, {dsum('l_quantity', 'total_qty')}
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 500 AND SUM(l_quantity) > 10000
    ORDER BY l_suppkey
    """,
    tags=("agg", "having"),
)

sql_query(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           MEDIAN(l_quantity) AS median_qty,
           PERCENTILE(l_extendedprice, 0.25) AS p25_price,
           PERCENTILE(l_extendedprice, 0.75) AS p75_price,
           PERCENTILE(l_extendedprice, 0.99) AS p99_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    oracle="""
    SELECT l_returnflag,
           MEDIAN(l_quantity) AS median_qty,
           QUANTILE_CONT(l_extendedprice, 0.25) AS p25_price,
           QUANTILE_CONT(l_extendedprice, 0.75) AS p75_price,
           QUANTILE_CONT(l_extendedprice, 0.99) AS p99_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "percentile"),
)

sql_query(
    "agg_string_concat_sorted",
    """
    SELECT n_regionkey,
           ARRAY_JOIN(SORT_ARRAY(COLLECT_LIST(n_name)), ',') AS nations
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
    oracle="""
    SELECT n_regionkey,
           ARRAY_TO_STRING(LIST_SORT(LIST(n_name)), ',') AS nations
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
    tags=("agg", "collect"),
    doc="array_agg/collect_list made deterministic by sorting inside the group.",
)

sql_query(
    "agg_approx_count_distinct",
    """
    SELECT l_returnflag, p.parts_within_5pct, o.orders_within_5pct
    FROM (
      SELECT l_returnflag,
             ABS(CAST(APPROX_COUNT_DISTINCT(l_partkey, 0.01) AS DOUBLE)
                 / COUNT(l_partkey) - 1.0) < 0.05 AS parts_within_5pct
      FROM (SELECT DISTINCT l_returnflag, l_partkey FROM lineitem)
      GROUP BY l_returnflag
    ) p
    JOIN (
      SELECT l_returnflag,
             ABS(CAST(APPROX_COUNT_DISTINCT(l_orderkey, 0.01) AS DOUBLE)
                 / COUNT(l_orderkey) - 1.0) < 0.05 AS orders_within_5pct
      FROM (SELECT DISTINCT l_returnflag, l_orderkey FROM lineitem)
      GROUP BY l_returnflag
    ) o USING (l_returnflag)
    ORDER BY l_returnflag
    """,
    oracle="""
    SELECT l_returnflag,
           ABS(CAST(APPROX_COUNT_DISTINCT(l_partkey) AS DOUBLE)
               / COUNT(DISTINCT l_partkey) - 1.0) < 0.05 AS parts_within_5pct,
           ABS(CAST(APPROX_COUNT_DISTINCT(l_orderkey) AS DOUBLE)
               / COUNT(DISTINCT l_orderkey) - 1.0) < 0.05 AS orders_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "approx"),
    doc="Grouped approx-distinct, property-oracled: raw HLL sketch values "
    "differ across engines, so per-group the estimate is asserted within 5% "
    "of the exact count. Spark's rsd is pinned to 0.01 (its default 0.05 "
    "sketch observedly misses a group by 8.6% at sf0.01) so the boolean is "
    "deterministic with margin. Exercises the partial-aggregation HLL merge "
    "path that the global agg_approx_distinct_error_bound query does not. "
    "Spark side is the Expand-free form: mixing COUNT(DISTINCT) with other "
    "aggregates plans a 3x-row Expand (the agg_distinct_counts scale "
    "killer), but HLL is duplicate-insensitive, so APPROX_COUNT_DISTINCT "
    "over a pre-deduplicated subquery yields the identical estimate and "
    "COUNT over it IS the exact distinct count — one sub-agg per measure "
    "column, joined on the group key. Plan pinned Expand-free by "
    "tests/test_plans.py.",
)

sql_query(
    "agg_approx_distinct_error_bound",
    """
    SELECT p.exact_parts, p.within_5pct, s.exact_supps, s.supp_within_5pct
    FROM (
      SELECT COUNT(l_partkey) AS exact_parts,
             ABS(CAST(APPROX_COUNT_DISTINCT(l_partkey, 0.01) AS DOUBLE)
                 / COUNT(l_partkey) - 1.0) < 0.05 AS within_5pct
      FROM (SELECT DISTINCT l_partkey FROM lineitem)
    ) p
    CROSS JOIN (
      SELECT COUNT(l_suppkey) AS exact_supps,
             ABS(CAST(APPROX_COUNT_DISTINCT(l_suppkey, 0.01) AS DOUBLE)
                 / COUNT(l_suppkey) - 1.0) < 0.05 AS supp_within_5pct
      FROM (SELECT DISTINCT l_suppkey FROM lineitem)
    ) s
    """,
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
           ABS(CAST(APPROX_COUNT_DISTINCT(l_partkey) AS DOUBLE)
               / COUNT(DISTINCT l_partkey) - 1.0) < 0.05 AS within_5pct,
           COUNT(DISTINCT l_suppkey) AS exact_supps,
           ABS(CAST(APPROX_COUNT_DISTINCT(l_suppkey) AS DOUBLE)
               / COUNT(DISTINCT l_suppkey) - 1.0) < 0.05 AS supp_within_5pct
    FROM lineitem
    """,
    tags=("agg", "approx"),
    doc="Approx-distinct oracled by PROPERTY: each engine's HLL estimate "
    "must sit within 5% of the exact count (HLL standard error ~2%, so "
    "the boolean is deterministic even though raw sketch values differ). "
    "Complements the rows-only raw-value query above. Spark side uses the "
    "Expand-free pre-dedup form (see agg_approx_count_distinct); the two "
    "1-row sub-aggregates meet in a broadcast cross join. Spark's rsd is "
    "pinned to 0.01 here too: the default 0.05 sketch of the sf10 partkey "
    "column (2M distinct) measured 6.95% off (0.27% at rsd 0.01) — at "
    "standard error 5% the within-5% boolean flips with the data, which "
    "is exactly what a property oracle must not do.",
)

_HLL_MERGE_SPARK_BARE = """
    WITH shard_sketches AS (
      SELECT event_type, HLL_SKETCH_AGG(user_id, 16) AS sk,
             COUNT(DISTINCT user_id) AS exact_users
      FROM events GROUP BY event_type
    ),
    merged AS (
      SELECT HLL_SKETCH_ESTIMATE(HLL_UNION_AGG(sk, false)) AS est_merged
      FROM shard_sketches
    ),
    exact_total AS (
      SELECT COUNT(DISTINCT user_id) AS exact_total FROM events
    )
    SELECT s.event_type,
           CAST(s.exact_users AS BIGINT) AS exact_users,
           ABS(CAST(HLL_SKETCH_ESTIMATE(s.sk) AS DOUBLE) / s.exact_users
               - 1.0) < 0.02 AS shard_within_2pct,
           ABS(CAST(m.est_merged AS DOUBLE) / e.exact_total
               - 1.0) < 0.02 AS merged_within_2pct,
           CAST(m.est_merged >= HLL_SKETCH_ESTIMATE(s.sk) * 0.99 AS BOOLEAN)
             AS merge_monotone
    FROM shard_sketches s CROSS JOIN merged m CROSS JOIN exact_total e
    ORDER BY event_type
    """

# r16 scale arm (guide §2.3/§2.4): the bare form executes THREE full
# events scans (shard_sketches inlines into the merged fold AND the
# final projection; exact_total is a third corpus COUNT DISTINCT).
# Every downstream value is a function of the DISTINCT (event_type,
# user_id) rollup: an HLL sketch's register state after inserting a
# multiset equals the state after inserting its set (insertion is
# idempotent per hashed value — Datasketches semantics, so estimates
# are bit-identical), per-type COUNT(DISTINCT user_id) is COUNT(non-
# null) over the rollup, and the corpus-wide exact_total is COUNT
# (DISTINCT) over it. Above the gate the rollup is persisted once and
# all three consumers read the cache (events scans 3 -> 1); below it
# three aggregations of a small scan are cheaper than a persist+count
# round trip (the anomaly-zscore measurement). Validated on a 1.17 GB
# / 350M-row events shard: rows identical, gated 34.4 s vs bare
# 110.6 s collect (3.2x)
# (bench_results/r16_probes/anomaly_events_shard.json).
_HLL_PAIRS_SPARK = """
      SELECT event_type, user_id FROM events
      GROUP BY event_type, user_id
"""


def _hll_merge_tail_spark(src: str) -> str:
    return f"""
    WITH shard_sketches AS (
      SELECT event_type, HLL_SKETCH_AGG(user_id, 16) AS sk,
             CAST(COUNT(user_id) AS BIGINT) AS exact_users
      FROM {src} GROUP BY event_type
    ),
    merged AS (
      SELECT HLL_SKETCH_ESTIMATE(HLL_UNION_AGG(sk, false)) AS est_merged
      FROM shard_sketches
    ),
    exact_total AS (
      SELECT COUNT(DISTINCT user_id) AS exact_total FROM {src}
    )
    SELECT s.event_type,
           CAST(s.exact_users AS BIGINT) AS exact_users,
           ABS(CAST(HLL_SKETCH_ESTIMATE(s.sk) AS DOUBLE) / s.exact_users
               - 1.0) < 0.02 AS shard_within_2pct,
           ABS(CAST(m.est_merged AS DOUBLE) / e.exact_total
               - 1.0) < 0.02 AS merged_within_2pct,
           CAST(m.est_merged >= HLL_SKETCH_ESTIMATE(s.sk) * 0.99 AS BOOLEAN)
             AS merge_monotone
    FROM shard_sketches s CROSS JOIN merged m CROSS JOIN exact_total e
    ORDER BY event_type
    """


_HLL_MATERIALIZE_MIN_BYTES = 1 << 30


def _agg_hll_sketch_merge_fn(spark, sf_dir):
    from bdt_spark.operators.cacheutil import transfer_ownership
    from bdt_spark.sources.io import plan_scan_bytes
    from bdt_spark.sources.io import load_fixture_tables as _load

    _load(spark, sf_dir)
    if plan_scan_bytes(spark.table("events")) < _HLL_MATERIALIZE_MIN_BYTES:
        return spark.sql(_HLL_MERGE_SPARK_BARE)
    pairs = spark.sql(_HLL_PAIRS_SPARK).persist()
    pairs.count()  # eager: 3 consumers in ONE action recompute a lazy cache
    pairs.createOrReplaceTempView("__hll_type_user_pairs")
    out = spark.sql(_hll_merge_tail_spark("__hll_type_user_pairs"))
    return transfer_ownership(out, pairs)


query(
    "agg_hll_sketch_merge",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS shard_within_2pct,
           TRUE AS merged_within_2pct,
           TRUE AS merge_monotone
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "approx", "sketch", "mergeable"),
    doc="MERGEABLE distinct-count sketches — the pattern that makes "
    "distinct counting incremental at 100 TB: each shard (here: "
    "event_type; in production: ingest batch / partition / day) builds "
    "its own Datasketches HLL via hll_sketch_agg, the tiny binary "
    "sketches (2^16 registers here) are all that crosses shard "
    "boundaries, and hll_union_agg re-aggregates them losslessly — so a "
    "new batch updates a global distinct count WITHOUT rescanning "
    "history, which APPROX_COUNT_DISTINCT alone cannot do (its sketch "
    "is consumed inside one query). Property-oracled like the other "
    "sketch queries (raw estimates are engine-specific): per-shard and "
    "merged estimates must sit within 2% of exact (lgK=16 -> rsd "
    "~0.4%, so 2% is 5 sigma), and the union estimate dominates every "
    "shard estimate up to 1% slack (near-monotonicity: when shards "
    "fully overlap — every user emits every event_type, true at sf10 — "
    "union(sketches) re-encodes the SAME set through the union gadget, "
    "whose estimate can land ~0.1% BELOW a shard's own estimate; "
    "measured sf10: merged 150704 vs shard 150844 on exact 150000, a "
    "strict >= flips while both sit within 0.6% of truth. 1% slack "
    "still catches a merge that drops a disjoint shard or returns "
    "garbage). The exact_users column is a real "
    "cross-engine value check. Cross joins are against 1-row "
    "aggregates (broadcast). r16 (guide §2.3/§2.4): above "
    "_HLL_MATERIALIZE_MIN_BYTES the Spark arm persists the DISTINCT "
    "(event_type, user_id) rollup and all three consumers read the "
    "cache — events scans 3 -> 1, sketches bit-identical (HLL insert "
    "is idempotent per hashed value); below the gate the bare "
    "declarative plan runs. Rows identical either way.",
)(_agg_hll_sketch_merge_fn)

# ---------------------------------------------------------------------------
# B5 — window functions
# ---------------------------------------------------------------------------

sql_query(
    "window_ranking",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 8) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 8) AS cume
    FROM orders
    WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_custkey, rn
    """,
    tags=("window", "ranking"),
)

sql_query(
    "window_offsets",
    """
    SELECT o_custkey, o_orderkey,
           LAG(o_totalprice, 1) OVER w AS prev_price,
           LEAD(o_totalprice, 1) OVER w AS next_price,
           LAG(o_totalprice, 2, -1.0) OVER w AS prev2_price_default,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_order,
           NTH_VALUE(o_orderkey, 2)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_order
    FROM orders
    WHERE o_custkey < 30
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("window", "offset"),
)

sql_query(
    "window_running_frames",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8)))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8)))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS moving_3,
           COUNT(*) OVER (PARTITION BY o_custkey) AS orders_per_cust
    FROM orders
    WHERE o_custkey < 40
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("window", "frames"),
)

sql_query(
    "window_range_frame",
    """
    SELECT o_orderkey, o_totalprice,
           COUNT(*) OVER (ORDER BY o_totalprice
                          RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)
             AS n_within_1k_below
    FROM orders
    WHERE o_custkey < 20
    ORDER BY o_totalprice, o_orderkey
    """,
    tags=("window", "range-frame"),
    doc="RANGE-frame conformance demo over a pre-filtered slice. The window "
    "is deliberately UNpartitioned to pin global RANGE semantics; the "
    "partitioned companion below is the shape to copy at scale.",
)

sql_query(
    "window_range_frame_partitioned",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)
             AS n_within_1k_below,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8)))
             OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                   RANGE BETWEEN 500.0 PRECEDING AND 500.0 FOLLOWING)
             AS DOUBLE) AS sum_within_500
    FROM orders
    WHERE o_custkey < 200
    ORDER BY o_custkey, o_totalprice, o_orderkey
    """,
    tags=("window", "range-frame"),
    doc="Partitioned RANGE frames — the scale-safe companion to "
    "window_range_frame: PARTITION BY bounds each frame's sort to one "
    "key's rows, so WindowExec parallelizes across custkeys instead of "
    "single-tasking a global sort.",
)


@query(
    "window_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer) t
    WHERE rn <= 3
    ORDER BY c_mktsegment, rn
    """,
    tags=("window", "topk", "dataframe-api"),
    doc="Canonical top-K per group via ranking window (DataFrame API).",
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_fixture_tables(spark, sf_dir)
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        t["customer"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
        .orderBy("c_mktsegment", "rn")
    )


# ---------------------------------------------------------------------------
# B6 — sort / limit / null ordering
# ---------------------------------------------------------------------------

sql_query(
    "sort_nulls_ordering",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 1000 THEN NULL ELSE c_acctbal END AS bal
    FROM customer
    WHERE c_custkey <= 60
    ORDER BY bal ASC NULLS FIRST, c_custkey
    LIMIT 30
    """,
    tags=("sort", "nulls"),
    doc="Explicit NULLS FIRST — Spark/DataFusion defaults differ (SURVEY B6).",
)

sql_query(
    "sort_limit_offset",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 5
    """,
    tags=("sort", "limit", "offset"),
)

# ---------------------------------------------------------------------------
# B7 — set operations
# ---------------------------------------------------------------------------

sql_query(
    "setop_union_all_distinct",
    """
    SELECT k FROM (
      SELECT o_custkey AS k FROM orders WHERE o_totalprice > 350000
      UNION ALL
      SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000
    ) u
    ORDER BY k
    """,
    tags=("setop", "union"),
)

sql_query(
    "setop_union_dedup",
    """
    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 350000
    UNION
    SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000
    ORDER BY k
    """,
    tags=("setop", "union"),
)

sql_query(
    "setop_intersect",
    """
    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000
    INTERSECT
    SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
    ORDER BY k
    """,
    tags=("setop", "intersect"),
)

sql_query(
    "setop_except",
    """
    SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
    EXCEPT
    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 250000
    ORDER BY k
    """,
    tags=("setop", "except"),
)

# ---------------------------------------------------------------------------
# B8 — scalar function sweeps
# ---------------------------------------------------------------------------

sql_query(
    "scalar_string_functions",
    """
    SELECT c_custkey,
           UPPER(c_name) AS up, LOWER(c_mktsegment) AS lo,
           LENGTH(c_name) AS len,
           SUBSTR(c_name, 1, 8) AS pre,
           CONCAT_WS('-', c_mktsegment, CAST(c_custkey AS STRING)) AS tagged,
           LPAD(CAST(c_custkey AS STRING), 8, '0') AS padded,
           REPLACE(c_name, 'Customer', 'Cust') AS repl,
           TRIM('  x  ') AS trimmed,
           REVERSE(c_mktsegment) AS rev,
           SPLIT_PART(c_name, '#', 2) AS name_num,
           POSITION('#' IN c_name) AS hash_pos,
           LEFT(c_mktsegment, 3) AS l3, RIGHT(c_mktsegment, 3) AS r3,
           REPEAT('ab', 3) AS rep,
           TRANSLATE(c_mktsegment, 'AEIOU', 'aeiou') AS trans,
           ASCII(c_mktsegment) AS first_ascii,
           MD5(c_name) AS name_md5,
           STARTSWITH(c_name, 'Customer') AS is_cust
    FROM customer
    WHERE c_custkey <= 40
    ORDER BY c_custkey
    """,
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS up, LOWER(c_mktsegment) AS lo,
           LENGTH(c_name) AS len,
           SUBSTR(c_name, 1, 8) AS pre,
           CONCAT_WS('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS tagged,
           LPAD(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
           REPLACE(c_name, 'Customer', 'Cust') AS repl,
           TRIM('  x  ') AS trimmed,
           REVERSE(c_mktsegment) AS rev,
           SPLIT_PART(c_name, '#', 2) AS name_num,
           POSITION('#' IN c_name) AS hash_pos,
           LEFT(c_mktsegment, 3) AS l3, RIGHT(c_mktsegment, 3) AS r3,
           REPEAT('ab', 3) AS rep,
           TRANSLATE(c_mktsegment, 'AEIOU', 'aeiou') AS trans,
           ASCII(c_mktsegment) AS first_ascii,
           MD5(c_name) AS name_md5,
           STARTS_WITH(c_name, 'Customer') AS is_cust
    FROM customer
    WHERE c_custkey <= 40
    ORDER BY c_custkey
    """,
    tags=("scalar", "string"),
)

sql_query(
    "scalar_regex_functions",
    """
    SELECT doc_id,
           REGEXP_EXTRACT(text, '([a-z]+)', 1) AS first_word,
           REGEXP_REPLACE(SUBSTR(text, 1, 50), '[aeiou]', '_') AS devoweled,
           CAST(REGEXP_LIKE(text, 'spark') AS BOOLEAN) AS mentions_spark
    FROM documents
    WHERE doc_id < 50
    ORDER BY doc_id
    """,
    oracle="""
    SELECT doc_id,
           REGEXP_EXTRACT(text, '([a-z]+)', 1) AS first_word,
           REGEXP_REPLACE(SUBSTR(text, 1, 50), '[aeiou]', '_', 'g') AS devoweled,
           REGEXP_MATCHES(text, 'spark') AS mentions_spark
    FROM documents
    WHERE doc_id < 50
    ORDER BY doc_id
    """,
    tags=("scalar", "regex"),
    doc="Spark regexp_replace is global by default; DuckDB needs the 'g' flag.",
)

sql_query(
    "scalar_math_functions",
    """
    SELECT l_orderkey, l_linenumber,
           ABS(l_quantity - 25) AS dev_from_25,
           CAST(CEIL(l_discount * 100) AS DOUBLE) AS disc_pct_ceil,
           CAST(FLOOR(l_extendedprice / 1000) AS DOUBLE) AS price_k_floor,
           ROUND(l_extendedprice / 7, 2) AS seventh,
           SQRT(l_quantity) AS qty_sqrt,
           ROUND(CBRT(l_quantity), 8) AS qty_cbrt,
           POWER(l_discount, 2) AS disc_sq,
           ROUND(EXP(l_discount), 10) AS disc_exp,
           ROUND(LN(l_extendedprice), 10) AS price_ln,
           ROUND(LOG10(l_extendedprice), 10) AS price_log10,
           ROUND(LOG2(l_quantity), 8) AS qty_log2,
           CAST(SIGN(l_quantity - 25) AS INT) AS sgn,
           MOD(CAST(l_orderkey AS INT), 7) AS ok_mod7,
           GREATEST(l_discount, l_tax) AS max_rate,
           LEAST(l_discount, l_tax) AS min_rate,
           DEGREES(l_discount) AS disc_deg,
           RADIANS(l_quantity) AS qty_rad,
           ROUND(SIN(l_discount), 10) AS s, ROUND(COS(l_discount), 10) AS c,
           ROUND(ATAN2(l_discount, l_tax), 10) AS a2,
           ISNAN(l_discount) AS is_nan
    FROM lineitem
    WHERE l_orderkey < 20
    ORDER BY l_orderkey, l_linenumber
    """,
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_quantity - 25) AS dev_from_25,
           CAST(CEIL(l_discount * 100) AS DOUBLE) AS disc_pct_ceil,
           CAST(FLOOR(l_extendedprice / 1000) AS DOUBLE) AS price_k_floor,
           ROUND(l_extendedprice / 7, 2) AS seventh,
           SQRT(l_quantity) AS qty_sqrt,
           ROUND(CBRT(l_quantity), 8) AS qty_cbrt,
           POWER(l_discount, 2) AS disc_sq,
           ROUND(EXP(l_discount), 10) AS disc_exp,
           ROUND(LN(l_extendedprice), 10) AS price_ln,
           ROUND(LOG10(l_extendedprice), 10) AS price_log10,
           ROUND(LOG2(l_quantity), 8) AS qty_log2,
           CAST(SIGN(l_quantity - 25) AS INT) AS sgn,
           MOD(CAST(l_orderkey AS INT), 7) AS ok_mod7,
           GREATEST(l_discount, l_tax) AS max_rate,
           LEAST(l_discount, l_tax) AS min_rate,
           DEGREES(l_discount) AS disc_deg,
           RADIANS(l_quantity) AS qty_rad,
           ROUND(SIN(l_discount), 10) AS s, ROUND(COS(l_discount), 10) AS c,
           ROUND(ATAN2(l_discount, l_tax), 10) AS a2,
           ISNAN(l_discount) AS is_nan
    FROM lineitem
    WHERE l_orderkey < 20
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("scalar", "math"),
    doc="CEIL/FLOOR return BIGINT in Spark vs DOUBLE in DuckDB (pinned with casts); CBRT differs in the last ulp (rounded).",
)

sql_query(
    "scalar_datetime_functions",
    """
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS od,
           DATE_TRUNC('MONTH', o_orderdate) AS month_start,
           DATE_TRUNC('QUARTER', o_orderdate) AS quarter_start,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
           CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS dd,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS qtr,
           CAST(EXTRACT(DOW FROM o_orderdate) AS INT) - 1 AS dow,
           CAST(EXTRACT(DOY FROM o_orderdate) AS INT) AS doy,
           CAST(MAKE_DATE(2024, 3, 15) AS TIMESTAMP) AS fixed_date,
           CAST(UNIX_TIMESTAMP(o_orderdate) AS BIGINT) AS epoch_s
    FROM orders
    WHERE o_orderkey < 30
    ORDER BY o_orderkey
    """,
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS od,
           DATE_TRUNC('MONTH', o_orderdate) AS month_start,
           DATE_TRUNC('QUARTER', o_orderdate) AS quarter_start,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
           CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS dd,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS qtr,
           CAST(EXTRACT(DOW FROM o_orderdate) AS INT) AS dow,
           CAST(EXTRACT(DOY FROM o_orderdate) AS INT) AS doy,
           CAST(MAKE_DATE(2024, 3, 15) AS TIMESTAMP) AS fixed_date,
           CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch_s
    FROM orders
    WHERE o_orderkey < 30
    ORDER BY o_orderkey
    """,
    tags=("scalar", "datetime"),
    doc="Spark EXTRACT(DOW) is 1=Sunday vs DuckDB 0=Sunday (shifted to agree); DATE outputs cast to TIMESTAMP for cross-engine hashing.",
)

sql_query(
    "scalar_conditional",
    """
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low'
                WHEN c_acctbal < 9000 THEN 'mid'
                ELSE 'high' END AS bal_band,
           IF(c_acctbal > 5000, 'yes', 'no') AS over_5k,
           NVL(NULLIF(c_name, c_name), 'was_null') AS nvl_demo,
           (c_acctbal IS NOT DISTINCT FROM NULL) AS never_true
    FROM customer
    WHERE c_custkey <= 50
    ORDER BY c_custkey
    """,
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low'
                WHEN c_acctbal < 9000 THEN 'mid'
                ELSE 'high' END AS bal_band,
           IF(c_acctbal > 5000, 'yes', 'no') AS over_5k,
           COALESCE(NULLIF(c_name, c_name), 'was_null') AS nvl_demo,
           (c_acctbal IS NOT DISTINCT FROM NULL) AS never_true
    FROM customer
    WHERE c_custkey <= 50
    ORDER BY c_custkey
    """,
    tags=("scalar", "conditional"),
)

sql_query(
    "scalar_cast_trycast",
    """
    SELECT
      CAST('42' AS INT) AS i,
      CAST('3.5' AS DOUBLE) AS d,
      CAST(42 AS STRING) AS s,
      TRY_CAST('not_a_number' AS INT) AS bad_int,
      TRY_CAST('2024-01-15' AS TIMESTAMP) AS good_ts,
      TRY_CAST('nope' AS TIMESTAMP) AS bad_ts,
      CAST(3.99 AS INT) AS truncated,
      CAST(TRUE AS INT) AS bool_int
    """,
    oracle="""
    SELECT
      CAST('42' AS INT) AS i,
      CAST('3.5' AS DOUBLE) AS d,
      CAST(42 AS VARCHAR) AS s,
      TRY_CAST('not_a_number' AS INT) AS bad_int,
      TRY_CAST('2024-01-15' AS TIMESTAMP) AS good_ts,
      TRY_CAST('nope' AS TIMESTAMP) AS bad_ts,
      CAST(TRUNC(3.99) AS INT) AS truncated,
      CAST(TRUE AS INT) AS bool_int
    """,
    tags=("scalar", "cast"),
    doc="ANSI casts. Divergence pinned: Spark CAST(double AS INT) truncates toward zero, DuckDB rounds — oracle uses TRUNC to express Spark's semantics.",
)

sql_query(
    "scalar_predicates",
    """
    SELECT p_partkey, p_brand, p_size
    FROM part
    WHERE p_brand LIKE 'Brand#1%'
      AND p_type ILIKE '%econ%'
      AND p_size BETWEEN 10 AND 40
      AND p_partkey IN (SELECT DISTINCT l_partkey FROM lineitem WHERE l_quantity > 40)
      AND p_name IS NOT NULL
    ORDER BY p_partkey
    """,
    tags=("filter", "predicates"),
)

# ---------------------------------------------------------------------------
# B8 arrays + B9 structure (on the embeddings/events fixtures)
# ---------------------------------------------------------------------------

sql_query(
    "array_functions",
    """
    SELECT vec_id,
           SIZE(embedding) AS dim,
           CAST(ELEMENT_AT(embedding, 1) AS DOUBLE) AS first_elem,
           CAST(ELEMENT_AT(embedding, -1) AS DOUBLE) AS last_elem,
           CAST(ARRAY_MAX(embedding) AS DOUBLE) AS max_elem,
           CAST(ARRAY_MIN(embedding) AS DOUBLE) AS min_elem,
           CAST(AGGREGATE(SLICE(embedding, 1, 8), CAST(0.0 AS DOUBLE),
                          (acc, x) -> acc + CAST(x AS DOUBLE)) AS DOUBLE) AS sum_first8
    FROM embeddings
    WHERE vec_id < 40
    ORDER BY vec_id
    """,
    oracle="""
    SELECT vec_id,
           CAST(LEN(embedding) AS INT) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_elem,
           CAST(embedding[-1] AS DOUBLE) AS last_elem,
           CAST(LIST_MAX(embedding) AS DOUBLE) AS max_elem,
           CAST(LIST_MIN(embedding) AS DOUBLE) AS min_elem,
           CAST(LIST_SUM(LIST_TRANSFORM(embedding[1:8], x -> CAST(x AS DOUBLE)))
                AS DOUBLE) AS sum_first8
    FROM embeddings
    WHERE vec_id < 40
    ORDER BY vec_id
    """,
    tags=("array",),
    doc="Array ops over a real ArrayType(Float) column; floats widened to double for cross-engine hashing.",
)

sql_query(
    "array_explode_unnest",
    f"""
    SELECT label, COUNT(*) AS n_values,
           {dsum('CAST(e AS DOUBLE)', 'sum_components')}
    FROM (SELECT label, EXPLODE(SLICE(embedding, 1, 4)) AS e
          FROM embeddings WHERE vec_id < 100) t
    GROUP BY label
    ORDER BY label
    """,
    oracle=f"""
    SELECT label, COUNT(*) AS n_values,
           {dsum('CAST(e AS DOUBLE)', 'sum_components')}
    FROM (SELECT label, UNNEST(embedding[1:4]) AS e
          FROM embeddings WHERE vec_id < 100) t
    GROUP BY label
    ORDER BY label
    """,
    tags=("array", "explode"),
)

sql_query(
    "json_extraction",
    f"""
    SELECT event_type,
           COUNT(*) AS n,
           {isum("CAST(GET_JSON_OBJECT(props, '$.k') AS INT)", 'sum_k')}
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {isum("CAST(JSON_EXTRACT_STRING(props, '$.k') AS INT)", 'sum_k')}
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("json",),
    doc="JSON extraction — a capability extension over DataFusion 35 (SURVEY B8 notes core DF35 has no JSON functions).",
)

sql_query(
    "struct_nested",
    """
    SELECT seg, cnt, rec.max_bal AS max_bal, rec.min_bal AS min_bal
    FROM (
      SELECT c_mktsegment AS seg, COUNT(*) AS cnt,
             STRUCT(MAX(c_acctbal) AS max_bal, MIN(c_acctbal) AS min_bal) AS rec
      FROM customer GROUP BY c_mktsegment) t
    ORDER BY seg
    """,
    oracle="""
    SELECT c_mktsegment AS seg, COUNT(*) AS cnt,
           MAX(c_acctbal) AS max_bal, MIN(c_acctbal) AS min_bal
    FROM customer GROUP BY c_mktsegment
    ORDER BY seg
    """,
    tags=("struct",),
    doc="Struct construction + field access; oracle flattens (same values).",
)

sql_query(
    "query_values_inline",
    """
    SELECT t.code, r.r_name, t.note
    FROM (VALUES (0, 'first'), (2, 'third'), (4, 'fifth')) AS t(code, note)
    JOIN region r ON r.r_regionkey = t.code
    ORDER BY t.code
    """,
    tags=("values", "join"),
)

sql_query(
    "query_nested_cte",
    f"""
    WITH big_orders AS (
      SELECT * FROM orders WHERE o_totalprice > 200000
    ), cust_big AS (
      SELECT c_custkey, c_mktsegment, COUNT(*) AS n_big
      FROM customer JOIN big_orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_mktsegment
    )
    SELECT c_mktsegment, {isum('n_big', 'total_big_orders')},
           COUNT(*) AS n_customers
    FROM cust_big
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("cte",),
)

sql_query(
    "distinct_projection",
    """
    SELECT DISTINCT l_returnflag, l_linestatus
    FROM lineitem
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("distinct",),
)


@query(
    "pivot_segments_by_status",
    oracle="""
    SELECT c_mktsegment,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("pivot", "dataframe-api"),
    doc="DataFrame pivot; oracle expresses it as conditional aggregation.",
)
def pivot_segments_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_fixture_tables(spark, sf_dir)
    joined = t["customer"].join(
        t["orders"], F.col("c_custkey") == F.col("o_custkey")
    )
    return (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("c_mktsegment")
    )


@query(
    "unpivot_stack",
    oracle="""
    SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val
    FROM customer WHERE c_custkey <= 20
    UNION ALL
    SELECT c_custkey, 'custkey_x10' AS metric, CAST(c_custkey * 10 AS DOUBLE) AS val
    FROM customer WHERE c_custkey <= 20
    ORDER BY c_custkey, metric
    """,
    tags=("unpivot", "dataframe-api"),
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_fixture_tables(spark, sf_dir)
    return (
        t["customer"]
        .filter(F.col("c_custkey") <= 20)
        .selectExpr(
            "c_custkey",
            "stack(2, 'acctbal', c_acctbal, 'custkey_x10', CAST(c_custkey * 10 AS DOUBLE)) AS (metric, val)",
        )
        .orderBy("c_custkey", "metric")
    )


# ---------------------------------------------------------------------------
# B7 — multiset set operations; B4 — regression aggregates
# ---------------------------------------------------------------------------

sql_query(
    "setop_intersect_all",
    """
    SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 48
    INTERSECT ALL
    SELECT l_suppkey AS k FROM lineitem WHERE l_discount > 0.08
    ORDER BY k
    """,
    tags=("setop", "intersect-all"),
)

sql_query(
    "setop_except_all",
    """
    SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 40
    EXCEPT ALL
    SELECT l_suppkey AS k FROM lineitem WHERE l_discount > 0.08
    ORDER BY k
    """,
    tags=("setop", "except-all"),
    doc="Multiset EXCEPT ALL. Cuts tuned so the sf0.01 result is 3079 rows "
    "while plain EXCEPT is 0 rows — every surviving row comes from a "
    "multiplicity difference, so the oracle genuinely pins bag semantics "
    "(the previous q>48 cut produced an empty, vacuous result).",
)

sql_query(
    "agg_regression",
    """
    SELECT l_returnflag,
           ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 2) AS intercept,
           ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2,
           CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("agg", "regression"),
    doc="Linear-regression aggregates (Spark 3.3+/DuckDB shared surface), "
    "rounded to absorb accumulation-order noise.",
)

# ---------------------------------------------------------------------------
# B8 — second string sweep; datetime arithmetic; date_bin shim
# ---------------------------------------------------------------------------

sql_query(
    "scalar_string_functions2",
    """
    SELECT c_custkey,
           INITCAP(LOWER(c_name)) AS proper_name,
           LEVENSHTEIN(c_mktsegment, 'BUILDING') AS lev_to_building,
           SHA2(c_name, 256) AS name_sha256,
           HEX(ENCODE(c_mktsegment, 'UTF-8')) AS seg_hex,
           INSTR(c_name, '#') AS hash_at,
           SUBSTRING_INDEX(c_name, '#', 1) AS before_hash,
           CHAR(65 + CAST(c_custkey % 26 AS INT)) AS letter,
           OCTET_LENGTH(c_name) AS oct_len,
           BIT_LENGTH(c_mktsegment) AS bit_len
    FROM customer
    WHERE c_custkey <= 40
    ORDER BY c_custkey
    """,
    oracle="""
    SELECT c_custkey,
           ARRAY_TO_STRING(LIST_TRANSFORM(STRING_SPLIT(LOWER(c_name), ' '),
                           w -> UPPER(w[1:1]) || w[2:]), ' ') AS proper_name,
           LEVENSHTEIN(c_mktsegment, 'BUILDING') AS lev_to_building,
           SHA256(c_name) AS name_sha256,
           UPPER(HEX(c_mktsegment)) AS seg_hex,
           CAST(POSITION('#' IN c_name) AS BIGINT) AS hash_at,
           STRING_SPLIT(c_name, '#')[1] AS before_hash,
           CHR(65 + CAST(c_custkey % 26 AS INT)) AS letter,
           CAST(OCTET_LENGTH(ENCODE(c_name)) AS BIGINT) AS oct_len,
           CAST(BIT_LENGTH(c_mktsegment) AS BIGINT) AS bit_len
    FROM customer
    WHERE c_custkey <= 40
    ORDER BY c_custkey
    """,
    tags=("scalar", "string"),
    doc="initcap/levenshtein/sha2/hex/instr/substring_index/char surface; "
    "DuckDB lacks initcap so the oracle emulates it with list ops.",
)

sql_query(
    "scalar_datetime_arithmetic",
    """
    SELECT o_orderkey,
           CAST(DATE_ADD(CAST(o_orderdate AS DATE), 30) AS TIMESTAMP) AS plus_30d,
           CAST(ADD_MONTHS(CAST(o_orderdate AS DATE), 2) AS TIMESTAMP) AS plus_2mo,
           CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
           DATEDIFF(TIMESTAMP '1998-12-31 00:00:00', o_orderdate) AS days_to_98end,
           ROUND(MONTHS_BETWEEN(TIMESTAMP '1998-06-15 00:00:00',
                                DATE_TRUNC('MONTH', o_orderdate)), 6)
             AS months_to_mid98,
           CAST(NEXT_DAY(CAST(o_orderdate AS DATE), 'Monday') AS TIMESTAMP)
             AS next_monday,
           DATE_FORMAT(o_orderdate, 'yyyy-MM-dd HH:mm') AS formatted
    FROM orders
    WHERE o_orderkey < 30
    ORDER BY o_orderkey
    """,
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP)
             AS plus_30d,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS TIMESTAMP)
             AS plus_2mo,
           CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
           DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
             AS days_to_98end,
           ROUND(CAST(DATE_DIFF('month', DATE_TRUNC('MONTH', o_orderdate),
                                DATE_TRUNC('MONTH', TIMESTAMP '1998-06-15'))
                      AS DOUBLE) + (15 - 1) / 31.0, 6) AS months_to_mid98,
           CAST(CAST(o_orderdate AS DATE)
                + INTERVAL (((8 - DAYOFWEEK(CAST(o_orderdate AS DATE))) % 7)
                            + CASE WHEN DAYOFWEEK(CAST(o_orderdate AS DATE)) = 1
                                   THEN 7 ELSE 0 END) DAY AS TIMESTAMP)
             AS next_monday,
           STRFTIME(o_orderdate, '%Y-%m-%d %H:%M') AS formatted
    FROM orders
    WHERE o_orderkey < 30
    ORDER BY o_orderkey
    """,
    tags=("scalar", "datetime"),
    doc="date_add/add_months/last_day/datediff/months_between/next_day/"
    "date_format; oracle rebuilds each with DuckDB interval arithmetic.",
)

from bdt_spark.functions.datetime import date_bin_sql  # noqa: E402

sql_query(
    "scalar_date_bin",
    f"""
    SELECT {date_bin_sql('37 minutes', 'ts')} AS bin_start,
           COUNT(*) AS n_events
    FROM events
    WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
    GROUP BY 1
    ORDER BY bin_start
    """,
    oracle="""
    SELECT time_bucket(INTERVAL '37 minutes', ts) AS bin_start,
           COUNT(*) AS n_events
    FROM events
    WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
    GROUP BY 1
    ORDER BY bin_start
    """,
    tags=("scalar", "datetime", "date_bin"),
    doc="date_bin conformance shim (SURVEY B8: no direct Spark builtin) — "
    "arbitrary-width bins via codegen-friendly microsecond arithmetic, "
    "anchored to match DuckDB time_bucket.",
)

# ---------------------------------------------------------------------------
# B9 — lateral explode with position; information_schema emulation
# ---------------------------------------------------------------------------

sql_query(
    "lateral_posexplode",
    """
    SELECT vec_id, pos + 1 AS pos1, ROUND(CAST(v AS DOUBLE), 6) AS v
    FROM embeddings
    LATERAL VIEW POSEXPLODE(SLICE(embedding, 1, 5)) t AS pos, v
    WHERE vec_id < 10
    ORDER BY vec_id, pos1
    """,
    oracle="""
    SELECT vec_id,
           CAST(generate_subscripts(embedding[1:5], 1) AS INT) AS pos1,
           ROUND(CAST(unnest(embedding[1:5]) AS DOUBLE), 6) AS v
    FROM embeddings
    WHERE vec_id < 10
    ORDER BY vec_id, pos1
    """,
    tags=("lateral", "explode"),
    doc="Positional explode (LATERAL VIEW posexplode vs DuckDB "
    "generate_subscripts+unnest zip).",
)


@query(
    "catalog_information_schema",
    oracle="""
    SELECT table_name, column_name,
           CAST(ordinal_position AS INT) AS ordinal
    FROM information_schema.columns
    WHERE table_name IN ('region', 'nation', 'customer')
    ORDER BY table_name, ordinal
    """,
    tags=("catalog", "information_schema"),
    doc="information_schema.columns emulation (reference main.rs:111, "
    "131-135): Spark lacks information_schema; rebuilt from spark.catalog "
    "metadata (driver-side metadata op, like the reference's).",
)
def catalog_information_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_fixture_tables(spark, sf_dir)
    rows = []
    for tbl in ("region", "nation", "customer"):
        for i, f in enumerate(spark.table(tbl).schema.fields, start=1):
            rows.append((tbl, f.name, i))
    from bdt_spark.operators.localrel import local_relation

    return local_relation(
        spark, rows, "table_name string, column_name string, ordinal int"
    ).orderBy("table_name", "ordinal")


sql_query(
    "scalar_typeof",
    """
    SELECT lower(typeof(o_orderkey)) AS t_key,
           lower(typeof(o_totalprice)) AS t_price,
           lower(typeof(o_orderstatus)) AS t_status,
           lower(typeof(o_orderdate)) AS t_date,
           lower(typeof(o_orderkey > 1)) AS t_bool,
           lower(typeof(CAST(o_totalprice AS DECIMAL(18,2)))) AS t_dec
    FROM orders WHERE o_orderkey = 1
    """,
    oracle="""
    SELECT lower(typeof(o_orderkey)) AS t_key,
           lower(typeof(o_totalprice)) AS t_price,
           replace(lower(typeof(o_orderstatus)), 'varchar', 'string')
             AS t_status,
           replace(lower(typeof(o_orderdate)), ' with time zone', '')
             AS t_date,
           lower(typeof(o_orderkey > 1)) AS t_bool,
           lower(typeof(CAST(o_totalprice AS DECIMAL(18,2)))) AS t_dec
    FROM orders WHERE o_orderkey = 1
    """,
    tags=("scalar", "misc"),
    doc="arrow_typeof parity (reference B8 misc, the one DataFusion scalar "
    "with no same-name Spark twin): Spark's typeof() vs DuckDB's typeof(). "
    "Engines name types differently (VARCHAR vs string, TIMESTAMP WITH "
    "TIME ZONE vs timestamp), so the oracle maps the documented vocabulary "
    "and the query asserts structural type identity: int/float width, "
    "decimal precision/scale, boolean, timestamp-ness.",
)

# ---------------------------------------------------------------------------
# B8 — second array sweep; B4 — argmin/argmax + conditional count aggregates
# ---------------------------------------------------------------------------

sql_query(
    "array_functions2",
    """
    SELECT vec_id,
           CAST(ARRAY_POSITION(SLICE(embedding, 1, 8),
                               ELEMENT_AT(embedding, 3)) AS BIGINT) AS pos_of_3rd,
           SIZE(ARRAY_REMOVE(SEQUENCE(1, 6), CAST(vec_id % 6 + 1 AS INT)))
             AS removed_size,
           ROUND(ELEMENT_AT(ARRAY_APPEND(SLICE(embedding, 1, 2),
                                         CAST(0.5 AS FLOAT)), -1), 4) AS appended,
           ROUND(ELEMENT_AT(ARRAY_PREPEND(SLICE(embedding, 1, 2),
                                          CAST(0.25 AS FLOAT)), 1), 4) AS prepended,
           ROUND(CAST(ELEMENT_AT(ARRAY_SORT(SLICE(embedding, 1, 8)), 1)
                      AS DOUBLE), 6) AS smallest_of_8,
           ROUND(CAST(ELEMENT_AT(SORT_ARRAY(SLICE(embedding, 1, 8), false), 1)
                      AS DOUBLE), 6) AS largest_of_8,
           SIZE(FLATTEN(ARRAY(SLICE(embedding, 1, 2),
                              SLICE(embedding, 3, 2)))) AS flat_size,
           SEQUENCE(2, 10, 3) AS seq_2_10_3,
           SIZE(ARRAY_REPEAT('x', 3)) AS repeat_size
    FROM embeddings
    WHERE vec_id < 25
    ORDER BY vec_id
    """,
    oracle="""
    SELECT vec_id,
           CAST(LIST_POSITION(embedding[1:8], embedding[3]) AS BIGINT)
             AS pos_of_3rd,
           CAST(LEN(LIST_FILTER(RANGE(1, 7),
                                x -> x <> vec_id % 6 + 1)) AS INT)
             AS removed_size,
           ROUND(LIST_APPEND(embedding[1:2], 0.5)[-1], 4) AS appended,
           ROUND(LIST_PREPEND(0.25, embedding[1:2])[1], 4) AS prepended,
           ROUND(CAST(LIST_SORT(embedding[1:8])[1] AS DOUBLE), 6)
             AS smallest_of_8,
           ROUND(CAST(LIST_REVERSE_SORT(embedding[1:8])[1] AS DOUBLE), 6)
             AS largest_of_8,
           CAST(LEN(FLATTEN([embedding[1:2], embedding[3:4]])) AS INT)
             AS flat_size,
           RANGE(2, 11, 3) AS seq_2_10_3,
           CAST(3 AS INT) AS repeat_size
    FROM embeddings
    WHERE vec_id < 25
    ORDER BY vec_id
    """,
    tags=("array",),
    doc="array_position/remove/append/prepend/sort/flatten/sequence/repeat "
    "surface (Spark names) against DuckDB list_* equivalents.",
)

sql_query(
    "agg_minmax_by",
    """
    SELECT o_orderstatus,
           MIN_BY(o_orderkey, o_totalprice) AS cheapest_order,
           MAX_BY(o_orderkey, o_totalprice) AS priciest_order,
           CAST(COUNT_IF(o_totalprice > 200000) AS BIGINT) AS n_over_200k,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("agg", "minmax-by"),
    doc="Argmin/argmax aggregates (min_by/max_by; totalprice is unique in "
    "the fixture so ties cannot make the result nondeterministic) and "
    "conditional counting.",
)

sql_query(
    "filter_like_escape",
    """
    SELECT p_partkey, p_type
    FROM part
    WHERE p_type LIKE '%y!_%' ESCAPE '!'
       OR p_type LIKE 'ECONOMY'
    ORDER BY p_partkey
    LIMIT 40
    """,
    tags=("filter", "like-escape"),
    doc="LIKE with explicit ESCAPE character (literal underscore match).",
)


# ---------------------------------------------------------------------------
# B8 — map type; B7 — union by name; B3 — range (interval) join
# ---------------------------------------------------------------------------

sql_query(
    "map_functions",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(m['k']) AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN ARRAY_CONTAINS(MAP_KEYS(m), 'k')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_with_k,
           CAST(SUM(SIZE(MAP_VALUES(m))) AS BIGINT) AS total_vals
    FROM (
      SELECT event_type,
             FROM_JSON(props, 'map<string,int>') AS m
      FROM events) t
    GROUP BY event_type
    ORDER BY event_type
    """,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(JSON_EXTRACT_STRING(props, '$.k') AS INT)) AS BIGINT)
             AS sum_k,
           CAST(SUM(CASE WHEN JSON_EXTRACT_STRING(props, '$.k') IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_with_k,
           CAST(SUM(LEN(JSON_KEYS(props))) AS BIGINT) AS total_vals
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("map", "json"),
    doc="MapType surface: from_json to map<string,int>, bracket access, "
    "map_keys/map_values; oracle re-expresses via DuckDB JSON functions.",
)

@query(
    "setop_union_by_name",
    oracle="""
    SELECT k, src FROM (
      SELECT c_custkey AS k, 'cust' AS src
      FROM customer WHERE c_acctbal > 9500
      UNION ALL BY NAME
      SELECT 'ord' AS src, o_custkey AS k
      FROM orders WHERE o_totalprice > 420000
    ) u
    ORDER BY k, src
    """,
    tags=("setop", "union-by-name", "dataframe-api"),
    doc="Name-based union with differently-ordered columns (Spark "
    "unionByName; DuckDB UNION ALL BY NAME).",
)
def setop_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_fixture_tables(spark, sf_dir)
    a = (
        t["customer"]
        .filter(F.col("c_acctbal") > 9500)
        .select(F.col("c_custkey").alias("k"), F.lit("cust").alias("src"))
    )
    b = (
        t["orders"]
        .filter(F.col("o_totalprice") > 420000)
        .select(F.lit("ord").alias("src"), F.col("o_custkey").alias("k"))
    )
    return a.unionByName(b).orderBy("k", "src")

sql_query(
    "events_range_join_binned",
    """
    SELECT e1.event_id AS error_id, COUNT(*) AS purchases_within_1h
    FROM events e1
    JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
    WHERE e1.event_type = 'error' AND e2.event_type = 'purchase'
      AND e1.user_id < 50
    GROUP BY e1.event_id
    ORDER BY e1.event_id
    """,
    oracle="""
    SELECT e1.event_id AS error_id, COUNT(*) AS purchases_within_1h
    FROM events e1
    JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
    WHERE e1.event_type = 'error' AND e2.event_type = 'purchase'
      AND e1.user_id < 50
    GROUP BY e1.event_id
    ORDER BY e1.event_id
    """,
    tags=("join", "range", "time-series"),
    doc="Interval range join: equi hash join on user_id with the time-range "
    "as residual predicate — pairwise work bounded per key. (For keyless "
    "range joins, bucket both sides with date_bin and join on the bin.)",
)


from bdt_spark.functions.math import gcd_sql, lcm_sql  # noqa: E402

_GCD = gcd_sql("p_partkey", "24")
_LCM = lcm_sql("CAST(p_size AS BIGINT)", "6")

sql_query(
    "scalar_math_functions2",
    f"""
    SELECT p_partkey,
           CAST(FACTORIAL(CAST(p_size % 10 AS INT)) AS BIGINT) AS size_factorial,
           CAST({_GCD} AS BIGINT) AS gcd_24,
           CAST({_LCM} AS BIGINT) AS lcm_6,
           CAST(FLOOR(p_retailprice) AS DOUBLE) AS price_trunc,
           ROUND(PI() * p_size, 6) AS size_pi,
           CAST(PMOD(-7, CAST(p_size AS INT)) AS INT) AS pmod_size,
           ROUND(HYPOT(CAST(p_size AS DOUBLE), 3.0), 8) AS hyp,
           ROUND(SINH(p_retailprice / 2000), 8) AS sh,
           ROUND(COSH(p_retailprice / 2000), 8) AS ch
    FROM part
    WHERE p_partkey <= 40 AND p_size > 0
    ORDER BY p_partkey
    """,
    oracle="""
    SELECT p_partkey,
           CAST(FACTORIAL(CAST(p_size % 10 AS INT)) AS BIGINT) AS size_factorial,
           CAST(GCD(p_partkey, 24) AS BIGINT) AS gcd_24,
           CAST(LCM(CAST(p_size AS BIGINT), 6) AS BIGINT) AS lcm_6,
           CAST(TRUNC(p_retailprice) AS DOUBLE) AS price_trunc,
           ROUND(PI() * p_size, 6) AS size_pi,
           CAST(((-7 % CAST(p_size AS INT)) + CAST(p_size AS INT))
                % CAST(p_size AS INT) AS INT) AS pmod_size,
           ROUND(SQRT(CAST(p_size AS DOUBLE) * p_size + 9.0), 8) AS hyp,
           ROUND((EXP(p_retailprice / 2000) - EXP(-p_retailprice / 2000)) / 2, 8)
             AS sh,
           ROUND((EXP(p_retailprice / 2000) + EXP(-p_retailprice / 2000)) / 2, 8)
             AS ch
    FROM part
    WHERE p_partkey <= 40 AND p_size > 0
    ORDER BY p_partkey
    """,
    tags=("scalar", "math"),
    doc="factorial/gcd/lcm/trunc/pi/pmod/hypot/sinh/cosh; DuckDB lacks "
    "pmod/hypot/sinh so the oracle rebuilds them arithmetically.",
)


@query(
    "nullops_fill_drop",
    oracle="""
    WITH nulled AS (
      SELECT c_custkey,
             NULLIF(c_mktsegment, 'BUILDING') AS seg,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
      FROM customer WHERE c_custkey <= 200
    )
    SELECT c_custkey, COALESCE(seg, 'UNKNOWN') AS seg,
           COALESCE(bal, 0.0) AS bal
    FROM nulled
    WHERE NOT (seg IS NULL AND bal IS NULL)
    ORDER BY c_custkey
    """,
    tags=("null", "dataframe-api"),
    doc="DataFrame null-handling API: na.drop(how='all', subset) then "
    "na.fill with per-column defaults; oracle is the COALESCE/WHERE form.",
)
def nullops_fill_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_fixture_tables(spark, sf_dir)
    nulled = (
        t["customer"]
        .filter(F.col("c_custkey") <= 200)
        .select(
            "c_custkey",
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
            F.when(F.col("c_acctbal") < 0, None)
            .otherwise(F.col("c_acctbal"))
            .alias("bal"),
        )
    )
    return (
        nulled.na.drop(how="all", subset=["seg", "bal"])
        .na.fill({"seg": "UNKNOWN", "bal": 0.0})
        .orderBy("c_custkey")
    )


sql_query(
    "agg_histogram_width_bucket",
    """
    SELECT WIDTH_BUCKET(o_totalprice, 111.11, 555333.77, 16) AS bucket,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM orders
    GROUP BY 1
    ORDER BY bucket
    """,
    oracle="""
    SELECT CASE WHEN o_totalprice < 111.11 THEN 0
                WHEN o_totalprice >= 555333.77 THEN 17
                ELSE 1 + CAST(FLOOR((o_totalprice - 111.11)
                              / ((555333.77 - 111.11) / 16)) AS BIGINT)
           END AS bucket,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM orders
    GROUP BY 1
    ORDER BY bucket
    """,
    tags=("agg", "histogram"),
    doc="Equi-width histogram via width_bucket (DuckDB lacks it; oracle "
    "emulates the same arithmetic; non-round bin edges dodge boundary "
    "float ties).",
)


# ---------------------------------------------------------------------------
# B8 — remaining scalar-function families (round-2 coverage close-out)
# ---------------------------------------------------------------------------

sql_query(
    "scalar_trig_functions",
    """
    SELECT p_partkey,
           ROUND(TAN(CAST(p_size AS DOUBLE) / 100.0), 6) AS tan_v,
           ROUND(ASIN(CAST(p_size AS DOUBLE) / 51.0), 6) AS asin_v,
           ROUND(ACOS(CAST(p_size AS DOUBLE) / 51.0), 6) AS acos_v,
           ROUND(ATAN(CAST(p_size AS DOUBLE) / 10.0), 6) AS atan_v,
           ROUND(ATAN2(CAST(p_size AS DOUBLE), 7.0), 6) AS atan2_v,
           ROUND(TANH(CAST(p_size AS DOUBLE) / 25.0), 6) AS tanh_v,
           ROUND(ASINH(CAST(p_size AS DOUBLE) / 25.0), 6) AS asinh_v,
           ROUND(ACOSH(1.0 + CAST(p_size AS DOUBLE) / 10.0), 6) AS acosh_v,
           ROUND(ATANH(CAST(p_size AS DOUBLE) / 51.0), 6) AS atanh_v,
           ROUND(DEGREES(ATAN(CAST(p_size AS DOUBLE) / 10.0)), 6) AS deg_v,
           ROUND(RADIANS(CAST(p_size AS DOUBLE)), 6) AS rad_v
    FROM part
    WHERE p_partkey <= 50 AND p_size BETWEEN 1 AND 50
    ORDER BY p_partkey
    """,
    oracle="""
    SELECT p_partkey,
           ROUND(TAN(CAST(p_size AS DOUBLE) / 100.0), 6) AS tan_v,
           ROUND(ASIN(CAST(p_size AS DOUBLE) / 51.0), 6) AS asin_v,
           ROUND(ACOS(CAST(p_size AS DOUBLE) / 51.0), 6) AS acos_v,
           ROUND(ATAN(CAST(p_size AS DOUBLE) / 10.0), 6) AS atan_v,
           ROUND(ATAN2(CAST(p_size AS DOUBLE), 7.0), 6) AS atan2_v,
           ROUND((EXP(2 * CAST(p_size AS DOUBLE) / 25.0) - 1) / (EXP(2 * CAST(p_size AS DOUBLE) / 25.0) + 1), 6)
             AS tanh_v,
           ROUND(LN(CAST(p_size AS DOUBLE) / 25.0
                    + SQRT(CAST(p_size AS DOUBLE) / 25.0 * (CAST(p_size AS DOUBLE) / 25.0) + 1)), 6) AS asinh_v,
           ROUND(LN(1.0 + CAST(p_size AS DOUBLE) / 10.0
                    + SQRT((1.0 + CAST(p_size AS DOUBLE) / 10.0) * (1.0 + CAST(p_size AS DOUBLE) / 10.0) - 1)),
                 6) AS acosh_v,
           ROUND(0.5 * LN((1 + CAST(p_size AS DOUBLE) / 51.0) / (1 - CAST(p_size AS DOUBLE) / 51.0)), 6)
             AS atanh_v,
           ROUND(DEGREES(ATAN(CAST(p_size AS DOUBLE) / 10.0)), 6) AS deg_v,
           ROUND(RADIANS(CAST(p_size AS DOUBLE)), 6) AS rad_v
    FROM part
    WHERE p_partkey <= 50 AND p_size BETWEEN 1 AND 50
    ORDER BY p_partkey
    """,
    tags=("scalar", "math", "trig"),
    doc="Inverse-trig + hyperbolic family (B8): tan/asin/acos/atan/atan2 "
    "native in both engines; DuckDB lacks tanh/asinh/acosh/atanh so the "
    "oracle rebuilds them from exp/ln/sqrt identities.",
)


sql_query(
    "scalar_string_functions3",
    """
    SELECT c_custkey,
           CONCAT(c_mktsegment, '-', c_name) AS seg_name,
           TRIM(LEADING 'C' FROM c_name) AS no_lead_c,
           TRIM(TRAILING '0123456789' FROM c_name) AS no_trail_digit,
           RPAD(c_mktsegment, 12, '.') AS seg_pad,
           CHAR_LENGTH(c_name) AS name_len,
           SUBSTRING(c_name FROM 10 FOR 5) AS name_mid,
           NVL2(NULLIF(c_mktsegment, 'BUILDING'), 'other', 'building')
             AS seg_class
    FROM customer
    WHERE c_custkey <= 60
    ORDER BY c_custkey
    """,
    oracle="""
    SELECT c_custkey,
           CONCAT(c_mktsegment, '-', c_name) AS seg_name,
           TRIM(LEADING 'C' FROM c_name) AS no_lead_c,
           RTRIM(c_name, '0123456789') AS no_trail_digit,
           RPAD(c_mktsegment, 12, '.') AS seg_pad,
           CAST(LENGTH(c_name) AS INT) AS name_len,
           SUBSTRING(c_name FROM 10 FOR 5) AS name_mid,
           CASE WHEN NULLIF(c_mktsegment, 'BUILDING') IS NOT NULL
                THEN 'other' ELSE 'building' END AS seg_class
    FROM customer
    WHERE c_custkey <= 60
    ORDER BY c_custkey
    """,
    tags=("scalar", "string"),
    doc="String family close-out (B8): concat, ANSI TRIM(LEADING/TRAILING "
    "chars FROM s) (Spark's multi-char TRAILING set == DuckDB rtrim(chars)), "
    "rpad, char_length, ANSI substring FROM/FOR, nvl2 (DuckDB lacks it; "
    "oracle uses CASE).",
)


sql_query(
    "scalar_datetime_functions3",
    """
    SELECT o_orderkey,
           CAST(DATE_PART('YEAR', o_orderdate) AS BIGINT) AS order_year,
           CAST(DATE_PART('QUARTER', o_orderdate) AS BIGINT) AS order_quarter,
           FROM_UNIXTIME(1600000000 + o_orderkey * 3600) AS synth_ts,
           CAST(DAYOFWEEK(o_orderdate) AS BIGINT) AS dow_1_7
    FROM orders
    WHERE o_orderkey <= 200
    ORDER BY o_orderkey
    """,
    oracle="""
    SELECT o_orderkey,
           CAST(DATE_PART('YEAR', o_orderdate) AS BIGINT) AS order_year,
           CAST(DATE_PART('QUARTER', o_orderdate) AS BIGINT) AS order_quarter,
           STRFTIME(TO_TIMESTAMP(1600000000 + o_orderkey * 3600),
                    '%Y-%m-%d %H:%M:%S') AS synth_ts,
           CAST(DATE_PART('DOW', o_orderdate) + 1 AS BIGINT) AS dow_1_7
    FROM orders
    WHERE o_orderkey <= 200
    ORDER BY o_orderkey
    """,
    tags=("scalar", "datetime"),
    doc="date_part/from_unixtime/dayofweek (B8): session TZ pinned UTC so "
    "from_unixtime matches DuckDB strftime(to_timestamp); Spark DAYOFWEEK "
    "is 1=Sunday, DuckDB DOW is 0=Sunday — oracle shifts by one.",
)


sql_query(
    "array_functions3",
    """
    SELECT p_partkey,
           SORT_ARRAY(ARRAY_DISTINCT(ARRAY(p_size, p_size % 10, 5, p_size)))
             AS distinct_sorted,
           SORT_ARRAY(ARRAY_UNION(ARRAY(p_size, 1), ARRAY(5, p_size % 7)))
             AS union_sorted,
           SORT_ARRAY(ARRAY_INTERSECT(ARRAY(p_size, 5, 9),
                                      ARRAY(5, 9, p_size % 7)))
             AS intersect_sorted,
           CAST(CARDINALITY(ARRAY_REPEAT(p_size, 3)) AS INT) AS card3
    FROM part
    WHERE p_partkey <= 60
    ORDER BY p_partkey
    """,
    oracle="""
    SELECT p_partkey,
           LIST_SORT(LIST_DISTINCT([p_size, p_size % 10, 5, p_size]))
             AS distinct_sorted,
           LIST_SORT(LIST_DISTINCT([p_size, 1] || [5, p_size % 7]))
             AS union_sorted,
           LIST_SORT(LIST_INTERSECT([p_size, 5, 9], [5, 9, p_size % 7]))
             AS intersect_sorted,
           CAST(LEN([p_size, p_size, p_size]) AS INT) AS card3
    FROM part
    WHERE p_partkey <= 60
    ORDER BY p_partkey
    """,
    tags=("scalar", "array"),
    doc="Array set-ops (B8): array_distinct/union/intersect/repeat + "
    "cardinality, canonical-sorted for cross-engine determinism (DuckDB "
    "list_* equivalents; union = distinct of concat).",
)


sql_query(
    "scalar_nan_handling",
    """
    WITH v AS (
      SELECT p_partkey,
             CASE WHEN p_size % 3 = 0 THEN CAST('NaN' AS DOUBLE)
                  ELSE CAST(p_retailprice AS DOUBLE) END AS x
      FROM part WHERE p_partkey <= 80
    )
    SELECT p_partkey, ISNAN(x) AS is_nan,
           ROUND(NANVL(x, -1.0), 2) AS x_or_neg1
    FROM v
    ORDER BY p_partkey
    """,
    oracle="""
    WITH v AS (
      SELECT p_partkey,
             CASE WHEN p_size % 3 = 0 THEN CAST('NaN' AS DOUBLE)
                  ELSE CAST(p_retailprice AS DOUBLE) END AS x
      FROM part WHERE p_partkey <= 80
    )
    SELECT p_partkey, ISNAN(x) AS is_nan,
           ROUND(CASE WHEN ISNAN(x) THEN -1.0 ELSE x END, 2) AS x_or_neg1
    FROM v
    ORDER BY p_partkey
    """,
    tags=("scalar", "math", "nan"),
    doc="NaN plumbing (B8): isnan + nanvl (DuckDB lacks nanvl; oracle uses "
    "CASE WHEN isnan). NaN literal via CAST('NaN' AS DOUBLE) in both.",
)


def _recursive_spine_sql(dialect: str) -> str:
    step = (
        "add_months(mo, 1)" if dialect == "spark"
        else "CAST(mo + INTERVAL 1 MONTH AS DATE)"
    )
    return f"""
    WITH RECURSIVE spine(mo) AS (
      SELECT DATE '1995-01-01'
      UNION ALL
      SELECT {step} FROM spine WHERE mo < DATE '2001-08-01'
    ),
    monthly AS (
      SELECT CAST(date_trunc('MONTH', o_orderdate) AS TIMESTAMP) AS mo,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT CAST(s.mo AS TIMESTAMP) AS mo,
           COALESCE(n_orders, 0) AS n_orders
    FROM spine s LEFT JOIN monthly m ON CAST(s.mo AS TIMESTAMP) = m.mo
    ORDER BY mo
    """


sql_query(
    "query_recursive_cte",
    _recursive_spine_sql("spark"),
    oracle=_recursive_spine_sql("duck"),
    tags=("query-structure", "recursive-cte"),
    doc="WITH RECURSIVE (B9): calendar month spine generated recursively, "
    "left-joined to monthly order counts with zero-fill — the gaps-in-"
    "time-series pattern. Spark 4 executes recursive CTEs natively (the "
    "reference's DataFusion 35 cannot; capability extension). The spine "
    "is driver-tiny; the fact side keeps its partial-agg shuffle.",
)


sql_query(
    "agg_higher_moments",
    """
    SELECT c_mktsegment,
           ROUND(skewness(c_acctbal), 6) AS skew,
           ROUND(kurtosis(c_acctbal), 6) AS kurt
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    oracle="""
    WITH mu AS (
      SELECT c_mktsegment,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE)
               / COUNT(*) AS m, COUNT(*) AS n
      FROM customer GROUP BY c_mktsegment
    ),
    dev AS (
      SELECT c.c_mktsegment,
             SUM((c_acctbal - m) * (c_acctbal - m)) AS m2,
             SUM((c_acctbal - m) * (c_acctbal - m) * (c_acctbal - m)) AS m3,
             SUM((c_acctbal - m) * (c_acctbal - m) * (c_acctbal - m)
                 * (c_acctbal - m)) AS m4,
             ANY_VALUE(n) AS n
      FROM customer c JOIN mu ON c.c_mktsegment = mu.c_mktsegment
      GROUP BY c.c_mktsegment
    )
    SELECT c_mktsegment,
           ROUND((m3 / n) / POWER(m2 / n, 1.5), 6) AS skew,
           ROUND(n * m4 / (m2 * m2) - 3, 6) AS kurt
    FROM dev
    ORDER BY c_mktsegment
    """,
    tags=("agg", "moments"),
    doc="skewness/kurtosis (B4): Spark's are population-biased while "
    "DuckDB's are sample-unbiased, so the oracle rebuilds Spark's exact "
    "formulas (m3/n / (m2/n)^1.5 and n*m4/m2^2 - 3) from two-pass "
    "decimal-mean central moments.",
)


sql_query(
    "scalar_try_arithmetic",
    """
    SELECT o_orderkey,
           try_divide(o_totalprice, o_orderkey % 3) AS div_maybe,
           try_add(9223372036854775807,
                   CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
             AS add_maybe,
           try_multiply(CAST(o_orderkey AS BIGINT), 2) AS mul_ok
    FROM orders
    WHERE o_orderkey <= 100
    ORDER BY o_orderkey
    """,
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL
                ELSE o_totalprice / (o_orderkey % 3) END AS div_maybe,
           CASE WHEN o_orderkey % 2 = 0 THEN NULL
                ELSE 9223372036854775807 END AS add_maybe,
           CAST(o_orderkey AS BIGINT) * 2 AS mul_ok
    FROM orders
    WHERE o_orderkey <= 100
    ORDER BY o_orderkey
    """,
    tags=("scalar", "ansi", "try"),
    doc="try_divide/try_add/try_multiply (B2 ANSI-mode surface): NULL "
    "instead of error on /0 and int64 overflow. DuckDB has no try_* "
    "arithmetic; the oracle encodes the same NULL conditions explicitly.",
)


sql_query(
    "scalar_higher_order_functions",
    """
    SELECT p_partkey,
           filter(sequence(1, p_size), x -> x % 3 = 0) AS div3,
           exists(sequence(1, p_size), x -> x * x = 16) AS has_sqrt16,
           forall(sequence(1, p_size), x -> x <= p_size) AS all_in_range,
           aggregate(sequence(1, p_size), CAST(0 AS BIGINT),
                     (acc, x) -> acc + x * x) AS sum_squares,
           transform(slice(sequence(1, p_size), 1, 3),
                     x -> x * 10) AS first3_x10,
           zip_with(slice(sequence(1, p_size), 1, 3),
                    array(1, 2, 3), (a, b) -> a * b) AS zipped
    FROM part
    WHERE p_partkey <= 50 AND p_size >= 4
    ORDER BY p_partkey
    """,
    oracle="""
    SELECT p_partkey,
           list_filter(range(1, p_size + 1), x -> x % 3 = 0) AS div3,
           list_bool_or(list_transform(range(1, p_size + 1),
                                       x -> x * x = 16)) AS has_sqrt16,
           list_bool_and(list_transform(range(1, p_size + 1),
                                        x -> x <= p_size)) AS all_in_range,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, p_size + 1),
                               x -> CAST(x * x AS BIGINT))),
                (acc, v) -> acc + v) AS BIGINT) AS sum_squares,
           list_transform(range(1, 4), x -> x * 10) AS first3_x10,
           list_transform(range(1, 4), i -> i * i) AS zipped
    FROM part
    WHERE p_partkey <= 50 AND p_size >= 4
    ORDER BY p_partkey
    """,
    tags=("scalar", "array", "higher-order"),
    doc="Lambda higher-order functions (B8): filter/exists/forall/"
    "aggregate/transform/zip_with. DuckDB mirrors via list_* (bool_or/"
    "bool_and over transforms for exists/forall; reduce with a prepended "
    "zero for the fold seed; zip_with of 1..3 by 1,2,3 == i*i).",
)


sql_query(
    "join_null_safe_eq",
    """
    WITH a AS (
      SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
      FROM customer WHERE c_custkey <= 120
    ),
    b AS (
      SELECT NULLIF(s, 'BUILDING') AS seg, tag FROM (
        VALUES ('BUILDING', 'b'), ('MACHINERY', 'm'), ('HOUSEHOLD', 'h')
      ) AS t(s, tag)
    )
    SELECT c_custkey, a.seg, b.tag
    FROM a JOIN b ON a.seg <=> b.seg
    ORDER BY c_custkey, tag
    """,
    oracle="""
    WITH a AS (
      SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
      FROM customer WHERE c_custkey <= 120
    ),
    b AS (
      SELECT NULLIF(s, 'BUILDING') AS seg, tag FROM (
        VALUES ('BUILDING', 'b'), ('MACHINERY', 'm'), ('HOUSEHOLD', 'h')
      ) AS t(s, tag)
    )
    SELECT c_custkey, a.seg, b.tag
    FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
    ORDER BY c_custkey, tag
    """,
    tags=("join", "null-safe"),
    doc="Null-safe equality join (B3): Spark's <=> operator (NULL keys "
    "match NULL keys) == standard IS NOT DISTINCT FROM in DuckDB. Planned "
    "as a hash join — the null bucket joins like any other key.",
)


sql_query(
    "sample_tablesample_bounds",
    """
    SELECT COUNT(*) > 3000 AND COUNT(*) < 9000 AS within_bounds,
           bool_and(l_orderkey >= 0) AS sane_rows
    FROM lineitem TABLESAMPLE (10 PERCENT)
    """,
    oracle="""
    SELECT COUNT(*) > 3000 AND COUNT(*) < 9000 AS within_bounds,
           bool_and(l_orderkey >= 0) AS sane_rows
    FROM lineitem USING SAMPLE 10 PERCENT (bernoulli)
    """,
    tags=("sampling", "tablesample"),
    doc="TABLESAMPLE (B2): engine sampling is nondeterministic by design, "
    "so the oracle matches on PROPERTIES — a generous count interval "
    "around 10% of ~60k fixture rows (binomial sigma ~75, bounds at "
    "~30 sigma) and row sanity. For deterministic splits use the "
    "md5-hash samplers instead.",
)


sql_query(
    "query_lateral_correlated",
    """
    SELECT n_name, t.c_custkey, t.c_acctbal
    FROM nation, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) t
    ORDER BY n_name, t.c_custkey
    """,
    oracle="""
    SELECT n_name, t.c_custkey, t.c_acctbal
    FROM nation, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) t
    ORDER BY n_name, t.c_custkey
    """,
    tags=("query-structure", "lateral"),
    doc="Correlated LATERAL subquery with per-outer-row ORDER BY + LIMIT "
    "(B9): top-2 customers per nation. Catalyst decorrelates it to a "
    "ranked window join — same text runs on both engines.",
)


sql_query(
    "agg_filter_clause",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_all,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8)))
                FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS sum_f,
           CAST(MIN(o_orderkey) FILTER (WHERE o_custkey % 2 = 0)
                AS BIGINT) AS min_even_cust
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("agg", "filter-clause"),
    doc="ANSI aggregate FILTER (WHERE ...) clauses (B4) — identical "
    "syntax in both engines; plans as conditional partial aggregation, "
    "no extra scan per filtered aggregate.",
)


sql_query(
    "agg_grouping_function",
    """
    SELECT COALESCE(o_orderstatus, '<all>') AS status,
           COALESCE(o_orderpriority, '<all>') AS priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT)
             AS gid,
           COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    ORDER BY gid, status, priority
    """,
    oracle="""
    SELECT COALESCE(o_orderstatus, '<all>') AS status,
           COALESCE(o_orderpriority, '<all>') AS priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT)
             AS gid,
           COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    ORDER BY gid, status, priority
    """,
    tags=("agg", "grouping-id"),
    doc="GROUPING()/GROUPING_ID() over ROLLUP (B4): distinguishes 'real "
    "NULL group' from 'subtotal row' — the standard way to label "
    "super-aggregate rows.",
)


sql_query(
    "agg_group_by_all",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS s
    FROM orders
    WHERE o_orderkey <= 5000
    GROUP BY ALL
    ORDER BY ALL
    """,
    tags=("agg", "group-by-all"),
    doc="GROUP BY ALL / ORDER BY ALL (B4 modern shorthand, DuckDB-"
    "pioneered, Spark 4 native): groups by every non-aggregate select "
    "item, orders by the full select list.",
)


sql_query(
    "agg_approx_percentile_bound",
    """
    WITH exact AS (
      SELECT percentile(o_totalprice, 0.5) AS p50,
             percentile(o_totalprice, 0.95) AS p95
      FROM orders
    ),
    approx AS (
      SELECT approx_percentile(o_totalprice, 0.5) AS a50,
             approx_percentile(o_totalprice, 0.95) AS a95
      FROM orders
    )
    SELECT ABS(a50 / p50 - 1.0) < 0.05 AS p50_within_5pct,
           ABS(a95 / p95 - 1.0) < 0.05 AS p95_within_5pct
    FROM exact, approx
    """,
    oracle="""
    WITH exact AS (
      SELECT quantile_cont(o_totalprice, 0.5) AS p50,
             quantile_cont(o_totalprice, 0.95) AS p95
      FROM orders
    ),
    approx AS (
      SELECT approx_quantile(o_totalprice, 0.5) AS a50,
             approx_quantile(o_totalprice, 0.95) AS a95
      FROM orders
    )
    SELECT ABS(a50 / p50 - 1.0) < 0.05 AS p50_within_5pct,
           ABS(a95 / p95 - 1.0) < 0.05 AS p95_within_5pct
    FROM exact, approx
    """,
    tags=("agg", "approx", "percentile"),
    doc="approx_percentile oracled by PROPERTY (each engine's sketch "
    "within 5% of its exact interpolated quantile) — same pattern as the "
    "HLL bound; raw sketch values differ across engines by design.",
)


sql_query(
    "query_distribute_sort_by",
    """
    SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS qty
    FROM lineitem
    WHERE l_orderkey <= 500
    DISTRIBUTE BY l_orderkey SORT BY l_orderkey, l_linenumber
    """,
    oracle="""
    SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS qty
    FROM lineitem
    WHERE l_orderkey <= 500
    """,
    tags=("query-structure", "distribute-by"),
    doc="Spark's physical-distribution SQL clauses (DISTRIBUTE BY = hash "
    "repartition, SORT BY = per-partition sort — together CLUSTER BY): "
    "same multiset as the plain scan, locally ordered within partitions. "
    "The driver's hash compare is row-order-insensitive, so the plain "
    "SELECT oracles the content while the clauses exercise the exchange.",
)


sql_query(
    "scalar_splitpart_makedate",
    """
    SELECT o_orderkey,
           split_part(o_orderpriority, '-', 1) AS prio_num,
           split_part(o_orderpriority, '-', 2) AS prio_word,
           CAST(make_date(2020 + CAST(o_orderkey % 5 AS INT),
                          CAST(o_orderkey % 12 AS INT) + 1,
                          CAST(o_orderkey % 28 AS INT) + 1)
                AS TIMESTAMP) AS synth_date
    FROM orders
    WHERE o_orderkey <= 150
    ORDER BY o_orderkey
    """,
    oracle="""
    SELECT o_orderkey,
           split_part(o_orderpriority, '-', 1) AS prio_num,
           split_part(o_orderpriority, '-', 2) AS prio_word,
           CAST(make_date(2020 + CAST(o_orderkey % 5 AS INT),
                          CAST(o_orderkey % 12 AS INT) + 1,
                          CAST(o_orderkey % 28 AS INT) + 1)
                AS TIMESTAMP) AS synth_date
    FROM orders
    WHERE o_orderkey <= 150
    ORDER BY o_orderkey
    """,
    tags=("scalar", "string", "datetime"),
    doc="split_part + make_date (B8 close-out): same names/semantics in "
    "both engines; DATE cast to TIMESTAMP for hash parity (cookbook).",
)
