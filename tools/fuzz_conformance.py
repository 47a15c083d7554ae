"""Seeded SQL-conformance fuzzer: generate random-but-deterministic
queries from a template grammar, run them on Spark AND DuckDB over the
same parquet fixtures, and compare results exactly.

This generalizes the per-query oracle gate: instead of the hand-written
pairs, it samples the (predicate x grouping x aggregate x ordering)
space plus joins (two- and three-table chains, FULL OUTER), window
functions (named windows, explicit ROWS/RANGE bounded frames,
FIRST/NTH_VALUE), set ops, scalar pipelines, date-part grouping,
IN/EXISTS/scalar subqueries, HAVING, CASE/NULLIF nests, GROUP BY ROLLUP
with GROUPING() flags, and LIMIT under a unique total order. The grammar
deliberately stays inside the engines' common deterministic subset
(cookbook rules): integer/string/date columns, decimal-cast sums for
anything summed, canonical ORDER BY with explicit NULLS ordering and a
unique key before any LIMIT, no floats except through
ROUND(decimal-cast).

Usage: python tools/fuzz_conformance.py [n_cases] [seed]
Exit 1 on the first mismatching case, printing the SQL for repro.
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLE_COLS = {
    "orders": {
        "int": ["o_orderkey", "o_custkey"],
        "str": ["o_orderstatus", "o_orderpriority"],
        "num": ["o_totalprice"],
    },
    "customer": {
        "int": ["c_custkey", "c_nationkey"],
        "str": ["c_mktsegment", "c_name"],
        "num": ["c_acctbal"],
    },
    "lineitem": {
        "int": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
        "str": ["l_returnflag", "l_linestatus"],
        "num": ["l_quantity", "l_extendedprice", "l_discount"],
    },
}


def gen_join_query(rng: random.Random) -> str:
    """orders x customer equi join with grouped aggregates."""
    ostat = rng.choice(["'O'", "'F'", "'P'"])
    gcol = rng.choice(["c_mktsegment", "c_nationkey", "o_orderstatus"])
    lim = rng.randint(500, 4000)
    aggs = rng.sample(
        [
            "COUNT(*) AS cnt",
            "CAST(MIN(o_orderkey) AS BIGINT) AS mn",
            "CAST(MAX(c_custkey) AS BIGINT) AS mx",
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS s",
            "CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS dn",
        ],
        k=rng.randint(2, 3),
    )
    how = rng.choice(["JOIN", "LEFT JOIN"])
    return (
        f"SELECT {gcol} AS g, {', '.join(aggs)} "
        f"FROM customer {how} orders ON c_custkey = o_custkey "
        f"AND o_orderstatus <> {ostat} "
        f"WHERE c_custkey <= {lim} "
        f"GROUP BY {gcol} ORDER BY g NULLS FIRST"
    )


def gen_window_query(rng: random.Random) -> str:
    """Ranking/offset windows with a unique total order (deterministic)."""
    part = rng.choice(["o_orderstatus", "o_orderpriority", "o_custkey % 10"])
    lim = rng.randint(100, 800)
    wfn = rng.sample(
        [
            "ROW_NUMBER() OVER w AS rn",
            "RANK() OVER w AS rk",
            "CAST(LAG(o_orderkey) OVER w AS BIGINT) AS lg",
            "CAST(LEAD(o_orderkey, 2) OVER w AS BIGINT) AS ld",
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) OVER "
            "(PARTITION BY {p} ORDER BY o_orderkey "
            "ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS rs",
        ],
        k=rng.randint(2, 3),
    )
    wfn = [w.replace("{p}", part) for w in wfn]
    return (
        f"SELECT o_orderkey, {', '.join(wfn)} FROM orders "
        f"WHERE o_orderkey <= {lim} "
        f"WINDOW w AS (PARTITION BY {part} ORDER BY o_orderkey) "
        f"ORDER BY o_orderkey NULLS FIRST"
    )


def gen_setop_query(rng: random.Random) -> str:
    """Set operations over aligned int projections."""
    op = rng.choice(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
    lim_a = rng.randint(200, 2000)
    lim_b = rng.randint(200, 2000)
    mod = rng.randint(2, 5)
    return (
        f"SELECT CAST(o_custkey AS BIGINT) AS k FROM orders "
        f"WHERE o_orderkey <= {lim_a} "
        f"{op} "
        f"SELECT CAST(c_custkey AS BIGINT) AS k FROM customer "
        f"WHERE c_custkey <= {lim_b} AND c_custkey % {mod} = 0 "
        f"ORDER BY k NULLS FIRST"
    )


def gen_scalar_query(rng: random.Random) -> str:
    """String/math scalar pipelines over a key-ordered projection."""
    lim = rng.randint(50, 300)
    exprs = rng.sample(
        [
            "upper(c_name) AS e1",
            "CAST(length(c_name) AS BIGINT) AS e2",
            "substr(c_name, 3, 6) AS e3",
            "concat(c_mktsegment, '|', c_name) AS e4",
            "replace(lower(c_name), 'customer', 'c') AS e5",
            "CAST(abs(c_nationkey - 12) AS BIGINT) AS e6",
            "lpad(c_mktsegment, 12, '.') AS e7",
            "reverse(c_name) AS e8",
            "md5(c_name) AS e9",
        ],
        k=rng.randint(3, 5),
    )
    return (
        f"SELECT c_custkey, {', '.join(sorted(exprs))} FROM customer "
        f"WHERE c_custkey <= {lim} ORDER BY c_custkey NULLS FIRST"
    )


def gen_date_query(rng: random.Random) -> str:
    """Date-part grouping over o_orderdate (timestamp in the fixture)."""
    part = rng.choice(["year", "month", "quarter"])
    lim = rng.randint(2000, 12000)
    aggs = rng.sample(
        [
            "COUNT(*) AS cnt",
            "CAST(MIN(o_orderkey) AS BIGINT) AS mn",
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS s",
        ],
        k=2,
    )
    return (
        f"SELECT CAST(date_part('{part}', o_orderdate) AS BIGINT) AS g, "
        f"{', '.join(aggs)} FROM orders WHERE o_orderkey <= {lim} "
        f"GROUP BY 1 ORDER BY g NULLS FIRST"
    )


def gen_subquery_query(rng: random.Random) -> str:
    """IN / NOT IN / EXISTS subqueries and scalar-subquery predicates."""
    lim = rng.randint(300, 3000)
    form = rng.choice(["in", "not_in", "exists", "scalar"])
    if form == "in":
        pred = (
            f"o_custkey IN (SELECT c_custkey FROM customer "
            f"WHERE c_mktsegment = 'BUILDING' AND c_custkey <= {lim})"
        )
    elif form == "not_in":
        pred = (
            f"o_custkey NOT IN (SELECT c_custkey FROM customer "
            f"WHERE c_acctbal < 0 AND c_custkey <= {lim})"
        )
    elif form == "exists":
        pred = (
            "EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = "
            f"o_custkey AND c.c_nationkey % {rng.randint(2, 5)} = 0)"
        )
    else:
        pred = (
            "o_totalprice > (SELECT CAST(SUM(CAST(c_acctbal AS "
            "DECIMAL(30,8))) AS DOUBLE) / COUNT(*) FROM customer)"
        )
    return (
        f"SELECT o_orderstatus AS g, COUNT(*) AS cnt, "
        f"CAST(MIN(o_orderkey) AS BIGINT) AS mn "
        f"FROM orders WHERE o_orderkey <= {lim * 3} AND {pred} "
        f"GROUP BY o_orderstatus ORDER BY g NULLS FIRST"
    )


def gen_having_query(rng: random.Random) -> str:
    """HAVING over conditional (CASE) aggregates — exercises the
    filter-after-aggregate path plus CASE inside agg buffers."""
    lim = rng.randint(2000, 12000)
    gcol = rng.choice(["o_orderstatus", "o_orderpriority"])
    status = rng.choice(["'O'", "'F'", "'P'"])
    hmin = rng.randint(5, 60)
    aggs = rng.sample(
        [
            "COUNT(*) AS cnt",
            f"CAST(SUM(CASE WHEN o_orderstatus = {status} THEN 1 ELSE 0 "
            "END) AS BIGINT) AS flagged",
            "CAST(SUM(CASE WHEN o_custkey % 2 = 0 THEN CAST(o_totalprice "
            "AS DECIMAL(30,8)) ELSE 0 END) AS DOUBLE) AS even_rev",
            "CAST(MAX(o_orderkey) AS BIGINT) AS mx",
        ],
        k=rng.randint(2, 3),
    )
    return (
        f"SELECT {gcol} AS g, {', '.join(sorted(aggs))} FROM orders "
        f"WHERE o_orderkey <= {lim} GROUP BY {gcol} "
        f"HAVING COUNT(*) >= {hmin} ORDER BY g NULLS FIRST"
    )


def gen_case_projection_query(rng: random.Random) -> str:
    """Nested CASE / COALESCE / NULLIF projections — the null-semantics
    corner both engines must agree on exactly."""
    lim = rng.randint(100, 800)
    mod = rng.randint(2, 6)
    exprs = rng.sample(
        [
            f"CASE WHEN c_nationkey % {mod} = 0 THEN 'even' "
            "WHEN c_acctbal < 0 THEN 'debt' ELSE 'other' END AS c1",
            f"COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'B') AS c2",
            f"CAST(CASE WHEN c_custkey % {mod} = 1 THEN NULL "
            "ELSE c_nationkey END AS BIGINT) AS c3",
            "ifnull(NULLIF(upper(c_mktsegment), 'MACHINERY'), 'M') AS c4",
            f"CASE c_nationkey % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' "
            "ELSE 'c' END AS c5",
        ],
        k=rng.randint(2, 4),
    )
    return (
        f"SELECT c_custkey, {', '.join(sorted(exprs))} FROM customer "
        f"WHERE c_custkey <= {lim} ORDER BY c_custkey NULLS FIRST"
    )


def gen_threeway_rollup_query(rng: random.Random) -> str:
    """customer x orders x lineitem chain join under GROUP BY ROLLUP —
    exercises join reordering across three tables plus the grouping-set
    null rows both engines must emit identically (GROUPING() flags make
    a real NULL group distinguishable from a rollup subtotal)."""
    lim = rng.randint(500, 4000)
    g1 = rng.choice(["c_mktsegment", "c_nationkey % 5"])
    g2 = rng.choice(["o_orderstatus", "l_returnflag"])
    aggs = rng.sample(
        [
            "COUNT(*) AS cnt",
            "CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS sq",
            "CAST(MIN(l_orderkey) AS BIGINT) AS mn",
            "CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS dc",
        ],
        k=rng.randint(2, 3),
    )
    return (
        f"SELECT CAST({g1} AS STRING) AS g1, {g2} AS g2, "
        f"CAST(GROUPING({g1}) AS BIGINT) AS gf1, "
        f"CAST(GROUPING({g2}) AS BIGINT) AS gf2, {', '.join(aggs)} "
        f"FROM customer JOIN orders ON c_custkey = o_custkey "
        f"JOIN lineitem ON l_orderkey = o_orderkey "
        f"WHERE o_orderkey <= {lim} "
        f"GROUP BY ROLLUP({g1}, {g2}) "
        f"ORDER BY gf1, gf2, g1 NULLS FIRST, g2 NULLS FIRST"
    )


def gen_frame_window_query(rng: random.Random) -> str:
    """Explicit bounded window frames (ROWS and RANGE, preceding and
    following) plus FIRST_VALUE/NTH_VALUE — the frame-boundary semantics
    corner. o_orderkey is unique, so every frame is deterministic."""
    part = rng.choice(["o_orderstatus", "o_custkey % 7"])
    lim = rng.randint(150, 900)
    p, f = rng.randint(1, 5), rng.randint(0, 3)
    rng_w = rng.randint(2, 40)
    wfn = rng.sample(
        [
            f"CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) OVER "
            f"(PARTITION BY {part} ORDER BY o_orderkey "
            f"ROWS BETWEEN {p} PRECEDING AND {f} FOLLOWING) AS DOUBLE) AS ws",
            f"CAST(COUNT(*) OVER (PARTITION BY {part} ORDER BY o_orderkey "
            f"RANGE BETWEEN {rng_w} PRECEDING AND CURRENT ROW) AS BIGINT) "
            "AS rc",
            "CAST(FIRST_VALUE(o_orderkey) OVER w AS BIGINT) AS fv",
            "CAST(NTH_VALUE(o_orderkey, 2) OVER w AS BIGINT) AS nv",
            f"CAST(MAX(o_orderkey) OVER (PARTITION BY {part} "
            f"ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND "
            f"{f} FOLLOWING) AS BIGINT) AS mx",
        ],
        k=rng.randint(2, 3),
    )
    return (
        f"SELECT o_orderkey, {', '.join(sorted(wfn))} FROM orders "
        f"WHERE o_orderkey <= {lim} "
        f"WINDOW w AS (PARTITION BY {part} ORDER BY o_orderkey "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        f"ORDER BY o_orderkey NULLS FIRST"
    )


def gen_fullouter_limit_query(rng: random.Random) -> str:
    """FULL OUTER JOIN with per-side unmatched rows, then a LIMIT under a
    total order (unique key -> deterministic LIMIT in both engines)."""
    lim_o = rng.randint(500, 4000)
    lim_c = rng.randint(200, 1500)
    mod = rng.randint(2, 5)
    n = rng.randint(20, 200)
    return (
        f"SELECT CAST(COALESCE(c_custkey, o_custkey) AS BIGINT) AS k, "
        f"CAST(c_custkey IS NULL AS BOOLEAN) AS only_o, "
        f"CAST(o_custkey IS NULL AS BOOLEAN) AS only_c, "
        f"CAST(COALESCE(o_cnt, 0) AS BIGINT) AS oc "
        f"FROM (SELECT o_custkey, COUNT(*) AS o_cnt FROM orders "
        f"      WHERE o_orderkey <= {lim_o} GROUP BY o_custkey) o "
        f"FULL JOIN (SELECT c_custkey FROM customer "
        f"      WHERE c_custkey % {mod} = 0 AND c_custkey <= {lim_c}) c "
        f"ON c_custkey = o_custkey "
        f"ORDER BY k NULLS FIRST LIMIT {n}"
    )


def gen_struct_query(rng: random.Random) -> tuple[str, str]:
    """Struct construction + field access through an aggregate (r11 #8:
    the struct dialect corner was hand-written only). Spark named_struct
    vs DuckDB struct_pack; field access `.k` is common."""
    gcol = rng.choice(["o_orderstatus", "o_orderpriority"])
    lim = rng.randint(500, 4000)
    mod = rng.randint(2, 6)
    body = (
        f"SELECT g, CAST(MIN(s.k) AS BIGINT) AS mnk, "
        f"CAST(MAX(s.k) AS BIGINT) AS mxk, MIN(s.p) AS mnp "
        f"FROM (SELECT {gcol} AS g, {{mk}} AS s FROM orders "
        f"      WHERE o_orderkey <= {lim} AND o_custkey % {mod} = 0) t "
        f"GROUP BY g ORDER BY g NULLS LAST"
    )
    return (
        body.format(mk="named_struct('k', o_orderkey, 'p', o_orderpriority)"),
        body.format(mk="struct_pack(k := o_orderkey, p := o_orderpriority)"),
    )


def gen_map_query(rng: random.Random) -> tuple[str, str]:
    """Map construction, element extraction, and map_keys cardinality.
    Spark map(...) / element_at vs DuckDB MAP {...} / map_extract[1]
    (one-based list); map_keys is common but Spark SIZE vs DuckDB LEN."""
    key = rng.choice(["lo", "hi"])
    lim = rng.randint(500, 4000)
    gcol = rng.choice(["c_mktsegment", "c_nationkey % 4"])
    body = (
        f"SELECT {gcol} AS g, "
        f"CAST(SUM({{ext}}) AS BIGINT) AS sv, "
        f"CAST(MAX({{nk}}) AS BIGINT) AS nk "
        f"FROM customer WHERE c_custkey <= {lim} "
        f"GROUP BY {gcol} ORDER BY g NULLS LAST"
    )
    s_map = "map('lo', c_custkey % 10, 'hi', c_nationkey)"
    d_map = "MAP {'lo': c_custkey % 10, 'hi': c_nationkey}"
    return (
        body.format(ext=f"element_at({s_map}, '{key}')",
                    nk=f"SIZE(map_keys({s_map}))"),
        body.format(ext=f"map_extract({d_map}, '{key}')[1]",
                    nk=f"LEN(map_keys({d_map}))"),
    )


def gen_posexplode_query(rng: random.Random) -> tuple[str, str]:
    """Lateral positional explode of a split string. Spark LATERAL VIEW
    POSEXPLODE (0-based pos) vs DuckDB generate_subscripts+unnest zip
    (1-based) — normalized to pos1."""
    mod = rng.randint(3, 9)
    lim = rng.randint(200, 2000)
    spark_sql = (
        f"SELECT o_orderkey AS k, pos + 1 AS pos1, w "
        f"FROM orders LATERAL VIEW POSEXPLODE(SPLIT(o_orderpriority, '-')) "
        f"t AS pos, w "
        f"WHERE o_orderkey <= {lim} AND o_orderkey % {mod} = 0 "
        f"ORDER BY k, pos1"
    )
    duck_sql = (
        f"SELECT o_orderkey AS k, "
        f"CAST(generate_subscripts(string_split(o_orderpriority, '-'), 1) "
        f"     AS INT) AS pos1, "
        f"unnest(string_split(o_orderpriority, '-')) AS w "
        f"FROM orders "
        f"WHERE o_orderkey <= {lim} AND o_orderkey % {mod} = 0 "
        f"ORDER BY k, pos1"
    )
    return spark_sql, duck_sql


def gen_query(rng: random.Random) -> str | tuple[str, str]:
    r = rng.random()
    if r < 0.1:
        return gen_subquery_query(rng)
    if r < 0.18:
        return gen_date_query(rng)
    if r < 0.26:
        return gen_join_query(rng)
    if r < 0.32:
        return gen_window_query(rng)
    if r < 0.38:
        return gen_setop_query(rng)
    if r < 0.44:
        return gen_scalar_query(rng)
    if r < 0.50:
        return gen_having_query(rng)
    if r < 0.56:
        return gen_case_projection_query(rng)
    if r < 0.62:
        return gen_threeway_rollup_query(rng)
    if r < 0.68:
        return gen_frame_window_query(rng)
    if r < 0.74:
        return gen_fullouter_limit_query(rng)
    if r < 0.80:
        return gen_struct_query(rng)
    if r < 0.86:
        return gen_map_query(rng)
    if r < 0.92:
        return gen_posexplode_query(rng)
    table = rng.choice(list(TABLE_COLS))
    cols = TABLE_COLS[table]
    gcol = rng.choice(cols["str"] + cols["int"])
    icol = rng.choice(cols["int"])
    ncol = rng.choice(cols["num"])
    scol = rng.choice(cols["str"])

    preds = []
    if rng.random() < 0.7:
        preds.append(f"{icol} % {rng.randint(2, 7)} = {rng.randint(0, 1)}")
    if rng.random() < 0.5:
        preds.append(
            f"{scol} {rng.choice(['<', '>=', '<>'])} "
            f"'{rng.choice('ABCMNRST')}'"
        )
    if rng.random() < 0.4:
        preds.append(f"{icol} BETWEEN {rng.randint(0, 50)} AND "
                     f"{rng.randint(500, 5000)}")
    where = f"WHERE {' AND '.join(preds)}" if preds else ""

    aggs = rng.sample(
        [
            f"COUNT(*) AS cnt",
            f"CAST(COUNT(DISTINCT {icol}) AS BIGINT) AS dcnt",
            f"CAST(MIN({icol}) AS BIGINT) AS mn",
            f"CAST(MAX({icol}) AS BIGINT) AS mx",
            f"CAST(SUM(CAST({ncol} AS DECIMAL(30,8))) AS DOUBLE) AS s",
            f"MIN({scol}) AS smn",
        ],
        k=rng.randint(2, 4),
    )
    having = (
        f"HAVING COUNT(*) > {rng.randint(0, 3)}" if rng.random() < 0.4 else ""
    )
    return (
        f"SELECT {gcol} AS g, {', '.join(aggs)} FROM {table} {where} "
        f"GROUP BY {gcol} {having} ORDER BY g "
        + rng.choice(["NULLS FIRST", "NULLS LAST"])
    )


def run_case(spark, con, sql: str | tuple[str, str]) -> str | None:
    """Returns None on match, else a description of the mismatch.

    sql is either one common-subset text run on both engines, or a
    (spark_sql, duck_sql) pair for the dialect-divergent productions
    (struct/map/lateral)."""
    import math

    s_sql, d_sql = (sql, sql) if isinstance(sql, str) else sql
    s_rows = [tuple(r) for r in spark.sql(s_sql).collect()]
    d_rows = [tuple(r) for r in con.sql(d_sql).fetchall()]
    if len(s_rows) != len(d_rows):
        return f"row count {len(s_rows)} vs {len(d_rows)}"
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if len(a) != len(b):
            return f"row {i} width {len(a)} vs {len(b)}"
        for j, (x, y) in enumerate(zip(a, b)):
            if isinstance(x, float) and isinstance(y, float):
                ok = (math.isnan(x) and math.isnan(y)) or abs(x - y) < 1e-6
            else:
                # normalize int-ish types (DuckDB may hand back Decimal)
                ok = x == y
            if not ok:
                return f"row {i} col {j}: {x!r} != {y!r}"
    return None


def main() -> int:
    n_cases = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    sf_dir = "/root/testdata/sf0.01"

    import duckdb

    from bdt_spark.session import get_spark
    from bdt_spark.sources.io import load_fixture_tables

    spark = get_spark("fuzz_conformance")
    load_fixture_tables(spark, sf_dir)
    con = duckdb.connect()
    for t in TABLE_COLS:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    rng = random.Random(seed)
    failures = 0
    for i in range(n_cases):
        sql = gen_query(rng)
        try:
            diff = run_case(spark, con, sql)
        except Exception as e:
            diff = f"execution error: {e}"
        if diff:
            failures += 1
            print(f"FAIL case {i}: {diff}\n  {sql}")
        else:
            print(f"pass case {i}")
    print(f"{n_cases - failures}/{n_cases} conformant (seed={seed})")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
