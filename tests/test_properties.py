"""Property-based tests (hypothesis) for the pure native pieces."""

import re

import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from bdt_spark.functions.datetime import parse_width_us
from bdt_spark.sources.io import sanitize_table_name


@given(st.text(max_size=60))
@settings(max_examples=200)
def test_sanitize_only_emits_word_chars(s):
    out = sanitize_table_name(s)
    assert re.fullmatch(r"[A-Za-z0-9_]*", out)
    assert len(out) == len(s)  # 1:1 replacement, like utils.rs:41-51


@given(
    st.integers(min_value=1, max_value=10_000),
    st.sampled_from(
        ["second", "seconds", "minute", "minutes", "hour", "hours", "day", "days"]
    ),
)
def test_parse_width_roundtrip(n, unit):
    us = parse_width_us(f"{n} {unit}")
    per = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[
        unit.rstrip("s")
    ]
    assert us == n * per * 1_000_000


@given(st.lists(st.floats(allow_nan=False, allow_infinity=False,
                          width=32), min_size=1, max_size=20))
@settings(deadline=None)  # first call pays arrow/fs warm-up latency
def test_compare_file_equals_itself(tmp_path_factory, xs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bdt_spark.operators.compare import compare_files

    p = str(tmp_path_factory.mktemp("prop") / "x.parquet")
    pq.write_table(pa.table({"x": pa.array(xs, type=pa.float32())}), p)
    assert compare_files(None, p, p).ok


@st.composite
def _asof_case(draw):
    keys = draw(st.lists(st.integers(0, 3), min_size=1, max_size=8))
    left = [
        (k, draw(st.integers(0, 100)), i) for i, k in enumerate(keys)
    ]
    right = [
        (draw(st.integers(0, 3)), draw(st.integers(0, 100)),
         draw(st.one_of(st.none(), st.floats(allow_nan=False))))
        for _ in range(draw(st.integers(0, 8)))
    ]
    return left, right


@settings(max_examples=15, deadline=None)
@given(_asof_case())
@pytest.mark.slow
def test_asof_matches_bruteforce(spark, case):
    import datetime as dt
    left_rows, right_rows = case
    base = dt.datetime(2024, 1, 1)
    to_ts = lambda s: base + dt.timedelta(seconds=s)  # noqa: E731

    from bdt_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(k, to_ts(t), i) for k, t, i in left_rows],
        "k int, ts timestamp, lid int",
    )
    right = spark.createDataFrame(
        [(k, to_ts(t), v) for k, t, v in right_rows],
        "k int, ts timestamp, v double",
    )
    got = {
        r.lid: (r.ts_r, r.v_r)
        for r in asof_join(left, right, on="k", suffix="_r").collect()
    }
    for k, t, lid in left_rows:
        matches = [
            (rt, rv) for rk, rt, rv in right_rows if rk == k and rt <= t
        ]
        if matches:
            # mirror the operator's DOCUMENTED tie-break (asof.py): among
            # right rows sharing the max ts, the greatest payload struct
            # wins, with NULL ordering below any value. Python's max()
            # alone would break ties by input order — an over-specified
            # oracle for an underdetermined input (caught by a fresh
            # hypothesis draw in r11).
            exp_t, exp_v = max(
                matches,
                key=lambda m: (m[0], m[1] is not None,
                               m[1] if m[1] is not None else 0.0),
            )
            assert got[lid] == (to_ts(exp_t), exp_v), f"lid={lid}"
        else:
            assert got[lid] == (None, None), f"lid={lid}"


@settings(max_examples=10, deadline=None)
@given(st.integers(0, 2**62), st.integers(0, 2**31))
def test_gcd_shim_matches_python(spark, a, b):
    import math

    from bdt_spark.functions.math import gcd_sql
    [row] = spark.sql(f"SELECT {gcd_sql(str(a), str(b))} AS g").collect()
    assert row.g == math.gcd(a, b)


@st.composite
def _global_order_case(draw):
    n = draw(st.integers(min_value=1, max_value=50))
    rows = [
        (
            i,
            draw(st.one_of(st.none(), st.integers(-1000, 1000))),
            draw(st.integers(0, 4)),
        )
        for i in range(n)
    ]
    return rows, draw(st.booleans())


@given(_global_order_case())
@settings(max_examples=8, deadline=None)
@pytest.mark.slow
def test_global_order_matches_window_form(spark, case):
    """operators/globalorder.py's range-partition + broadcast-offset
    running sums and row numbers must equal SUM/ROW_NUMBER() OVER a
    single-partition window bit-for-bit, for ANY total order and any
    null placement (hypothesis: the r10 module's core claim). A
    driver-list DataFrame scans an RDD, which the size gate cannot
    bound, so this runs the heavy arm."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bdt_spark.operators.cacheutil import release
    from bdt_spark.operators.globalorder import with_global_order

    rows, desc = case
    df = spark.createDataFrame(rows, "tie long, val long, grp long")
    tie = F.col("tie").desc() if desc else F.col("tie").asc()
    order = [F.col("grp").asc(), tie]  # total: tie is unique
    res, totals, n = with_global_order(
        df, order, running={"cum": "val"}, index_col="idx"
    )
    [got] = res.select(n.alias("n"), totals["cum"].alias("t")).limit(1).collect()
    assert got.n == len(rows)
    w = Window.orderBy(*order)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref = df.select(
        "tie",
        F.sum("val").over(wsum).alias("rcum"),
        F.row_number().over(w).cast("long").alias("ridx"),
    )
    bad = (
        res.join(ref, "tie")
        .filter(
            ~F.col("cum").eqNullSafe(F.col("rcum"))
            | (F.col("idx") != F.col("ridx"))
        )
        .count()
    )
    release(res)
    assert bad == 0
    py_total = sum(v for _, v, _ in rows if v is not None)
    expect = py_total if any(v is not None for _, v, _ in rows) else None
    assert got.t == expect
