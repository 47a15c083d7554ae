"""operators/globalorder.py: global row numbers / running totals / NTILE
must match the single-partition window forms exactly in BOTH arms (the
single window below the size gate, the distributed prefix above it), the
arms must agree row for row and type for type, and the heavy arm's
physical plans must contain NO SinglePartition exchange (the
anti-pattern that arm exists to remove)."""

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import bdt_spark.operators.globalorder as go
from bdt_spark.operators.cacheutil import release
from bdt_spark.operators.globalorder import ntile_from_index, with_global_order
from bdt_spark.sources.io import (
    FIXTURE_TABLES,
    load_fixture_tables,
    plan_scan_bytes,
)

GO_QUERIES = (
    "features_quantile_binning",
    "customer_rfm_segmentation",
    "lineitem_pareto_abc",
    "quality_split_drift_ks",
    "text_feature_auc_mann_whitney",
)

# WINDOW_MAX_BYTES values that force each arm for a bounded input
ARMS = {"window": 1 << 62, "heavy": 0}


def _arms(monkeypatch):
    """Yield each arm's name with the gate set to force it."""
    for arm, limit in ARMS.items():
        monkeypatch.setattr(go, "WINDOW_MAX_BYTES", limit)
        yield arm


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _scalars(res, totals, n):
    """(n_rows, {out: grand total}) read back from the returned Columns;
    (0, all None) on empty input, where no row carries them."""
    rows = res.select(
        n.alias("__n"), *[c.alias(k) for k, c in totals.items()]
    ).limit(1).collect()
    if not rows:
        return 0, {k: None for k in totals}
    return rows[0]["__n"], {k: rows[0][k] for k in totals}


def _reference(spark, df, order):
    """The single-partition forms globalorder replaces (fine in a test
    at toy scale)."""
    w = Window.orderBy(*order)
    return df.withColumn("ref_rn", F.row_number().over(w)).withColumn(
        "ref_cum",
        F.sum("val").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def test_index_and_running_sum_match_window(spark, monkeypatch):
    df = spark.range(0, 10_000).select(
        (F.col("id") * 2654435761 % 1000).alias("k"),
        F.col("id").alias("tie"),
        ((F.col("id") * 37) % 101).cast("long").alias("val"),
    )
    order = [F.col("k").asc(), F.col("tie").asc()]
    ref = _reference(spark, df, order)
    [last] = ref.orderBy(F.col("ref_rn").desc()).limit(1).collect()
    for arm in _arms(monkeypatch):
        res, totals, n = with_global_order(
            df, order, running={"cum": "val"}, index_col="rn"
        )
        n_rows, tot = _scalars(res, totals, n)
        assert n_rows == 10_000, arm
        joined = res.join(ref, ["k", "tie", "val"])
        bad = joined.filter(
            (F.col("rn") != F.col("ref_rn"))
            | (F.col("cum") != F.col("ref_cum"))
        ).count()
        assert bad == 0, arm
        assert tot["cum"] == last["ref_cum"], arm
        release(res)


def test_decimal_running_sum_exact(spark, monkeypatch):
    from decimal import Decimal

    df = spark.range(1, 5_001).select(
        F.col("id").alias("tie"),
        (F.col("id") % 997).cast("decimal(30,8)").alias("val"),
    )
    order = [F.col("tie").asc()]
    expect = sum(i % 997 for i in range(1, 5_001))
    for arm in _arms(monkeypatch):
        res, totals, n = with_global_order(df, order, running={"cum": "val"})
        [r] = res.orderBy(F.col("tie").desc()).limit(1).collect()
        assert r["cum"] == Decimal(expect), arm
        assert _scalars(res, totals, n)[1]["cum"] == Decimal(expect), arm
        release(res)


def test_running_sum_with_nulls_matches_window(spark, monkeypatch):
    """SUM OVER ignores NULLs: partitions whose prefix is all-NULL must
    inherit the broadcast offset, not null it out (r10 advice item)."""
    # vals NULL for the whole first third of the order → early range
    # partitions have NULL local prefixes while later offsets are non-NULL,
    # and (reversed) non-NULL locals meet a NULL offset in partition 0.
    df = spark.range(0, 9_000).select(
        F.col("id").alias("tie"),
        F.when(F.col("id") >= 3_000, (F.col("id") % 7).cast("long")).alias(
            "val"
        ),
    )
    for arm in _arms(monkeypatch):
        for order in ([F.col("tie").asc()], [F.col("tie").desc()]):
            res, totals, n = with_global_order(
                df, order, running={"cum": "val"}
            )
            n_rows, tot = _scalars(res, totals, n)
            assert n_rows == 9_000, arm
            w = Window.orderBy(*order).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            ref = df.withColumn("ref_cum", F.sum("val").over(w))
            bad = (
                res.join(ref.select("tie", "ref_cum"), "tie", "full")
                .filter(~F.col("cum").eqNullSafe(F.col("ref_cum")))
                .count()
            )
            assert bad == 0, arm
            assert tot["cum"] == sum(i % 7 for i in range(3_000, 9_000)), arm
            release(res)


def test_running_sum_all_null(spark, monkeypatch):
    df = spark.range(0, 2_000).select(
        F.col("id").alias("tie"),
        F.lit(None).cast("long").alias("val"),
    )
    for arm in _arms(monkeypatch):
        res, totals, n = with_global_order(
            df, [F.col("tie").asc()], running={"cum": "val"}
        )
        assert _scalars(res, totals, n) == (2_000, {"cum": None}), arm
        assert res.filter(F.col("cum").isNotNull()).count() == 0, arm
        release(res)


@pytest.mark.parametrize("n_rows,k", [(100, 4), (103, 4), (7, 10), (1, 3)])
def test_ntile_formula_matches_window_ntile(spark, monkeypatch, n_rows, k):
    df = spark.range(n_rows).select(F.col("id").alias("tie"))
    order = [F.col("tie").asc()]
    ref = df.withColumn("t_ref", F.ntile(k).over(Window.orderBy("tie")))
    for arm in _arms(monkeypatch):
        res, _, n = with_global_order(df, order, index_col="rn")
        got = res.withColumn("t", ntile_from_index("rn", n, k))
        bad = (
            got.join(ref, "tie")
            .filter(F.col("t") != F.col("t_ref"))
            .count()
        )
        assert bad == 0, arm
        release(res)


def test_empty_input(spark, monkeypatch):
    df = spark.range(0).select(
        F.col("id").alias("tie"), F.col("id").alias("val")
    )
    schemas = {}
    for arm in _arms(monkeypatch):
        res, totals, n = with_global_order(
            df, [F.col("tie").asc()], running={"cum": "val"}, index_col="rn"
        )
        assert _scalars(res, totals, n) == (0, {"cum": None}), arm
        assert res.count() == 0, arm
        assert set(res.columns) >= {"tie", "val", "cum", "rn"}, arm
        schemas[arm] = res.schema
        release(res)
    assert schemas["window"] == schemas["heavy"]


def _both_arms(monkeypatch, df, order, **kw):
    """Run with_global_order in each arm; return {arm: (sorted rows,
    schema, n_rows, totals)}."""
    out = {}
    for arm in _arms(monkeypatch):
        res, totals, n = with_global_order(df, order, **kw)
        key = kw.get("index_col") or next(iter(kw["running"]))
        rows = res.orderBy(key).collect()
        out[arm] = (rows, res.schema, *_scalars(res, totals, n))
        release(res)
    return out


def test_arms_agree_null_and_nan_order_keys(spark, monkeypatch):
    """NULL and NaN sort keys: both arms order them exactly as Spark's
    ordering does (NULLs first/last per the sort expression, NaN above
    every double), so row numbers and prefixes agree."""
    df = spark.range(0, 600).select(
        F.col("id").alias("tie"),
        F.when(F.col("id") % 7 == 0, F.lit(None))
        .when(F.col("id") % 11 == 0, F.lit(float("nan")))
        .otherwise((F.col("id") % 13).cast("double"))
        .alias("x"),
        (F.col("id") % 5).alias("val"),
    )
    for order in (
        [F.col("x").asc_nulls_first(), F.col("tie").asc()],
        [F.col("x").desc_nulls_last(), F.col("tie").desc()],
    ):
        got = _both_arms(
            monkeypatch, df, order, running={"cum": "val"}, index_col="rn"
        )
        # NaN != NaN, so compare the rows with NaN spelled out
        nan_free = {
            arm: [
                tuple("NaN" if v != v else v for v in r) for r in rows
            ]
            for arm, (rows, *_rest) in got.items()
        }
        assert nan_free["window"] == nan_free["heavy"]
        assert [g[1:] for g in got.values()] == [got["heavy"][1:]] * 2
        ref = [
            r["ref_rn"]
            for r in _reference(spark, df, order).orderBy("tie").collect()
        ]
        win = sorted(got["window"][0], key=lambda r: r["tie"])
        assert [r["rn"] for r in win] == ref


def test_arms_agree_ties_broken_by_second_key(spark, monkeypatch):
    df = spark.range(0, 3_000).select(
        (F.col("id") % 4).alias("k"),
        (-F.col("id")).alias("tie"),
        (F.col("id") % 9).cast("int").alias("val"),
    )
    got = _both_arms(
        monkeypatch,
        df,
        [F.col("k").desc(), F.col("tie").asc()],
        running={"cum": "val"},
        index_col="rn",
    )
    assert got["window"] == got["heavy"]
    assert got["window"][2] == 3_000


def test_arms_agree_decimal_running_sum_type(spark, monkeypatch):
    """Decimal running sums keep the heavy arm's result type in the
    window arm, with values at full input scale (8 digits)."""
    df = spark.range(1, 2_001).select(
        F.col("id").alias("tie"),
        ((F.col("id") % 997) + F.lit(0.12345678)).cast("decimal(30,8)")
        .alias("val"),
    )
    got = _both_arms(
        monkeypatch, df, [F.col("tie").asc()], running={"cum": "val"}
    )
    assert got["window"] == got["heavy"]
    assert got["window"][1]["cum"].dataType == got["heavy"][1]["cum"].dataType


def test_gate_unbounded_plans_take_heavy_arm(spark, monkeypatch):
    """A plan whose rows the scanned bytes cannot bound (a generator, a
    join, an RDD scan) takes the heavy arm whatever its size; a bounded
    plan below the gate takes the window arm and persists nothing."""
    base = spark.range(0, 100).select(
        F.col("id").alias("tie"), F.col("id").alias("val")
    )
    assert plan_scan_bytes(base) == 800  # spark.range: 8 bytes a row
    unbounded = {
        "explode": base.select(
            "tie", F.explode(F.array("val", "val")).alias("val")
        ).withColumn("tie", F.monotonically_increasing_id()),
        "join": base.join(base.select("tie"), "tie"),
        "rdd": spark.createDataFrame(
            spark.sparkContext.parallelize([(i, i) for i in range(100)]),
            "tie long, val long",
        ),
    }
    # every size below the unbounded sentinel takes the window arm
    monkeypatch.setattr(go, "WINDOW_MAX_BYTES", 1 << 60)
    for name, df in {"bounded": base, **unbounded}.items():
        expect_heavy = name != "bounded"
        assert (plan_scan_bytes(df) == 1 << 60) == expect_heavy, name
        before = _persisted(spark)
        res, _, _ = with_global_order(
            df, [F.col("tie").asc()], index_col="rn"
        )
        assert (_persisted(spark) > before) == expect_heavy, name
        release(res)


def test_gate_reads_file_index_bytes(spark, sf_dir):
    """File scans report the file index's on-disk bytes, summed over
    every scan in the plan; so do the registered fixture views, at
    sf0.001 and sf0.01."""
    path = os.path.join(sf_dir, "orders.parquet")
    df = spark.read.parquet(path)
    size = os.path.getsize(path)
    assert plan_scan_bytes(df) == size
    assert plan_scan_bytes(df.groupBy("o_custkey").count()) == size
    assert plan_scan_bytes(df.unionByName(df)) == 2 * size

    sf001 = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    try:
        for d in (sf_dir, sf001):
            if not os.path.isdir(d):
                continue
            load_fixture_tables(spark, d)
            for t in FIXTURE_TABLES:
                size = os.path.getsize(os.path.join(d, f"{t}.parquet"))
                assert plan_scan_bytes(spark.table(t)) == size, (d, t)
    finally:
        load_fixture_tables(spark, sf_dir)


def test_rewritten_queries_have_no_single_partition_window(
    spark, sf_dir, monkeypatch
):
    """Above the size gate, the five r10 rewrites must stay free of
    corpus-sized Exchange SinglePartition stages — the one-task global
    sort/window the heavy arm exists to remove. The only SinglePartition
    allowed there is the final merge of a single-row aggregate (its input
    is one partial row per partition, bounded by partition count): the
    exchange's direct child must be a partial aggregate, never a
    scan/sort/window/project over data rows. At fixture scale the same
    queries take the window arm: no Spark job and no persist while the
    plan builds (the heavy arm always runs its stats job)."""
    import bdt_spark.plans as plans
    from bdt_spark.planaudit import single_partition_violations
    from bdt_spark.sources.io import load_fixture_tables

    load_fixture_tables(spark, sf_dir)
    sc = spark.sparkContext
    for name in GO_QUERIES:
        before = _persisted(spark)
        sc.setJobGroup("globalorder_build", name)
        try:
            df = plans.get_query(name).fn(spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert not sc.statusTracker().getJobIdsForGroup("globalorder_build"), (
            f"{name}: eager job in the window arm"
        )
        assert _persisted(spark) == before, name
        release(df)

    monkeypatch.setattr(go, "WINDOW_MAX_BYTES", 0)  # force the heavy arm
    for name in GO_QUERIES:
        df = plans.get_query(name).fn(spark, sf_dir)
        bad = single_partition_violations(df)
        assert not bad, (
            f"{name}: SinglePartition over non-aggregate children: {bad}"
        )
        release(df)


def test_queries_arms_agree_sf001(spark, sf_dir, monkeypatch):
    """At sf0.01 the five globalorder queries return identical rows and an
    identical schema from either arm."""
    import bdt_spark.plans as plans
    from bdt_spark.sources.io import load_fixture_tables

    sf001 = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if not os.path.isdir(sf001):
        pytest.skip("needs the sf0.01 fixtures")
    try:
        for name in GO_QUERIES:
            got = {}
            for arm in _arms(monkeypatch):
                df = plans.get_query(name).fn(spark, sf001)
                got[arm] = (df.schema, df.collect())
                release(df)
            assert got["window"] == got["heavy"], f"{name}: arms diverge"
    finally:
        load_fixture_tables(spark, sf_dir)
