"""Compare-engine tests mirroring the reference's diff-reporting paths
(SURVEY §5 item 3: count mismatch compare.rs:66, row diff compare.rs:47,
epsilon pass/fail compare.rs:31-45)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bdt_spark.operators.compare import compare_files


@pytest.fixture()
def files(tmp_path):
    def write(name, data):
        p = str(tmp_path / name)
        pq.write_table(pa.table(data), p)
        return p

    return write


def test_equal_files(files):
    a = files("a.parquet", {"x": [1, 2, 3], "y": [1.0, 2.0, 3.0]})
    b = files("b.parquet", {"x": [1, 2, 3], "y": [1.0, 2.0, 3.0]})
    assert compare_files(None, a, b).ok


def test_count_mismatch(files):
    a = files("a.parquet", {"x": [1, 2, 3]})
    b = files("b.parquet", {"x": [1, 2]})
    res = compare_files(None, a, b)
    assert not res.ok and "3 != 2" in res.message


def test_value_diff_first_wins(files):
    a = files("a.parquet", {"x": [1, 2, 3], "y": ["a", "b", "c"]})
    b = files("b.parquet", {"x": [1, 9, 8], "y": ["a", "b", "z"]})
    res = compare_files(None, a, b)
    assert not res.ok
    assert "Row 1" in res.message and "position 0" in res.message


def test_epsilon_absolute(files):
    # the reference's signed-epsilon bug (compare.rs:36) would pass l-r=-5;
    # ours must fail it (SURVEY compare semantics note).
    a = files("a.parquet", {"y": [1.0, 5.0]})
    b = files("b.parquet", {"y": [1.0005, 10.0]})
    assert compare_files(None, a, b, epsilon=0.01).ok is False
    assert compare_files(None, a, b, epsilon=0.01).message.startswith("Row 1")
    c = files("c.parquet", {"y": [1.0005, 5.001]})
    assert compare_files(None, a, c, epsilon=0.01).ok


def test_nulls_and_timestamps(files):
    # types the reference's RowIter todo!()s on (utils.rs:193-196)
    import datetime as dt

    ts = [dt.datetime(2024, 1, 1), None]
    a = files("a.parquet", {"t": ts, "n": [None, 2]})
    b = files("b.parquet", {"t": ts, "n": [None, 2]})
    assert compare_files(None, a, b).ok
    c = files("c.parquet", {"t": ts, "n": [1, 2]})
    res = compare_files(None, a, c)
    assert not res.ok and "Row 0" in res.message


def test_hash_mode_distributed(spark, files):
    a = files("a.parquet", {"x": [3, 1, 2], "y": [1.0, 2.0, 3.0]})
    b = files("b.parquet", {"x": [1, 2, 3], "y": [2.0, 3.0, 1.0]})
    # same multiset of rows in different order -> hash mode passes
    assert compare_files(spark, a, b, method="hash").ok
    c = files("c.parquet", {"x": [1, 2, 4], "y": [2.0, 3.0, 1.0]})
    assert not compare_files(spark, a, c, method="hash").ok


def test_csv_compare(files, tmp_path):
    p1 = str(tmp_path / "x.csv")
    p2 = str(tmp_path / "y.csv")
    for p in (p1, p2):
        with open(p, "w") as f:
            f.write("a,b\n1,foo\n2,bar\n")
    assert compare_files(None, p1, p2).ok


def test_first_diff_is_row_major(files):
    # earlier row in a LATER column must win over a later row in an
    # earlier column (reference zips rows, compare.rs:27)
    a = files("rm_a.parquet", {"x": [1, 2, 3], "y": ["a", "b", "c"]})
    b = files("rm_b.parquet", {"x": [1, 2, 9], "y": ["a", "Z", "c"]})
    res = compare_files(None, a, b)
    assert not res.ok
    assert "Row 1" in res.message and "position 1" in res.message


@pytest.mark.slow
def test_hash_mode_epsilon(spark, files):
    a = files("ha.parquet", {"k": [1, 2], "y": [1.00004, 2.0]})
    b = files("hb.parquet", {"k": [1, 2], "y": [1.00001, 2.0]})
    assert compare_files(spark, a, b, epsilon=0.001, method="hash").ok
    res = compare_files(spark, a, b, epsilon=1e-7, method="hash")
    assert not res.ok


def test_hash_mode_epsilon_boundary_pairs_exact(spark, files):
    """Pairs straddling a rounding boundary with |diff| << eps must PASS:
    the old round-to-ceil(-log10(eps))-digits scheme bucketed 0.0014999
    and 0.0015001 differently at eps=1e-3 (rounds to 0.001 vs 0.002) and
    false-mismatched. The sort-zip mode compares |l-r| < eps exactly."""
    a = files("bp_a.parquet", {"k": [1, 2], "y": [0.0014999, 7.0]})
    b = files("bp_b.parquet", {"k": [1, 2], "y": [0.0015001, 7.0]})
    # positional mode accepts (the semantics baseline)
    assert compare_files(None, a, b, epsilon=1e-3).ok
    # distributed mode must agree now
    assert compare_files(spark, a, b, epsilon=1e-3, method="hash").ok


@pytest.mark.slow
def test_hash_mode_epsilon_null_vs_value_differ(spark, files):
    """A NULL float against a value is a MISMATCH. Regression: the
    three-valued |l-r|<eps predicate evaluated to NULL for such a pair,
    and a NULL verdict was skipped by the SUM and dropped by the filter
    — i.e. silently counted as a match ('Files match' on differing
    files)."""
    a = files("en_a.parquet", {"k": [1, 2], "y": [1.0, 2.0]})
    b = files("en_b.parquet", {"k": [1, 2], "y": [1.0, None]})
    res = compare_files(spark, a, b, epsilon=0.001, method="hash")
    assert not res.ok
    # symmetric direction too (NULL on the left)
    assert not compare_files(spark, b, a, epsilon=0.001, method="hash").ok
    # both NULL stays a match
    c = files("en_c.parquet", {"k": [1, 2], "y": [1.0, None]})
    assert compare_files(spark, b, c, epsilon=0.001, method="hash").ok


@pytest.mark.slow
def test_hash_mode_epsilon_with_map_column(spark, tmp_path):
    """Epsilon mode must not apply eqNullSafe to map columns (Spark
    defines no map ordering and rejects the comparison); maps compare by
    canonical entry arrays, as in the exact hash mode."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "k": [1, 2],
            "y": [1.0, 2.0],
            "m": pa.array(
                [{"a": 1, "b": 2}, {"c": 3}],
                type=pa.map_(pa.string(), pa.int64()),
            ),
        }
    )
    a, b = str(tmp_path / "ma.parquet"), str(tmp_path / "mb.parquet")
    pq.write_table(t, a)
    pq.write_table(t, b)
    assert compare_files(spark, a, b, epsilon=0.001, method="hash").ok
    # differing map -> mismatch
    t2 = pa.table(
        {
            "k": [1, 2],
            "y": [1.0, 2.0],
            "m": pa.array(
                [{"a": 1, "b": 2}, {"c": 4}],
                type=pa.map_(pa.string(), pa.int64()),
            ),
        }
    )
    c = str(tmp_path / "mc.parquet")
    pq.write_table(t2, c)
    assert not compare_files(spark, a, c, epsilon=0.001, method="hash").ok


@pytest.mark.slow
def test_hash_mode_epsilon_order_insensitive(spark, files):
    """Epsilon mode keys the zip on the canonical sort, not file order:
    same rows shuffled with eps-noise still match; a beyond-eps value
    still fails with a counted diff."""
    a = files("eo_a.parquet", {"k": [3, 1, 2], "y": [30.0, 10.0, 20.0]})
    b = files("eo_b.parquet", {"k": [1, 2, 3], "y": [10.00004, 20.0, 29.99996]})
    assert compare_files(spark, a, b, epsilon=1e-3, method="hash").ok
    c = files("eo_c.parquet", {"k": [1, 2, 3], "y": [10.0, 20.5, 30.0]})
    res = compare_files(spark, a, c, epsilon=1e-3, method="hash")
    assert not res.ok and "1 of 3 rows differ" in res.message


def test_epsilon_index_plan_is_distributed_jvm_only(spark, monkeypatch):
    """Above the globalorder size gate the global index must come from
    range partitions + per-partition row_number: no single-task global
    window. In either arm no RDD/Python round-trip (rdd.zipWithIndex
    pipes every row through Python). This 80 KB input is below the gate,
    so by default it takes the window arm: one ordered window."""
    import bdt_spark.operators.globalorder as go
    from bdt_spark.operators.cacheutil import release
    from bdt_spark.operators.compare import _zip_global_index

    df = spark.range(10_000).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) / 7 AS y"
    )
    for arm in ("window", "heavy"):
        if arm == "heavy":
            monkeypatch.setattr(go, "WINDOW_MAX_BYTES", 0)
        indexed, cached = _zip_global_index(spark, df)
        try:
            plan = indexed._jdf.queryExecution().executedPlan().toString()
            # the DATA path must not round-trip through an RDD (the tiny
            # driver-built offsets table is a legitimate LocalTableScan
            # on the broadcast side) and no Python evaluation may appear
            assert "Scan ExistingRDD[k" not in plan
            assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
            # heavy: no 1-task window; window: exactly that, by design
            assert ("Exchange SinglePartition" in plan) == (arm == "window")
            # dense, unique, 0-based
            stats = indexed.selectExpr(
                "COUNT(*) AS n",
                "COUNT(DISTINCT __idx) AS d",
                "MIN(__idx) AS mn",
                "MAX(__idx) AS mx",
            ).first()
            assert (stats.n, stats.d, stats.mn, stats.mx) == (
                10_000, 10_000, 0, 9_999
            ), arm
        finally:
            release(cached)


@pytest.mark.parametrize("arm", ["window", "heavy"])
def test_hash_mode_epsilon_count_mismatch_message(spark, files, monkeypatch, arm):
    """The epsilon compare's one aggregate counts both sides: unequal
    counts give the count message, not a row diff, in either arm."""
    import bdt_spark.operators.globalorder as go

    monkeypatch.setattr(go, "WINDOW_MAX_BYTES", {"window": 1 << 62, "heavy": 0}[arm])
    a = files("ecm_a.parquet", {"k": [1, 2, 3], "y": [0.5, 1.5, 2.5]})
    b = files("ecm_b.parquet", {"k": [1, 2], "y": [0.5, 1.5]})
    res = compare_files(spark, a, b, epsilon=1e-3, method="hash")
    assert not res.ok and res.message == "Row counts do not match: 3 != 2"
    res = compare_files(spark, b, a, epsilon=1e-3, method="hash")
    assert not res.ok and res.message == "Row counts do not match: 2 != 3"


def test_epsilon_compare_arms_agree_sf001(spark, sf_dir, tmp_path, monkeypatch):
    """compare --epsilon on the sf0.01 supplier table gives the same
    verdict and message from either globalorder arm: on an identical
    copy, on a copy with one cell moved past epsilon, and on a copy
    missing a row."""
    import bdt_spark.operators.globalorder as go

    src = os.path.join(
        os.path.dirname(sf_dir.rstrip("/")), "sf0.01", "supplier.parquet"
    )
    if not os.path.exists(src):
        pytest.skip("needs the sf0.01 fixtures")
    table = pq.read_table(src)
    same = str(tmp_path / "same.parquet")
    pq.write_table(table, same)
    moved = str(tmp_path / "moved.parquet")
    bal = table.column("s_acctbal").to_pylist()
    bal[17] = bal[17] + 1
    pq.write_table(
        table.set_column(
            table.column_names.index("s_acctbal"),
            "s_acctbal",
            pa.array(bal, table.schema.field("s_acctbal").type),
        ),
        moved,
    )
    short = str(tmp_path / "short.parquet")
    pq.write_table(table.slice(1), short)
    got = {}
    for arm, limit in (("window", 1 << 62), ("heavy", 0)):
        monkeypatch.setattr(go, "WINDOW_MAX_BYTES", limit)
        got[arm] = [
            (r.ok, r.message)
            for r in (
                compare_files(spark, src, other, epsilon=1e-6, method="hash")
                for other in (same, moved, short)
            )
        ]
    assert got["window"] == got["heavy"]
    assert [ok for ok, _ in got["window"]] == [True, False, False]


def test_hash_mode_count_mismatch_message(spark, files):
    a = files("cm_a.parquet", {"x": [1, 2, 3]})
    b = files("cm_b.parquet", {"x": [1, 2]})
    res = compare_files(spark, a, b, method="hash")
    assert not res.ok and "Row counts do not match: 3 != 2" in res.message


def test_hash_mode_null_vs_value_differ(spark, files):
    a = files("nz_a.parquet", {"x": [1, None], "y": ["a", "b"]})
    b = files("nz_b.parquet", {"x": [1, 2], "y": ["a", "b"]})
    assert not compare_files(spark, a, b, method="hash").ok
    c = files("nz_c.parquet", {"x": [None, 1], "y": ["b", "a"]})
    assert compare_files(spark, a, c, method="hash").ok


def test_hash_mode_single_pass_plan(spark, files):
    """The hash diff must be ONE pass: md5-count aggregation per side +
    full-outer join on the hash — no ExceptAll, and the join adds no
    exchange beyond the two per-side aggregation shuffles (+1 single-
    partition exchange for the final scalar aggregate)."""
    from bdt_spark.operators.compare import _hash_diff_stats

    a = files("sp_a.parquet", {"x": [1, 2, 3], "y": [1.0, 2.0, 3.0]})
    df = spark.read.parquet(a)
    plan = _hash_diff_stats(df, df)._jdf.queryExecution().executedPlan().toString()
    assert "Except" not in plan
    n_exchanges = plan.count("Exchange")
    # 2 per-side hash-aggregate shuffles + 1 SinglePartition for the
    # final one-row aggregate; a 4th would mean the join re-shuffled
    assert n_exchanges <= 3, plan


def test_hash_mode_negative_zero_equal(spark, files):
    a = files("z_a.parquet", {"k": [1, 2], "y": [-0.0, 1.5]})
    b = files("z_b.parquet", {"k": [1, 2], "y": [0.0, 1.5]})
    assert compare_files(spark, a, b, method="hash").ok


def test_hash_mode_map_entry_order_equal(spark, tmp_path):
    """Equal maps hash equal regardless of physical entry order."""
    from pyspark.sql import functions as F

    a = str(tmp_path / "m_a.parquet")
    b = str(tmp_path / "m_b.parquet")
    spark.range(1).select(
        F.create_map(F.lit("a"), F.lit(1), F.lit("b"), F.lit(2)).alias("m")
    ).write.parquet(a)
    spark.range(1).select(
        F.create_map(F.lit("b"), F.lit(2), F.lit("a"), F.lit(1)).alias("m")
    ).write.parquet(b)
    assert compare_files(spark, a, b, method="hash").ok
    # and genuinely different maps still differ
    c = str(tmp_path / "m_c.parquet")
    spark.range(1).select(
        F.create_map(F.lit("a"), F.lit(9), F.lit("b"), F.lit(2)).alias("m")
    ).write.parquet(c)
    assert not compare_files(spark, a, c, method="hash").ok


@pytest.mark.slow
def test_hash_mode_epsilon_nonfloat_sort_prevents_cross_zip(spark, files):
    """The adversarial bipartite construction from the in-code caveat:
    eps-close float values whose order REVERSES across rows with
    different non-float keys. A float-first canonical sort would zip
    k='a' against k='b' (false reject); sorting the exact columns first
    pins the pairing, so only genuinely float-tied rows can ever
    cross-zip."""
    a = files("cz_a.parquet", {"k": ["a", "b"], "y": [1.0000, 1.0001]})
    b = files("cz_b.parquet", {"k": ["a", "b"], "y": [1.0001, 1.0000]})
    # true match: per-key |diff| = 1e-4 < eps
    assert compare_files(spark, a, b, epsilon=0.01, method="hash").ok
    # negative control: same shape, per-key diff beyond eps must fail
    c = files("cz_c.parquet", {"k": ["a", "b"], "y": [1.5, 1.0000]})
    assert not compare_files(spark, a, c, epsilon=0.01, method="hash").ok


@pytest.mark.slow
def test_hash_mode_epsilon_float_tied_rows_rematch(spark, files):
    """The former residual (VERDICT r9 #6): rows IDENTICAL on all
    non-float columns with two anti-correlated float columns. A perfect
    bipartite matching exists (r1<->s1, r2<->s2) but any sort-based zip
    pairs r1 with s2 — the second-chance per-group matching must now
    resolve it EXACTLY in both directions, and still reject when the
    matching genuinely does not exist."""
    a = files(
        "ft_a.parquet",
        {"k": [1, 1], "x": [0.00, 0.05], "y": [0.0, 1.0]},
    )
    b = files(
        "ft_b.parquet",
        {"k": [1, 1], "x": [0.05, 0.00], "y": [0.0, 1.0]},
    )
    assert compare_files(spark, a, b, epsilon=0.08, method="hash").ok
    assert compare_files(spark, b, a, epsilon=0.08, method="hash").ok
    # negative control: same shape but one float beyond eps — the group
    # has NO perfect matching and must still reject (both directions)
    c = files(
        "ft_c.parquet",
        {"k": [1, 1], "x": [0.05, 0.20], "y": [0.0, 1.0]},
    )
    assert not compare_files(spark, a, c, epsilon=0.08, method="hash").ok
    assert not compare_files(spark, c, a, epsilon=0.08, method="hash").ok


@pytest.mark.slow
def test_hash_mode_epsilon_rematch_duplicate_exact_prefixes(spark, files):
    """VERDICT r9 #6 'done' condition: duplicate exact-column prefixes +
    epsilon floats passing both directions. Three rows share k='dup';
    the float columns are a cyclic eps-perturbation whose sorted orders
    differ across sides; a fourth row with a different key pins that
    cross-group pairs stay impossible."""
    a = files(
        "dp_a.parquet",
        {
            "k": ["dup", "dup", "dup", "other"],
            "x": [0.00, 0.05, 0.10, 9.0],
            "y": [1.0, 0.0, 0.5, 9.0],
        },
    )
    # true pairing: (0.00,1.0)<->(0.06,1.0), (0.05,0.0)<->(0.02,0.0),
    # (0.10,0.5)<->(0.12,0.5) — all |dx| <= 0.06 < eps. Sorted-by-x zip
    # instead pairs (0.00,1.0) with (0.02,0.0): y off by 1.0 -> the zip
    # flags it bad and ONLY the rematch can accept.
    b = files(
        "dp_b.parquet",
        {
            "k": ["dup", "dup", "dup", "other"],
            "x": [0.02, 0.06, 0.12, 9.0],
            "y": [0.0, 1.0, 0.5, 9.0],
        },
    )
    assert compare_files(spark, a, b, epsilon=0.08, method="hash").ok
    assert compare_files(spark, b, a, epsilon=0.08, method="hash").ok
    # group-size mismatch inside the tied key must reject: move one
    # 'dup' row to 'other'
    c = files(
        "dp_c.parquet",
        {
            "k": ["dup", "dup", "other", "other"],
            "x": [0.02, 0.06, 0.12, 9.0],
            "y": [0.0, 1.0, 0.5, 9.0],
        },
    )
    assert not compare_files(spark, a, c, epsilon=0.08, method="hash").ok


@pytest.mark.slow
def test_hash_mode_epsilon_rematch_big_group_small_components_certifies(
    spark, files
):
    """VERDICT r11 #7: a float-tied GROUP far past _REMATCH_CAP whose
    eps-connected components are tiny must CERTIFY, not refuse — the r11
    cap refused any oversized group outright, which made a legitimate
    100 TB compare with one hot float-tied key uncertifiable. 1100 tiles
    of the anti-correlated cross-zip pair (each forces the rematch; each
    is x-separated from its neighbors by 10 >> eps) form a 2200-row
    group that decomposes into 2-row blocks and matches exactly."""
    from bdt_spark.operators import compare as cmp_mod

    tiles = (cmp_mod._REMATCH_CAP // 2) + 100  # group size = 2200 > cap
    xs_a, ys_a, xs_b, ys_b = [], [], [], []
    for t in range(tiles):
        base = 10.0 * t
        xs_a += [base + 0.00, base + 0.05]
        ys_a += [0.0, 1.0]
        xs_b += [base + 0.05, base + 0.00]
        ys_b += [0.0, 1.0]
    a = files(
        "bigcomp_a.parquet", {"k": [1] * len(xs_a), "x": xs_a, "y": ys_a}
    )
    b = files(
        "bigcomp_b.parquet", {"k": [1] * len(xs_b), "x": xs_b, "y": ys_b}
    )
    assert compare_files(spark, a, b, epsilon=0.08, method="hash").ok
    # negative control at the same size: push one tile's y beyond eps so
    # exactly one 2-row component has no perfect matching -> files differ
    # (a reject, NOT a refuse)
    ys_c = list(ys_b)
    ys_c[-1] = 1.2
    c = files(
        "bigcomp_c.parquet", {"k": [1] * len(xs_b), "x": xs_b, "y": ys_c}
    )
    res = compare_files(spark, a, c, epsilon=0.08, method="hash")
    assert not res.ok


@pytest.mark.slow
def test_hash_mode_epsilon_rematch_component_cap_raises(spark, files):
    """A single DENSE eps-connected component past _REMATCH_CAP is the
    one remaining non-exact corner: every float column is an unbroken
    eps-chain, so no per-column split can break it and the O(V*E)
    matching is refused with a loud ValueError naming the cap — never a
    silent accept, and never a silent reject either (the construction
    may well match within epsilon).

    x steps by eps/2 (one unbroken chain); y cycles {0.0, 0.05, 0.10} —
    pairwise gaps 0.05 < eps keep the y-chain connected, while the b
    side's shifted cycle makes some zipped pairs differ by 0.10 >= eps,
    forcing the rematch path."""
    from bdt_spark.operators import compare as cmp_mod

    n = cmp_mod._REMATCH_CAP + 1
    cyc = [0.0, 0.05, 0.10]
    a = files(
        "densecap_a.parquet",
        {
            "k": [1] * n,
            "x": [i * 0.04 for i in range(n)],
            "y": [cyc[i % 3] for i in range(n)],
        },
    )
    b = files(
        "densecap_b.parquet",
        {
            "k": [1] * n,
            "x": [i * 0.04 for i in range(n)],
            "y": [cyc[(i + 1) % 3] for i in range(n)],
        },
    )
    with pytest.raises(ValueError, match="_REMATCH_CAP"):
        compare_files(spark, a, b, epsilon=0.08, method="hash")


@pytest.mark.slow
def test_hash_mode_epsilon_rematch_null_vs_nan_not_merged(spark, files):
    """Arrow folds float64 NULL into NaN on the pandas side; the rematch
    tracks nullness in explicit flags, so a NULL float must still match
    only NULL and a NaN only NaN — never each other — even inside a
    float-tied group that goes through the matching pass."""
    # the anti-correlated (x, y) pair forces a bad zip, so the whole
    # group — including the null-x row — goes through the matching pass
    a = files(
        "nn_a.parquet",
        {"k": [1, 1, 1], "x": [0.00, 0.05, None], "y": [1.0, 0.0, 5.0]},
    )
    b = files(
        "nn_b.parquet",
        {"k": [1, 1, 1], "x": [0.04, 0.01, None], "y": [1.0, 0.0, 5.0]},
    )
    assert compare_files(spark, a, b, epsilon=0.08, method="hash").ok
    # same shape but the null becomes a REAL NaN: a's null row has no
    # partner, so the group has no perfect matching -> reject. A rematch
    # that let Arrow's null->NaN folding merge the two would
    # false-accept here.
    c = files(
        "nn_c.parquet",
        {
            "k": [1, 1, 1],
            "x": [0.04, 0.01, float("nan")],
            "y": [1.0, 0.0, 5.0],
        },
    )
    assert not compare_files(spark, a, c, epsilon=0.08, method="hash").ok
    assert not compare_files(spark, c, a, epsilon=0.08, method="hash").ok
    # and NaN itself must still round-trip: NaN matches NaN
    d = files(
        "nn_d.parquet",
        {
            "k": [1, 1, 1],
            "x": [0.00, 0.05, float("nan")],
            "y": [1.0, 0.0, 5.0],
        },
    )
    assert compare_files(spark, c, d, epsilon=0.08, method="hash").ok


def _map_table(x, y, entries, value_type=pa.int64()):
    return pa.table(
        {
            "x": pa.array(x, type=pa.float64()),
            "y": pa.array(y, type=pa.float64()),
            "m": pa.array(entries, type=pa.map_(pa.string(), value_type)),
        }
    )


@pytest.mark.slow
def test_hash_mode_epsilon_rematch_map_entry_order(spark, files, tmp_path):
    """Maps inside a float-tied group fold into the rematch group key as
    canonical sorted entries (r10 advice item): equal maps stored with
    different physical entry order must match, and genuinely different
    maps must still reject. The anti-correlated (x, y) pair forces every
    row through the matching pass."""
    cross_x, cross_y = [0.00, 0.05], [1.0, 0.0]

    def write(name, entries):
        p = str(tmp_path / name)
        pq.write_table(_map_table(cross_x, cross_y, entries), p)
        return p

    a = write("mo_a.parquet", [[("a", 1), ("b", 2)], [("a", 1), ("b", 2)]])
    # same maps, reversed entry order; floats eps-swapped to force rematch
    b = str(tmp_path / "mo_b.parquet")
    pq.write_table(
        _map_table(
            [0.04, 0.01],
            [1.0, 0.0],
            [[("b", 2), ("a", 1)], [("b", 2), ("a", 1)]],
        ),
        b,
    )
    assert compare_files(spark, a, b, epsilon=0.08, method="hash").ok
    # genuinely different map values must still reject
    c = str(tmp_path / "mo_c.parquet")
    pq.write_table(
        _map_table(
            [0.04, 0.01],
            [1.0, 0.0],
            [[("b", 9), ("a", 1)], [("b", 2), ("a", 1)]],
        ),
        c,
    )
    assert not compare_files(spark, a, c, epsilon=0.08, method="hash").ok


@pytest.mark.slow
def test_hash_mode_epsilon_rematch_nan_map_entries(spark, files, tmp_path):
    """NaN-valued map entries were a documented fail-closed corner of the
    r10 rematch (pandas object equality: NaN != NaN). With maps in the
    Spark group key, NaN map values follow Spark's grouping equality
    (NaN == NaN), matching the zip predicate's eqNullSafe on sorted
    entries — so equal-up-to-NaN maps now certify instead of
    false-rejecting, and a NaN-vs-number difference still rejects."""
    nan = float("nan")

    def write(name, x, y, entries):
        p = str(tmp_path / name)
        pq.write_table(_map_table(x, y, entries, pa.float64()), p)
        return p

    a = write(
        "nm_a.parquet",
        [0.00, 0.05],
        [1.0, 0.0],
        [[("a", nan), ("b", 2.0)], [("a", nan), ("b", 2.0)]],
    )
    b = write(
        "nm_b.parquet",
        [0.04, 0.01],
        [1.0, 0.0],
        [[("b", 2.0), ("a", nan)], [("b", 2.0), ("a", nan)]],
    )
    assert compare_files(spark, a, b, epsilon=0.08, method="hash").ok
    c = write(
        "nm_c.parquet",
        [0.04, 0.01],
        [1.0, 0.0],
        [[("b", 2.0), ("a", 3.0)], [("b", 2.0), ("a", nan)]],
    )
    assert not compare_files(spark, a, c, epsilon=0.08, method="hash").ok


def test_auto_mode_size_gate(files, spark, monkeypatch, capsys):
    """VERDICT r13 #3: the default mode is size-gated — positional below
    _POSITIONAL_MAX_BYTES combined on-disk bytes (byte-exact reference
    semantics, no note), distributed hash above (with a stderr note on
    the switch). Both modes pinned equal-VERDICT on the same fixture
    pairs, mirroring the minhash/pmi gate-test pattern; explicit
    method= always wins over the gate."""
    import bdt_spark.operators.compare as cmp

    a = files("a.parquet", {"x": [1, 2, 3], "y": [1.0, 2.0, 3.0]})
    b = files("b.parquet", {"x": [1, 2, 3], "y": [1.0, 2.0, 3.0]})
    c = files("c.parquet", {"x": [1, 2, 9], "y": [1.0, 2.0, 3.0]})

    # below the gate: positional, no switch note; the mode that ran is
    # stamped on the result for programmatic callers (ADVICE r14)
    res = compare_files(spark, a, b)
    assert res.ok and res.method == "positional"
    assert "hash mode" not in capsys.readouterr().err

    # force the gate: tiny threshold -> auto picks hash, notes the switch
    monkeypatch.setattr(cmp, "_POSITIONAL_MAX_BYTES", 1)
    res = compare_files(spark, a, b)
    assert res.ok and res.method == "hash"
    assert "hash mode" in capsys.readouterr().err

    # equal VERDICT across the gate on a differing pair
    assert not compare_files(spark, a, c).ok          # hash (gated)
    monkeypatch.setattr(cmp, "_POSITIONAL_MAX_BYTES", 1 << 40)
    assert not compare_files(spark, a, c).ok          # positional (gated)

    # explicit method always wins over the gate
    monkeypatch.setattr(cmp, "_POSITIONAL_MAX_BYTES", 1)
    res = compare_files(spark, a, c, method="positional")
    assert not res.ok and "Row 2" in res.message      # positional detail
    assert compare_files(spark, a, b, method="positional").ok


def _json_copies(spark, sf_dir, tmp_path, table="supplier"):
    """A single-file and a part-file-directory JSON copy of a fixture,
    and a perturbed single-file copy (one s_acctbal moved by 1)."""
    from pyspark.sql import functions as F

    from bdt_spark.operators.convert import convert
    from bdt_spark.sources.io import read_file

    src = f"{sf_dir}/{table}.parquet"
    one = str(tmp_path / f"{table}.json")
    many = str(tmp_path / f"{table}_dir.json")
    convert(spark, src, one, single_file=True)
    convert(spark, src, many)
    bad_src = str(tmp_path / f"{table}_bad.parquet")
    df = read_file(spark, src)
    key = df.agg(F.min("s_suppkey")).first()[0]
    df.withColumn(
        "s_acctbal",
        F.when(F.col("s_suppkey") == key, F.col("s_acctbal") + 1).otherwise(
            F.col("s_acctbal")
        ),
    ).write.parquet(bad_src)
    bad = str(tmp_path / f"{table}_bad.json")
    convert(spark, bad_src, bad, single_file=True)
    return src, one, many, bad


def test_hash_and_epsilon_compare_json_copies(spark, sf_dir, tmp_path):
    """A JSON copy's columns need not come in its source's order: Spark's
    writer drops null fields, so a column null in the first row reads
    last. Hash and epsilon compare realign the JSON side by name, so a
    JSON copy (single file or part directory) matches its source and a
    perturbed one does not, in either argument order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bdt_spark.operators.convert import convert
    from bdt_spark.sources.io import read_file

    src, one, many, bad = _json_copies(spark, sf_dir, tmp_path)
    # a source whose row 0 has a null in a middle column
    t = pq.read_table(src)
    i = t.column_names.index("s_name")
    name = t.column(i).to_pylist()
    t = t.set_column(i, "s_name", pa.array([None] + name[1:], t.column(i).type))
    holed = str(tmp_path / "holed.parquet")
    pq.write_table(t, holed)
    holed_copy = str(tmp_path / "holed.json")
    convert(spark, holed, holed_copy, single_file=True)
    assert read_file(spark, holed_copy).columns[-1] == "s_name"
    pairs = [(src, one), (src, many), (holed, holed_copy)]
    for eps in (None, 1e-6):
        for source, copy in pairs:
            for a, b in ((source, copy), (copy, source)):
                res = compare_files(spark, a, b, method="hash", epsilon=eps)
                assert res.ok, (a, b, eps, res.message)
        res = compare_files(spark, src, bad, method="hash", epsilon=eps)
        assert not res.ok, res.message


def test_positional_compare_realigns_json_side_by_name(files, tmp_path):
    """Positional compare (and `auto` at this size) realigns a JSON side by
    name as hash compare does: a parquet source whose row 0 is null in a
    middle column matches its JSON copy, which lacks that key on its first
    line, in either argument order; a changed value still differs."""
    src = files("src.parquet", {"a": [1, 2], "b": [None, "x"], "c": ["u", "v"]})

    def write_json(name, lines):
        p = str(tmp_path / name)
        with open(p, "w") as f:
            f.write("\n".join(lines) + "\n")
        return p

    copy = write_json("copy.json", ['{"a":1,"c":"u"}', '{"a":2,"b":"x","c":"v"}'])
    bad = write_json("bad.json", ['{"a":1,"c":"u"}', '{"a":2,"b":"y","c":"v"}'])
    for method in ("positional", "auto"):
        for a, b in ((src, copy), (copy, src)):
            res = compare_files(None, a, b, method=method)
            assert res.ok and res.method == "positional", (a, b, res.message)
        for a, b in ((src, bad), (bad, src)):
            res = compare_files(None, a, b, method=method)
            assert not res.ok and "Row 1" in res.message, res.message


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_positional_compare_reads_part_file_directory(
    spark, sf_dir, tmp_path, fmt
):
    """The default convert output is a part-file directory; positional
    (and auto) compare reads its part files in partition order, as it
    does an orc directory."""
    from bdt_spark.operators.convert import convert

    src = str(tmp_path / "nation3.parquet")
    spark.read.parquet(f"{sf_dir}/nation.parquet").repartition(3).write.parquet(
        src
    )
    out = str(tmp_path / f"nation.{fmt}")
    convert(spark, src, out)
    assert len([n for n in os.listdir(out) if n.startswith("part-")]) > 1
    # the single-file output of the same scan has the directory's row
    # order (the parquet source's file order is Spark's scan order, which
    # need not be its part-name order)
    single = str(tmp_path / f"nation_one.{fmt}")
    convert(spark, src, single, single_file=True)
    for method in ("positional", "auto"):
        res = compare_files(None, single, out, method=method)
        assert res.ok and res.method == "positional", res.message
    assert compare_files(spark, src, out, method="hash").ok


def test_positional_compare_parses_json_times(spark, sf_dir, tmp_path):
    """A single-file json copy of orders holds o_orderdate as ISO text
    with a zone offset; positional compare parses it into the parquet
    side's timestamp type in either argument order, and a copy with one
    perturbed cell still reports its first differing row."""
    import json

    from bdt_spark.operators.convert import convert

    src = os.path.join(
        os.path.dirname(sf_dir.rstrip("/")), "sf0.01", "orders.parquet"
    )
    if not os.path.exists(src):
        pytest.skip("needs the sf0.01 fixtures")
    copy = str(tmp_path / "orders.json")
    convert(spark, src, copy, single_file=True)
    for a, b in ((src, copy), (copy, src)):
        res = compare_files(None, a, b, method="positional")
        assert res.ok, (a, b, res.message)

    with open(copy) as f:
        rows = [json.loads(line) for line in f]
    rows[7]["o_orderdate"] = "1970-01-02T00:00:00.000Z"
    bad = str(tmp_path / "orders_bad.json")
    with open(bad, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)
    for a, b in ((src, bad), (bad, src)):
        res = compare_files(None, a, b, method="positional")
        assert not res.ok
        assert res.message.startswith("Row 7 does not match."), res.message
        assert res.message.endswith("at position 4"), res.message


def test_positional_compare_list_columns(sf_dir, tmp_path):
    """List columns compare by per-row null flag and length, then by
    their flattened values: sf0.01 embeddings match themselves, and one
    perturbed vector element reports its row and column."""
    src = os.path.join(
        os.path.dirname(sf_dir.rstrip("/")), "sf0.01", "embeddings.parquet"
    )
    if not os.path.exists(src):
        pytest.skip("needs the sf0.01 fixtures")
    res = compare_files(None, src, src)
    assert res.ok and res.method == "positional", res.message

    t = pq.read_table(src)
    vecs = t.column("embedding").to_pylist()
    vecs[37][5] += 0.5
    bad = str(tmp_path / "embeddings_bad.parquet")
    pq.write_table(
        t.set_column(1, "embedding", pa.array(vecs, t.schema.field(1).type)),
        bad,
    )
    for a, b in ((src, bad), (bad, src)):
        res = compare_files(None, a, b)
        assert res.message.startswith("Row 37 does not match."), res.message
        assert res.message.endswith("at position 1"), res.message
    # within epsilon the perturbed element matches
    assert compare_files(None, src, bad, epsilon=1.0).ok


_NAN = float("nan")


@pytest.mark.parametrize(
    "right,row",
    [
        ([[[1.0]], None, [], [[2.0, _NAN]]], None),
        ([[[1.0]], [], [], [[2.0, _NAN]]], 1),  # null vs empty
        ([[[1.0]], None, [[3.0]], [[2.0, _NAN]]], 2),  # length
        ([[[1.0]], None, [], [[2.0, 0.0]]], 3),  # nested value
    ],
)
def test_positional_compare_nested_list_shapes(files, right, row):
    typ = pa.list_(pa.list_(pa.float64()))
    left = [[[1.0]], None, [], [[2.0, _NAN]]]
    a = files("a.parquet", {"v": pa.array(left, typ)})
    b = files("b.parquet", {"v": pa.array(right, typ)})
    res = compare_files(None, a, b)
    if row is None:
        assert res.ok, res.message
    else:
        assert res.message.startswith(f"Row {row} does not match."), res.message


_STRUCT = pa.struct([("a", pa.int64()), ("b", pa.string())])
_MAP = pa.map_(pa.string(), pa.int64())


@pytest.mark.parametrize(
    "typ,left,right,row",
    [
        (_STRUCT, [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}],
         [{"a": 1, "b": "x"}, {"a": 2, "b": "z"}], 1),
        (_STRUCT, [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}],
         [None, {"a": 2, "b": "y"}], 0),
        (_MAP, [[("k", 1)], [("k", 2), ("j", 3)]],
         [[("k", 1)], [("k", 2), ("j", 4)]], 1),
        (_MAP, [[("k", 1)], [("k", 2), ("j", 3)]],
         [[("k", 1)], [("k", 2)]], 1),
    ],
    ids=["struct_value", "struct_null", "map_item", "map_length"],
)
def test_positional_compare_struct_and_map_columns(files, typ, left, right, row):
    """Struct columns compare field by field and map columns as lists of
    key/item entries: a file matches itself, and one changed value
    reports its row."""
    a = files("a.parquet", {"id": [0, 1], "v": pa.array(left, typ)})
    b = files("b.parquet", {"id": [0, 1], "v": pa.array(right, typ)})
    assert compare_files(None, a, a).message == "Files match"
    for x, y in ((a, b), (b, a)):
        res = compare_files(None, x, y)
        assert res.message.startswith(f"Row {row} does not match."), res.message
        assert res.message.endswith("at position 1"), res.message
