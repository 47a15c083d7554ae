"""Registry smoke: every declared query runs at sf0.001 and returns a
DataFrame with a stable schema. Value-level correctness is the DuckDB
oracle gate (tools/check_oracle.py / driver t2)."""

import pytest

import bdt_spark.plans as plans

ALL = sorted(plans.all_queries())

# One-query-per-family sample for the quick iteration subset
# (`-m "not slow"`, VERDICT r13 #7): the full ~215-query smoke sweep is
# ~163 s and belongs in CI/judge runs, not every local loop. Family =
# primary tag; the sample is the sorted-first member of each, so it is
# deterministic and grows automatically with new families.
_SAMPLE = sorted(
    {
        (plans.get_query(n).tags or ("misc",))[0]: n
        for n in reversed(ALL)
    }.values()
)
_REST = [n for n in ALL if n not in set(_SAMPLE)]


def test_inventory_size():
    assert len(ALL) >= 80


def test_ledger_has_one_row_per_query():
    from tools.plan_ledger import read_ledger

    assert sorted(read_ledger()) == ALL


def _run_query_and_check(spark, sf_dir, name):
    """The query runs, its build jobs and plan shape match its
    plans/ledger.json row, AND it cleans up after itself: once the result
    is consumed and released (the standardized cacheutil ownership
    contract), no persisted RDDs may remain — operator-internal caches,
    checkpoint blocks, and eager-path results are all accounted for."""
    from bdt_spark.operators.cacheutil import release
    from bdt_spark.planaudit import ledger_row
    from tools.plan_ledger import read_ledger

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    df, live = ledger_row(spark, name, sf_dir)
    assert df.columns, name
    release(df)
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert after - before == set(), (
        f"{name} left persisted RDDs behind: {sorted(after - before)}"
    )
    want = read_ledger().get(name, {})
    drift = [
        (name, col, want.get(col, 0), live.get(col, 0))
        for col in sorted(set(want) | set(live))
        if want.get(col, 0) != live.get(col, 0)
    ]
    assert not drift, (
        "plan shape differs from plans/ledger.json; (query, column, "
        f"ledger, live): {drift}. If the change is intended, regenerate "
        f"the ledger: python tools/plan_ledger.py {sf_dir}"
    )


@pytest.mark.parametrize("name", _SAMPLE)
def test_query_runs_sample(spark, sf_dir, name):
    _run_query_and_check(spark, sf_dir, name)


@pytest.mark.slow
@pytest.mark.parametrize("name", _REST)
def test_query_runs(spark, sf_dir, name):
    _run_query_and_check(spark, sf_dir, name)


def test_bench_stable_set_frozen():
    """bench.py's STABLE_SET is the frozen r01 23-metric comparison set
    (VERDICT r10 #1). Cross-round `stable_set_total` numbers are only
    comparable if this list NEVER changes — pin its exact content. If
    this test fails, you edited STABLE_SET: revert; new queries belong
    in HEADLINE/PIPELINE, which feed the growing full total."""
    import hashlib
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench import STABLE_SET

    assert len(STABLE_SET) == 23
    digest = hashlib.sha256("\n".join(STABLE_SET).encode()).hexdigest()
    assert digest == (
        "eca19c14c92d8a8be52d5d652556b515b1c4d956fd50d9d1ae1d9832a5617f60"
    ), "STABLE_SET content changed — it must stay the frozen r01 list"


def test_bench_line_fits_driver_capture():
    """VERDICT r15 #5: the driver records only the last ~2000 bytes of
    bench stdout; BENCH_r14 arrived front-truncated past parseability.
    render_line must shed scaled-point maps and precision so the final
    JSON line stays inside the capture budget even at 70+ queries —
    and must still parse with every driver-required field."""
    import json
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench import render_line

    queries = {f"operator_family_query_name_{i:02d}": 12.345 for i in range(75)}
    out = {
        "metric": "headline_queries_total",
        "value": 123.456,
        "unit": "sec",
        "stable_set_total": 12.345,
        "common_set_round": "r15",
        "common_set_n": 62,
        "common_set_total": 56.403,
        "common_set_total_prev": 51.76,
        "queries": dict(queries),
        "sf": "0.1",
        "reps": 3,
        "protocol": "median",
        "sf1_queries": {k: v for k, v in list(queries.items())[:18]},
        "sf1_total": 65.084,
        "sf10_queries": {k: v for k, v in list(queries.items())[:9]},
        "sf10_total": 180.5,
    }
    line = render_line(out)
    parsed = json.loads(line)
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in parsed
    assert len(parsed["queries"]) == 75  # shed diagnostics, never queries
    # the scaled-point maps were shed (sidecar keeps them), totals stay
    assert "sf1_queries" not in parsed and "sf10_queries" not in parsed
    assert parsed["sf1_total"] == 65.084 and parsed["sf10_total"] == 180.5
    # queries is rendered LAST so a front-truncated capture loses head
    # fields first, keeping the map brace-matchable from the tail
    assert line.rstrip("}").endswith('"protocol":"median"') or \
        line.index('"queries"') > line.index('"sf10_total"')
    # tail-survival invariant at the REAL current query set: the
    # complete headline map + required fields after it fit the driver's
    # ~2000-byte tail capture. Growth note: each added headline query
    # costs ~30 bytes of line budget; past ~63 entries the names alone
    # outgrow the capture and only the full-line parse (which the
    # driver also runs) stays lossless.
    from bench import HEADLINE, PIPELINE, STABLE_SET

    real = {}
    for n in HEADLINE + PIPELINE + ["register_infer", "convert_parquet_csv",
                                    "compare_parquet"]:
        real[n] = 3.141
    out_real = {
        "metric": "headline_queries_total", "value": 56.4, "unit": "sec",
        "stable_set_total": 12.3, "common_set_round": "r15",
        "common_set_n": len(real), "common_set_total": 56.4,
        "common_set_total_prev": 51.8, "queries": real, "sf": "0.1",
        "reps": 3, "protocol": "median",
        "sf1_queries": {k: 3.0 for k in list(real)[:18]}, "sf1_total": 60.0,
        "sf10_queries": {k: 9.0 for k in list(real)[:9]}, "sf10_total": 180.0,
    }
    line_real = render_line(out_real)
    assert json.loads(line_real)["queries"] == {
        k: 3.14 for k in real
    }  # precision shed, no entry lost
    assert len(line_real) - line_real.index('"queries"') <= 2000, (
        len(line_real), len(line_real) - line_real.index('"queries"'))
    # small payloads shed nothing
    small = {"metric": "m", "value": 1.0, "unit": "sec",
             "queries": {"a": 1.234}, "sf": "0.1", "sf1_queries": {"a": 1.0}}
    assert json.loads(render_line(dict(small)))["queries"]["a"] == 1.234
    assert "sf1_queries" in json.loads(render_line(dict(small)))


def test_oracle_coverage():
    specs = plans.all_queries()
    no_oracle = [n for n, s in specs.items() if s.oracle is None]
    # only genuinely non-SQL-expressible ops may omit the oracle
    assert set(no_oracle) <= {"agg_approx_count_distinct"}


def test_multimodal_null_payload_and_empty_batch(spark):
    """NULL payloads (a NULL source column cast to binary) must yield NULL
    features, not kill the Python worker with len(None); empty Arrow
    batches must stay typed (decode_features previously KeyError'd on
    pd.DataFrame([]))."""
    from bdt_spark.functions.multimodal import (
        chunk_energy,
        decode_features,
        resize_payload,
        sample_frames,
        with_binary_payload,
    )

    df = spark.createDataFrame(
        [(1, "hello"), (2, None)], "doc_id long, text string"
    )
    b = with_binary_payload(df)
    feats = {r.doc_id: r for r in decode_features(b).collect()}
    assert feats[1].n_bytes == 5 and feats[1].head_md5 is not None
    assert feats[2].n_bytes is None and feats[2].head_md5 is None
    frames = {r.doc_id: r for r in sample_frames(b).collect()}
    assert frames[2].frame_md5 is None
    rs = {r.doc_id: r for r in resize_payload(b).collect()}
    assert rs[1].out_bytes == 64 and rs[2].payload_resized is None
    en = {r.doc_id: r for r in chunk_energy(b).collect()}
    assert en[1].energy is not None and en[2].energy is None
    # empty input -> empty typed result, no crash
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert decode_features(with_binary_payload(empty)).count() == 0


def test_priority_prefix_resolves_and_samples_every_family():
    """Every _PRIORITY_ORDER name must exist in the registry (a rename
    would otherwise silently drop a flagship from the driver's first-50
    CORRECTNESS window — the exact under-sampling the list fixes), be
    duplicate-free, lead the iteration order, and cover every primary-tag
    family."""
    from bdt_spark.plans.registry import _PRIORITY_ORDER

    qs = plans.all_queries()
    missing = [n for n in _PRIORITY_ORDER if n not in qs]
    assert not missing, f"priority names not in registry: {missing}"
    assert len(set(_PRIORITY_ORDER)) == len(_PRIORITY_ORDER) == 50
    assert list(qs)[:50] == list(_PRIORITY_ORDER)
    first50_fams = {qs[n].tags[0] for n in _PRIORITY_ORDER if qs[n].tags}
    all_fams = {s.tags[0] for s in qs.values() if s.tags}
    assert first50_fams == all_fams


def test_fixture_embedding_dim_matches_unrolled_expressions():
    """The flat unrolled dot/norm/bucket SQL (plans/pipeline.py) is
    generated for EMB_DIM elements. A fixture regenerated at another dim
    would fail SILENTLY in both engines (out-of-range indexing -> NULL /
    truncated dots, symmetrically — the oracle cannot catch it), so the
    contract is pinned here for every shipped sf and the scaled dirs."""
    import os

    import duckdb

    from bdt_spark.plans.pipeline import EMB_DIM

    dirs = [f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")]
    # scaled dirs are opportunistic AND may be table-filtered shards
    # (gen_scale takes trailing table names), so require the file itself
    dirs += [
        d
        for d in ("/tmp/sf1", "/tmp/sf10")
        if os.path.exists(os.path.join(d, "embeddings.parquet"))
    ]
    for d in dirs:
        path = os.path.join(d, "embeddings.parquet")
        lo, hi = duckdb.sql(
            f"SELECT MIN(len(embedding)), MAX(len(embedding)) FROM '{path}'"
        ).fetchone()
        assert lo == hi == EMB_DIM, f"{path}: dims [{lo},{hi}] != {EMB_DIM}"


def _rdd_backed(spark):
    """A plan no file index can size (its leaf is an RDD)."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize([(1,)]), "id long"
    )


def test_pmi_materialize_gate_both_arms_agree(spark, sf_dir, monkeypatch):
    """text_pmi_cooccurrence picks its plan from the EXACT on-disk scan
    size (io.plan_scan_bytes): small scans run the bare inline plan
    (pmi is a measured fan-out NON-member — 1.25 s bare vs 2.2 s
    fanned+materialized at sf0.1), big scans fan out the token explode
    and materialize the six-times-consumed token CTE (kills the sf10
    10-37 s bimodality). Both arms must return identical rows, and the
    gate must read the files' on-disk bytes, not Catalyst's
    estimates."""
    import os

    from bdt_spark.plans import pipeline_text
    from bdt_spark.sources.io import plan_scan_bytes

    pmi = plans.get_query("text_pmi_cooccurrence").fn

    inline = pmi(spark, sf_dir)
    assert "InMemoryTableScan" not in inline._jdf.queryExecution().toString()
    inline_rows = inline.collect()

    size = plan_scan_bytes(spark.table("documents"))
    # fixture is tiny -> inline arm taken
    assert size == os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    assert 0 < size < pipeline_text._MATERIALIZE_MIN_SCAN_BYTES
    try:
        with monkeypatch.context() as m:
            m.setattr(pipeline_text, "_MATERIALIZE_MIN_SCAN_BYTES", 0)
            mat = pmi(spark, sf_dir)
        assert "InMemoryTableScan" in mat._jdf.queryExecution().toString()
        assert mat.collect() == inline_rows
    finally:
        spark.catalog.clearCache()

    # unsizable input -> large sentinel -> the scale-safe materialized arm
    assert plan_scan_bytes(_rdd_backed(spark)) == 1 << 60


def test_q21_gate_both_arms_agree(spark, sf_dir, monkeypatch):
    """tpch_q21_waiting_supplier picks correlated vs decorrelated from
    the exact lineitem scan bytes (plans/tpch._BIG_FACT_MIN_BYTES).
    The decorrelated arm is a different ALGORITHM (supplier-level
    window over per-order ship maxima with tie handling), so both arms
    must return identical rows; q18's big arm must plan its semi-join
    as sort-merge (the sf100 broadcast-death fix)."""
    from bdt_spark.plans import tpch

    q21 = plans.get_query("tpch_q21_waiting_supplier").fn
    q18 = plans.get_query("tpch_q18_large_volume").fn

    small_rows = q21(spark, sf_dir).collect()
    q18_small_rows = q18(spark, sf_dir).collect()

    parts = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(tpch, "_BIG_FACT_MIN_BYTES", 0)
    try:
        big_rows = q21(spark, sf_dir).collect()
        assert big_rows == small_rows
        # q18 big arm (r16 single-agg rewrite): the agg-derived q
        # relation's broadcast-small static estimate is the sf100
        # death class, so the big arm must plan its joins shuffle-side
        # (no static BroadcastExchange anywhere; AQE may still demote
        # at runtime from true sizes — the safe direction).
        q18_df = q18(spark, sf_dir)
        text = q18_df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in text
        assert "BroadcastExchange" not in text
        assert q18_df.collect() == q18_small_rows
    finally:
        # the big arms raise shuffle partitions (heavy-arm geometry);
        # restore the test session's small default
        spark.conf.set("spark.sql.shuffle.partitions", parts)


def test_heavy_arm_geometry_gate(spark, sf_dir, monkeypatch):
    """VERDICT r13 #1: when the big-fact gate selects a heavy arm, the
    execution geometry must come WITH it — shuffle partitions derived
    from the same scan bytes that selected the arm (sf100 measured: 512
    rides through where 256 can transiently die; SCALE.md r13). Pin:
    (a) the small arm leaves the session conf alone; (b) the big arm
    raises it to the count derived from the scan bytes; (c) the hook
    never LOWERS a caller's higher setting; (d) an unsizable plan's
    sentinel clamps to the 4096 ceiling."""
    from bdt_spark.plans import tpch
    from bdt_spark.sources import io as bio
    from bdt_spark.sources.io import (
        _HEAVY_BYTES_PER_SHUFFLE_PARTITION,
        ensure_heavy_arm_geometry,
    )

    q21 = plans.get_query("tpch_q21_waiting_supplier").fn
    bio.load_fixture_tables(spark, sf_dir)
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    assert int(parts) < 64
    try:
        # small arm (fixture scale): conf untouched
        q21(spark, sf_dir)
        assert spark.conf.get("spark.sql.shuffle.partitions") == parts

        # big arm at fixture bytes: raised to the 64 floor
        with monkeypatch.context() as m:
            m.setattr(tpch, "_BIG_FACT_MIN_BYTES", 0)
            q21(spark, sf_dir)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "64"

        # 6.4 GB (the measured sf100 point): raised to 512
        assert 256 * _HEAVY_BYTES_PER_SHUFFLE_PARTITION < 6.4e9
        assert ensure_heavy_arm_geometry(spark, int(6.4e9)) == 512
        assert spark.conf.get("spark.sql.shuffle.partitions") == "512"

        # never lowers: a caller already above the derived count keeps it
        spark.conf.set("spark.sql.shuffle.partitions", "2048")
        assert ensure_heavy_arm_geometry(spark, int(6.4e9)) == 2048
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2048"

        # unsizable plan -> 1<<60 sentinel -> ceiling, not a huge number
        unknown = bio.plan_scan_bytes(_rdd_backed(spark))
        assert ensure_heavy_arm_geometry(spark, unknown) == 4096
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)


def test_r16_materialize_gate_arms_agree(spark, sf_dir, monkeypatch):
    """r16 scan-collapse gates: orders_market_basket_lift,
    events_anomaly_robust_zscore, and agg_hll_sketch_merge pick between
    a bare inline plan and a persist-the-shared-rollup plan from exact
    fixture scan bytes (the pmi materialization doctrine). The arms are
    different PLANS of the same relation, so they must return identical
    rows; pin both directions at fixture scale by monkeypatching each
    gate's threshold to 0."""
    from bdt_spark.operators.cacheutil import release
    from bdt_spark.plans import pipeline_analytics, relational

    cases = [
        ("orders_market_basket_lift",
         pipeline_analytics, "_BASKET_MATERIALIZE_MIN_BYTES"),
        ("events_anomaly_robust_zscore",
         pipeline_analytics, "_ANOMALY_MATERIALIZE_MIN_BYTES"),
        ("agg_hll_sketch_merge", relational, "_HLL_MATERIALIZE_MIN_BYTES"),
    ]
    for name, module, threshold in cases:
        fn = plans.get_query(name).fn
        df = fn(spark, sf_dir)  # fixture scale: bare arm
        assert "InMemoryTableScan" not in df._jdf.queryExecution().toString()
        bare_rows = df.collect()
        release(df)
        with monkeypatch.context() as m:
            m.setattr(module, threshold, 0)  # force the persist arm
            df = fn(spark, sf_dir)
        assert "InMemoryTableScan" in df._jdf.queryExecution().toString()
        gated_rows = df.collect()
        release(df)
        assert gated_rows == bare_rows, f"{name}: gate arms diverge"


def test_market_basket_null_orderkey_matches_oracle(
    spark, sf_dir, tmp_path, monkeypatch
):
    """orders_market_basket_lift on a lineitem copy with NULL l_orderkey
    (where l_orderkey & 7 = 0): the per-order array form puts all NULL
    keys in one array row, which must count toward the category margins
    but not toward n_orders or the pairs (the oracle's COUNT(DISTINCT)
    and self-join equality drop NULL). Both gate arms match the DuckDB
    oracle."""
    import os

    import duckdb

    from bdt_spark.operators.cacheutil import release
    from bdt_spark.plans import pipeline_analytics
    from bdt_spark.sources.io import load_fixture_tables
    from tools.check_oracle import canonicalize

    src = os.path.join(
        os.path.dirname(sf_dir.rstrip("/")), "sf0.01", "lineitem.parquet"
    )
    if not os.path.exists(src):
        pytest.skip("needs the sf0.01 fixtures")
    con = duckdb.connect()
    con.sql(
        "COPY (SELECT * REPLACE (CASE WHEN l_orderkey & 7 = 0 THEN NULL "
        f"ELSE l_orderkey END AS l_orderkey) FROM read_parquet('{src}')) "
        f"TO '{tmp_path}/lineitem.parquet' (FORMAT PARQUET)"
    )
    con.sql(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet')"
    )
    q = plans.get_query("orders_market_basket_lift")
    want = canonicalize(con.sql(q.oracle).df())
    assert want[1]

    d = str(tmp_path)
    try:
        for threshold in (None, 0):  # bare arm, then the persist arm
            if threshold is not None:
                monkeypatch.setattr(
                    pipeline_analytics, "_BASKET_MATERIALIZE_MIN_BYTES",
                    threshold,
                )
            load_fixture_tables(spark, d, tables=("lineitem",), force=True)
            df = q.fn(spark, d)
            got = canonicalize(df.toPandas())
            release(df)
            assert got == want, f"threshold={threshold}"
    finally:
        load_fixture_tables(spark, sf_dir, force=True)


def test_registry_sf10_sweep_coverage():
    """REGISTRATION RULE enforcement (VERDICT r14 #2): every registered
    query needs BOTH an oracle row and an sf10 sweep record. The sweep
    record is the newest committed bench_results/sf10_sweep_*.json
    (written by `tools/check_oracle.py /tmp/sf10 --resume <file>`); a
    new spec added without running its sf10 sweep fails HERE, in the
    same commit series — the gap this rule existed to close kept
    reopening when enforcement lived only in prose."""
    import glob
    import json
    import os

    import bdt_spark.plans as plans

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(root, "bench_results", "sf10_sweep_*.json")))
    assert files, "no committed sf10 sweep state (bench_results/sf10_sweep_*.json)"
    with open(files[-1]) as f:
        state = json.load(f)
    missing = sorted(q for q in plans.all_queries() if q not in state)
    assert not missing, (
        f"queries without an sf10 sweep record: {missing} — run "
        f"`python tools/check_oracle.py /tmp/sf10 --resume {files[-1]} "
        f"{' '.join(missing)}` and commit the updated state"
    )
    bad = {q: v for q, v in state.items() if not str(v).startswith(("PASS", "SKIP"))}
    assert not bad, f"non-green sf10 sweep records: {bad}"
