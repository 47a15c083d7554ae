"""CLI smoke tests — each subcommand against sf0.001 fixtures
(SURVEY §5 item 4), asserting exit codes (main.rs:104-107)."""

import pytest

from bdt_spark.cli import main
from tests.conftest import SF_DIR


@pytest.fixture(autouse=True)
def _warm_session(spark):
    # get_spark() in the CLI reuses the test session via getOrCreate()
    yield


def test_view(capsys):
    assert main(["view", f"{SF_DIR}/region.parquet", "--limit", "3"]) == 0
    out = capsys.readouterr().out
    assert "r_name" in out


def test_schema(capsys):
    assert main(["schema", f"{SF_DIR}/region.parquet"]) == 0
    out = capsys.readouterr().out
    assert "r_regionkey" in out and "string" in out


def test_count(capsys):
    assert main(["count", "--table", f"{SF_DIR}/region.parquet"]) == 0
    assert capsys.readouterr().out.strip() == "5"


def test_query(capsys):
    assert (
        main(
            [
                "query",
                "--table",
                f"{SF_DIR}/nation.parquet",
                "--sql",
                "SELECT COUNT(*) AS n FROM nation",
            ]
        )
        == 0
    )
    assert "25" in capsys.readouterr().out


def test_query_tables_dir_and_output(tmp_path, capsys):
    out = str(tmp_path / "o.csv")
    assert (
        main(
            [
                "query",
                "--tables",
                SF_DIR,
                "--sql",
                "SELECT r_name FROM region ORDER BY r_name",
                "--output",
                out,
            ]
        )
        == 0
    )
    with open(out) as f:
        assert f.readline().strip() == "r_name"


def test_convert_cmd(tmp_path):
    out = str(tmp_path / "r.csv")
    assert main(["convert", f"{SF_DIR}/region.parquet", out, "-s"]) == 0


def test_view_parquet_meta(capsys):
    assert main(["view-parquet-meta", f"{SF_DIR}/region.parquet"]) == 0
    assert "rows: 5" in capsys.readouterr().out


def test_compare_cmd(capsys):
    assert (
        main(["compare", f"{SF_DIR}/region.parquet", f"{SF_DIR}/region.parquet"])
        == 0
    )
    assert "match" in capsys.readouterr().out


def test_compare_mismatch_exit_code():
    with pytest.raises(SystemExit):
        main(["compare", f"{SF_DIR}/region.parquet", f"{SF_DIR}/nation.parquet"])


def test_error_surface(capsys):
    # unknown extension -> error + exit 1 (main.rs:102-108)
    assert main(["count", "--table", "/nope/file.xlsx"]) == 1
    assert "Error" in capsys.readouterr().err


def test_cli_dedup_exact(tmp_path, capsys):
    from bdt_spark.cli import main

    rc = main([
        "dedup", "--table", f"{SF_DIR}/documents.parquet",
        "--method", "exact", "--id-col", "doc_id", "--columns", "text",
        "--output", str(tmp_path / "dups.parquet"),
    ])
    assert rc == 0
    assert "wrote" in capsys.readouterr().out


def test_cli_dedup_minhash(capsys):
    from bdt_spark.cli import main

    rc = main([
        "dedup", "--table", f"{SF_DIR}/documents.parquet",
        "--method", "minhash", "--id-col", "doc_id", "--text-col", "text",
    ])
    assert rc == 0


def test_cli_dedup_embedding(tmp_path, capsys):
    """--method embedding: sign-LSH near-dup over an array<float> column;
    the fixture has no organic cosine>=0.9 pairs, so lower the threshold
    to prove the path end-to-end with a non-empty result."""
    from bdt_spark.cli import main

    rc = main([
        "dedup", "--table", f"{SF_DIR}/embeddings.parquet",
        "--method", "embedding", "--id-col", "vec_id",
        "--threshold", "0.3",
        "--output", str(tmp_path / "pairs.parquet"),
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "wrote" in out


@pytest.mark.slow
def test_cli_cluster_write_and_ann(tmp_path, capsys):
    from bdt_spark.cli import main

    out = str(tmp_path / "clustered")
    rc = main([
        "cluster-write", f"{SF_DIR}/orders.parquet", out,
        "--by", "o_orderdate", "--partitions", "4",
    ])
    assert rc == 0

    idx = str(tmp_path / "idx")
    rc = main([
        "ann-build", f"{SF_DIR}/embeddings.parquet", idx, "-k", "5",
    ])
    assert rc == 0
    rc = main([
        "ann-probe", idx, f"{SF_DIR}/embeddings.parquet",
        "--topk", "3", "--nprobe", "2",
        "--output", str(tmp_path / "nn.parquet"),
    ])
    assert rc == 0


def test_cli_upsert_and_versioned_vacuum(tmp_path, capsys, spark):
    from bdt_spark.cli import main

    base = str(tmp_path / "tbl")
    delta_p = str(tmp_path / "delta.parquet")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"
    ).write.parquet(base)
    spark.createDataFrame(
        [(2, "b2"), (3, "c")], "k int, v string"
    ).write.parquet(delta_p)

    rc = main(["upsert", base, delta_p, "--keys", "k"])
    assert rc == 0
    assert "3 rows" in capsys.readouterr().out
    got = {r.k: r.v for r in spark.read.parquet(base).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}

    # first use on a nonexistent path initializes instead of crashing
    fresh = str(tmp_path / "fresh_tbl")
    assert main(["upsert", fresh, delta_p, "--keys", "k"]) == 0
    assert "initialized" in capsys.readouterr().out
    assert spark.read.parquet(fresh).count() == 2

    # versioned path: init + merge + vacuum
    root = str(tmp_path / "vtbl")
    assert main(["upsert", root, delta_p, "--keys", "k", "--versioned"]) == 0
    assert "initialized" in capsys.readouterr().out
    assert main(["upsert", root, delta_p, "--keys", "k", "--versioned"]) == 0
    assert "v2" in capsys.readouterr().out
    assert main(["vacuum", root, "--keep-last", "1"]) == 0
    assert "removed versions: [1]" in capsys.readouterr().out

    from bdt_spark.operators.versioned import read_versioned

    assert read_versioned(spark, root).count() == 2


def test_cli_cluster_write_bloom(tmp_path, capsys):
    from bdt_spark.cli import main

    out = str(tmp_path / "bl")
    rc = main([
        "cluster-write", f"{SF_DIR}/orders.parquet", out,
        "--by", "o_orderdate", "--partitions", "2",
        "--bloom", "o_orderkey", "--bloom-ndv", "10000",
    ])
    assert rc == 0


def test_cli_upsert_init_rejects_duplicate_keys(tmp_path, spark):
    """The first-use init path must enforce the one-row-per-key invariant
    just like every later merge — otherwise the table is born corrupted
    and no subsequent merge ever notices."""
    from bdt_spark.cli import main

    dup_delta = str(tmp_path / "dup.parquet")
    spark.createDataFrame(
        [(1, "a"), (1, "b")], "k int, v string"
    ).write.parquet(dup_delta)
    fresh = str(tmp_path / "fresh_tbl")
    rc = main(["upsert", fresh, dup_delta, "--keys", "k"])
    assert rc != 0
    import os

    assert not os.path.exists(fresh)  # nothing written
    vroot = str(tmp_path / "vtbl")
    assert main(["upsert", vroot, dup_delta, "--keys", "k", "--versioned"]) != 0


def test_readme_documented_ux_contract(tmp_path, capsys):
    """Golden replay of the reference README's demos (README.md:54-140) —
    the documented UX a reference user expects after switching: schema's
    (column_name, data_type, is_nullable) listing, view's --limit row
    semantics, count's bare number, and query's "Registering table ..."
    lines (main.rs:163,174) for both --table and --tables before the
    result grid. Asserts SHAPE (columns, row counts, messages), not
    engine-specific type spellings."""
    # --- bdt schema <file> (README.md:56-88) ---
    assert main(["schema", f"{SF_DIR}/region.parquet"]) == 0
    out = capsys.readouterr().out
    lines = [ln for ln in out.splitlines() if ln.strip()]
    assert lines[0].split() == ["column_name", "data_type", "is_nullable"]
    listed = {ln.split()[0]: ln.split()[2] for ln in lines[1:]}
    assert listed == {"r_regionkey": "YES", "r_name": "YES"}

    # --- bdt view <file> --limit N (README.md:90-112) ---
    assert main(["view", f"{SF_DIR}/region.parquet", "--limit", "3"]) == 0
    out = capsys.readouterr().out
    data_rows = [
        ln
        for ln in out.splitlines()
        if ln.startswith("|") and "r_name" not in ln
    ]
    assert len(data_rows) == 3  # --limit bounds the grid exactly
    # default limit is 10 (main.rs:30-36); region has 5 rows, all shown
    assert main(["view", f"{SF_DIR}/region.parquet"]) == 0
    out = capsys.readouterr().out
    data_rows = [
        ln
        for ln in out.splitlines()
        if ln.startswith("|") and "r_name" not in ln
    ]
    assert len(data_rows) == 5

    # --- bdt count --table <file> ---
    assert main(["count", "--table", f"{SF_DIR}/region.parquet"]) == 0
    assert capsys.readouterr().out.strip() == "5"

    # --- bdt query --table ... --sql "SELECT COUNT(*) ..." (README.md:114-126) ---
    assert (
        main(
            [
                "query",
                "--table",
                f"{SF_DIR}/nation.parquet",
                "--sql",
                "SELECT COUNT(*) AS n FROM nation",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert (
        f"Registering table 'nation' for {SF_DIR}/nation.parquet" in out
    )
    assert out.index("Registering") < out.index("25")  # message precedes grid

    # --- bdt query --tables <dir> --sql-file <q> (README.md:128-140) ---
    qfile = tmp_path / "q.sql"
    qfile.write_text("SELECT r_name FROM region ORDER BY r_name")
    assert (
        main(["query", "--tables", SF_DIR, "--sql-file", str(qfile)]) == 0
    )
    out = capsys.readouterr().out
    for t in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
    ):
        assert f"Registering table '{t}' for {SF_DIR}/{t}.parquet" in out
    assert "AFRICA" in out and "EUROPE" in out


def test_cli_stream_dedup(tmp_path, capsys):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    a = "the quick brown fox jumps over the lazy dog today"
    pq.write_table(
        pa.table(
            {"doc_id": pa.array([0, 2], pa.int64()),
             "text": [a, "pack my box with five dozen liquor jugs"]}
        ),
        str(src / "f1.parquet"),
    )
    args = [
        "stream-dedup", "--source", str(src),
        "--state-dir", str(tmp_path / "state"),
        "--matches-dir", str(tmp_path / "matches"),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
    ]
    assert main(args) == 0
    out = capsys.readouterr().out
    assert "0 match rows" in out  # first batch seeds the state

    # a second file with a near-dup of doc 0: re-invoking drains only
    # the new file and the probe finds the match in the carried state
    pq.write_table(
        pa.table({"doc_id": pa.array([10], pa.int64()), "text": [a]}),
        str(src / "f2.parquet"),
    )
    assert main(args) == 0
    assert "1 match rows" in capsys.readouterr().out


def test_cli_ann_incremental(tmp_path, capsys, spark):
    """ann-update / ann-stats / ann-compact: the CLI surface of the
    incremental IVF maintenance (VERDICT r14 #3)."""
    import pyarrow.parquet as pq

    from bdt_spark.cli import main

    idx = str(tmp_path / "idx")
    assert main(["ann-build", f"{SF_DIR}/embeddings.parquet", idx, "-k", "5"]) == 0
    capsys.readouterr()

    # a new batch: shifted ids over the same embedding payloads
    batch = str(tmp_path / "batch.parquet")
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").selectExpr(
        "vec_id + 1000000 AS vec_id", "embedding"
    ).limit(20).coalesce(1).write.parquet(batch)

    assert main(["ann-update", idx, batch, "--batch-id",
                 "00000000000000000001"]) == 0
    out = capsys.readouterr().out
    assert "batch=00000000000000000001" in out and "assigned=20" in out

    assert main(["ann-stats", idx]) == 0
    out = capsys.readouterr().out
    assert "cluster_id=" in out and "skew=" in out

    assert main(["ann-compact", idx]) == 0
    assert "compacted 1 increment" in capsys.readouterr().out
    import os
    assert not os.path.exists(f"{idx}/increments")
    n = sum(
        pq.read_metadata(os.path.join(r, f)).num_rows
        for r, _, fs in os.walk(f"{idx}/assignments")
        for f in fs if f.endswith(".parquet")
    )
    assert n == pq.read_metadata(f"{SF_DIR}/embeddings.parquet").num_rows + 20


def test_cli_dedup_compact_state(tmp_path, capsys, spark):
    """--compact-state folds the incremental state from the CLI (the
    missing lifecycle step between --update-state runs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bdt_spark.cli import main

    batch = str(tmp_path / "b.parquet")
    pq.write_table(
        pa.table(
            {"doc_id": pa.array([0, 1], pa.int64()),
             "text": ["the quick brown fox jumps over the lazy dog",
                      "pack my box with five dozen liquor jugs"]}
        ),
        batch,
    )
    state = str(tmp_path / "state")
    for bid in ("00000000000000000000", "00000000000000000001"):
        assert main([
            "dedup", "--table", batch, "--method", "minhash",
            "--state-dir", state, "--update-state", "--batch-id", bid,
        ]) == 0
    capsys.readouterr()
    assert main([
        "dedup", "--method", "minhash", "--state-dir", state,
        "--compact-state",
    ]) == 0
    out = capsys.readouterr().out
    assert "state compacted: batch=00000000000000000001.compact" in out
    st = spark.read.parquet(state)
    assert st.count() == 2

    # --compact-state without --state-dir is a usage error
    with pytest.raises(SystemExit):
        main(["dedup", "--method", "minhash", "--compact-state"])


def test_cli_stream_ann(tmp_path, capsys, spark):
    """stream-ann drains vector files into an existing IVF index."""
    from bdt_spark.cli import main

    idx = str(tmp_path / "idx")
    assert main(["ann-build", f"{SF_DIR}/embeddings.parquet", idx, "-k", "5"]) == 0
    src = tmp_path / "src"
    src.mkdir()
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").selectExpr(
        "vec_id + 1000000 AS vec_id", "embedding"
    ).limit(10).coalesce(1).write.parquet(str(src / "f1"))
    # file source wants files directly under source; move the part file
    import glob
    import shutil
    part = glob.glob(str(src / "f1" / "*.parquet"))[0]
    shutil.move(part, str(src / "f1.parquet"))
    shutil.rmtree(str(src / "f1"))
    capsys.readouterr()
    assert main([
        "stream-ann", "--source", str(src), "--index-dir", idx,
        "--checkpoint-dir", str(tmp_path / "ckpt"),
    ]) == 0
    assert "stream drained: index skew=" in capsys.readouterr().out
    assert spark.read.parquet(f"{idx}/increments").count() == 10


def test_query_order_by_csv_output_matches_coalesced_write(
    spark, tmp_path, monkeypatch
):
    """`query --output x.csv` goes through convert's single-file writer:
    an ORDER BY result's range partitions are written in parallel and
    concatenated in partition order, which is the global order, so the
    file has the bytes a coalesce(1) write of the same query has."""
    import glob

    from bdt_spark import cli
    from bdt_spark.operators import convert as conv
    from bdt_spark.sources.io import _CSV_OPTIONS

    # the test session as is: get_spark would reset the AQE conf below
    monkeypatch.setattr(cli, "get_spark", lambda name: spark)
    sql = (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey"
    )
    concats = []
    real_concat = conv._concat_parts
    monkeypatch.setattr(
        conv, "_concat_parts",
        lambda parts, dst, *, header: concats.append(len(parts))
        or real_concat(parts, dst, header=header),
    )
    out = str(tmp_path / "top.csv")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")  # keep several range partitions
    try:
        rc = main(["query", "--tables", SF_DIR, "--sql", sql, "--output", out])
        ref = str(tmp_path / "ref")
        spark.sql(sql).coalesce(1).write.options(
            **conv._TEXT_TIMESTAMP_OPTIONS
        ).option("header", "true").options(**_CSV_OPTIONS).csv(ref)
    finally:
        spark.conf.set(key, old)
    assert rc == 0
    assert concats and concats[0] > 1
    [part] = glob.glob(ref + "/part-*")
    with open(out, "rb") as f, open(part, "rb") as g:
        assert f.read() == g.read()
