"""Unit tests for the native registration pieces (SURVEY §5 item 3):
sanitize_table_name (utils.rs:41-51), extension dispatch (utils.rs:12-23)."""

import pytest

from bdt_spark.sources.io import (
    UnsupportedFormatError,
    file_format,
    read_file,
    register_table,
    sanitize_table_name,
    table_name_from_path,
)


def test_sanitize_table_name():
    # reference example: README.md:105-107
    assert (
        sanitize_table_name("yellow_tripdata_2022-01") == "yellow_tripdata_2022_01"
    )
    assert sanitize_table_name("a b.c-d") == "a_b_c_d"
    assert sanitize_table_name("ok_name_123") == "ok_name_123"


def test_table_name_from_path():
    assert table_name_from_path("/x/y/part-00.with.dots.parquet") == (
        "part_00_with_dots"
    )


def test_file_format_dispatch():
    assert file_format("a.parquet") == "parquet"
    assert file_format("a.parq") == "parquet"  # utils.rs:17
    assert file_format("a.CSV") == "csv"
    assert file_format("a.json") == "json"
    assert file_format("a.avro") == "avro"
    with pytest.raises(UnsupportedFormatError):
        file_format("a.xlsx")  # utils.rs:18-21 error path


def test_register_and_read(spark, sf_dir):
    df = register_table(spark, "t_region", f"{sf_dir}/region.parquet")
    assert df.count() == spark.table("t_region").count() > 0


def test_read_csv_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t.csv")
    with open(p, "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    df = read_file(spark, p)
    assert df.columns == ["a", "b"]
    assert df.count() == 2
    # --no-header-row equivalent (main.rs:95-97)
    df2 = read_file(spark, p, header=False)
    assert df2.count() == 3


def test_avro_dispatch_reads_real_file(spark, tmp_path):
    """.avro dispatch is functional without the spark-avro jar: the pure-
    Python spec decoder (sources/avro.py) reads container files through
    binaryFile + mapInPandas. Full coverage lives in tests/test_avro.py."""
    from bdt_spark.sources.avro import spark_schema_to_avro, write_avro

    df = spark.range(4).selectExpr("id", "CAST(id % 2 = 0 AS BOOLEAN) AS even")
    rows = [r.asDict() for r in df.collect()]
    p = tmp_path / "t.avro"
    p.write_bytes(write_avro(rows, spark_schema_to_avro(df.schema)))
    back = read_file(spark, str(p))
    assert back.columns == ["id", "even"]
    assert back.count() == 4

    # corrupt input still fails loudly, never silently succeeds
    import pytest as _pytest

    from bdt_spark.sources.avro import AvroError

    bad = tmp_path / "bad.avro"
    bad.write_bytes(b"not avro at all")
    with _pytest.raises(AvroError):
        read_file(spark, str(bad)).count()


def test_arrow_feather_read(spark, tmp_path):
    """Arrow IPC read works (the reference declares the variant but panics,
    utils.rs:59-61 — documented improvement)."""
    import pyarrow as pa
    import pyarrow.feather as feather

    p = str(tmp_path / "t.feather")
    feather.write_feather(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), p)
    df = read_file(spark, p)
    assert df.count() == 3 and df.columns == ["a", "b"]
    # distributed path: decoding happens in executor tasks, not the driver
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_arrow_directory_multifile_read(spark, tmp_path):
    """A directory of IPC files reads as one table, one task per file;
    stream-format and file-format payloads both decode."""
    import pyarrow as pa
    import pyarrow.feather as feather
    import pyarrow.ipc as ipc

    d = tmp_path / "arrows"
    d.mkdir()
    feather.write_feather(pa.table({"a": [1, 2], "b": ["x", "y"]}),
                          str(d / "p1.arrow"))
    with ipc.new_stream(
        str(d / "p2.arrow"), pa.schema([("a", pa.int64()), ("b", pa.string())])
    ) as w:
        w.write_table(pa.table({"a": [3], "b": ["z"]}))
    df = read_file(spark, str(d), fmt="arrow")
    assert df.count() == 3
    assert {r.a for r in df.collect()} == {1, 2, 3}


def test_arrow_stream_format_single_file_read(spark, tmp_path):
    """A single stream-format .arrow file must read. Regression: the
    driver schema probe tried ipc.open_file then feather.read_table,
    and NEITHER reads stream format — only the executor-side decoder
    did, so the read crashed before any task ran. Also covers a
    directory whose alphabetically-first file is stream-format (the
    probe reads whichever sorts first)."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    p = str(tmp_path / "s.arrow")
    with ipc.new_stream(
        p, pa.schema([("a", pa.int64()), ("b", pa.string())])
    ) as w:
        w.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}))
    df = read_file(spark, p)
    assert df.count() == 2 and df.columns == ["a", "b"]

    d = tmp_path / "sdir"
    d.mkdir()
    with ipc.new_stream(
        str(d / "a1.arrow"), pa.schema([("a", pa.int64())])
    ) as w:
        w.write_table(pa.table({"a": [1]}))
    with ipc.new_stream(
        str(d / "b2.arrow"), pa.schema([("a", pa.int64())])
    ) as w:
        w.write_table(pa.table({"a": [2]}))
    df = read_file(spark, str(d), fmt="arrow")
    assert {r.a for r in df.collect()} == {1, 2}


def test_mergeschema_reads_drifted_directory(spark, tmp_path):
    # schema evolution across files in one table directory: mergeSchema
    # unions the schemas; missing columns null-fill (the B1 robustness a
    # long-lived 100 TB table accumulates)
    d = str(tmp_path / "drift")
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(
        d + "/gen=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "k int, v string, score double"
    ).write.parquet(d + "/gen=2")
    df = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(df.columns) == {"k", "v", "score", "gen"}
    rows = {r.k: (r.score, r.gen) for r in df.collect()}
    assert rows[1] == (None, 1)   # old file null-fills the new column
    assert rows[2] == (9.5, 2)


def test_recursive_file_lookup(spark, tmp_path):
    # nested directory trees read as one table (recursiveFileLookup) —
    # the layout long-lived ingest pipelines accumulate
    d = str(tmp_path / "nested")
    spark.createDataFrame([(1,)], "x int").write.parquet(d + "/a/b")
    spark.createDataFrame([(2,)], "x int").write.parquet(d + "/c")
    df = spark.read.option("recursiveFileLookup", "true").parquet(d)
    assert sorted(r.x for r in df.collect()) == [1, 2]


def test_path_glob_filter(spark, sf_dir):
    # glob-scoped reads from a mixed directory
    df = (
        spark.read.option("pathGlobFilter", "nation.parquet")
        .parquet(sf_dir)
    )
    assert df.count() == 25


def test_register_dir_errors_on_unsupported(spark, tmp_path):
    """--tables DIR matches the reference: unknown extensions are an error
    (main.rs:154-166 registers every entry and fails), not a silent skip."""
    import pytest
    from bdt_spark.sources.io import UnsupportedFormatError, register_dir

    spark.range(3).write.parquet(str(tmp_path / "good.parquet"))
    (tmp_path / "notes.txt").write_text("not a table")
    with pytest.raises(UnsupportedFormatError, match="notes.txt"):
        register_dir(spark, str(tmp_path))
    # lenient mode still available for mixed directories
    out = register_dir(spark, str(tmp_path), skip_unsupported=True)
    assert set(out) == {"good"}


def test_force_reload_drops_views_absent_from_new_dir(spark, tmp_path):
    """Re-registering fixtures against a dir that LACKS a table must drop
    that table's stale view — otherwise queries against the new dir
    silently read the previous dir's data (bit the r12 embeddings-only
    sf100 probe, whose corpus stats read the prior shard's documents)."""
    import shutil

    from bdt_spark.sources.io import load_fixture_tables

    full = "/root/testdata/sf0.001"
    load_fixture_tables(spark, full, force=True)
    assert spark.catalog.tableExists("events")

    # try/finally so a failing assert cannot leave the shared
    # session-scoped fixture registered against the partial tmp dir
    # (documents only, events dropped) and cascade into other tests
    try:
        part = tmp_path / "docs_only"
        part.mkdir()
        shutil.copy(f"{full}/documents.parquet", part / "documents.parquet")
        out = load_fixture_tables(spark, str(part), force=True)
        assert set(out) == {"documents"}
        assert spark.catalog.tableExists("documents")
        assert not spark.catalog.tableExists("events")
    finally:
        # restore for other tests sharing the session fixture
        load_fixture_tables(spark, full, force=True)


def test_undersplit_gate_counts_directory_parts(spark, tmp_path):
    """The fan-out gate on a directory-of-parts table (the production
    layout) must count splits as the SUM of member row groups: a
    many-part documents dir is NOT under-split (measured r13: native
    parts run 0.30-0.86x the fanned single-file plan on the sf10 text
    family — no rewrite wanted), while a 2-part dir of single-row-group
    files on a 32-core session still is. Before r13 a directory hit the
    read_metadata(dir) exception fallback and was never recorded — the
    no-op was accidental, and the 2-part case was silently missed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bdt_spark.sources import io as bio

    full = "/root/testdata/sf0.001"
    par = spark.sparkContext.defaultParallelism
    key = id(spark._jsparkSession)

    def docs_dir(root, n_parts):
        d = root / "documents.parquet"
        d.mkdir(parents=True)
        tbl = pa.table({"doc_id": list(range(n_parts * 4))})
        step = 4
        for i in range(n_parts):
            pq.write_table(
                tbl.slice(i * step, step), str(d / f"part-{i:05d}.parquet")
            )
        return str(root)

    wide = docs_dir(tmp_path / "wide", par + 3)
    narrow = docs_dir(tmp_path / "narrow", 2)
    assert bio._parquet_scan_splits(f"{wide}/documents.parquet") >= par
    assert bio._parquet_scan_splits(f"{narrow}/documents.parquet") == 2

    # Hive-partitioned layout (table/lang=xx/part-*.parquet): the part
    # files live one level down; the gate must count them via os.walk,
    # not see zero top-level members and report 1 (ADVICE r13 — that 1
    # inverted the assume-wide fail-safe and injected a corpus-wide
    # REPARTITION on exactly the layouts measured as harmed by fan-out).
    hive = tmp_path / "hive" / "documents.parquet"
    tbl = pa.table({"doc_id": list(range(4 * (par + 3)))})
    for i in range(par + 3):
        sub = hive / f"lang=l{i}"
        sub.mkdir(parents=True)
        pq.write_table(tbl.slice(i * 4, 4), str(sub / "part-00000.parquet"))
    assert bio._parquet_scan_splits(str(hive)) >= par

    # Unknown layout (a dir with no .parquet members at all, e.g.
    # extension-less part files) → the assume-wide sentinel, never 1.
    opaque = tmp_path / "opaque" / "documents.parquet"
    opaque.mkdir(parents=True)
    (opaque / "data-00000").write_bytes(b"not parquet")
    assert bio._parquet_scan_splits(str(opaque)) == 1 << 30

    try:
        bio.load_fixture_tables(spark, wide, tables=("documents",), force=True)
        assert bio._UNDERSPLIT[key] == {}, "many-part dir wrongly under-split"
        bio.load_fixture_tables(spark, narrow, tables=("documents",), force=True)
        assert bio._UNDERSPLIT[key] == {"documents": par}, (
            "2-part single-row-group dir must be recorded under-split"
        )
    finally:
        bio.load_fixture_tables(spark, full, force=True)


def test_fixtures_register_from_hadoop_fs_uri(spark, sf_dir):
    """A Hadoop-FS URI registers the same tables as the plain path, with
    the same plan_scan_bytes, and a gated query returns the same rows."""
    import os

    import bdt_spark.plans as plans
    from bdt_spark.sources.io import (
        FIXTURE_TABLES,
        load_fixture_tables,
        plan_scan_bytes,
    )

    q = plans.get_query("orders_market_basket_lift").fn
    load_fixture_tables(spark, sf_dir, force=True)
    plain = {t: plan_scan_bytes(spark.table(t)) for t in FIXTURE_TABLES}
    rows = q(spark, sf_dir).collect()
    uri = "file://" + os.path.abspath(sf_dir)
    try:
        out = load_fixture_tables(spark, uri, force=True)
        assert sorted(out) == sorted(FIXTURE_TABLES)
        assert {
            t: plan_scan_bytes(spark.table(t)) for t in FIXTURE_TABLES
        } == plain
        assert q(spark, uri).collect() == rows
        assert rows
    finally:
        load_fixture_tables(spark, sf_dir, force=True)
