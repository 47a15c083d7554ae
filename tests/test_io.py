"""Unit tests for the native registration pieces (SURVEY §5 item 3):
sanitize_table_name (utils.rs:41-51), extension dispatch (utils.rs:12-23)."""

import pytest
from harness import jobs_started

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
    from bdt_spark.sources.avro import write_avro
    from harness import spark_schema_to_avro

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


def _is_repartition(df, n=None):
    """Whether `df`'s root is a round-robin repartition (to `n`, if given)."""
    root = df._jdf.queryExecution().analyzed()
    return root.nodeName() == "Repartition" and (
        n is None or root.numPartitions() == n
    )


def test_undersplit_gate_counts_directory_parts(spark, tmp_path):
    """The fan-out rule on a directory-of-parts table (the production
    layout) must count scan units as the SUM of member row groups: a
    many-part documents dir is NOT under-split (measured r13: native
    parts run 0.30-0.86x the fanned single-file plan on the sf10 text
    family — no rewrite wanted), while a 2-part dir of single-row-group
    files on a 32-core session still is. The members are the file
    index's own list, so hive-partitioned and extension-less parts
    count, and a footer that cannot be read means no fan-out."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bdt_spark.sources import io as bio

    full = "/root/testdata/sf0.001"
    par = spark.sparkContext.defaultParallelism

    def docs_dir(root, n_parts, name="part-{:05d}.parquet"):
        d = root / "documents.parquet"
        d.mkdir(parents=True)
        tbl = pa.table({"doc_id": list(range(n_parts * 4))})
        step = 4
        for i in range(n_parts):
            pq.write_table(tbl.slice(i * step, step), str(d / name.format(i)))
        return str(root)

    def units(path):
        return bio._scan_units(spark.read.parquet(path), par)

    wide = docs_dir(tmp_path / "wide", par + 3)
    # fewer parts than cores at any core count above 1
    n_narrow = min(2, par - 1)
    narrow = docs_dir(tmp_path / "narrow", n_narrow)
    assert units(f"{wide}/documents.parquet") >= par
    assert units(f"{narrow}/documents.parquet") == n_narrow

    # Hive-partitioned layout (table/lang=xx/part-*.parquet): the part
    # files live one level down; they must count, not read as zero
    # top-level members and 1 unit (ADVICE r13 — that 1 inverted the
    # no-fan-out fail-safe and injected a corpus-wide REPARTITION on
    # exactly the layouts measured as harmed by fan-out).
    hive = tmp_path / "hive" / "documents.parquet"
    tbl = pa.table({"doc_id": list(range(4 * (par + 3)))})
    for i in range(par + 3):
        sub = hive / f"lang=l{i}"
        sub.mkdir(parents=True)
        pq.write_table(tbl.slice(i * 4, 4), str(sub / "part-00000.parquet"))
    assert units(str(hive)) >= par

    # Extension-less but valid parquet parts: Spark reads them, so their
    # row groups count like any other part's.
    opaque = docs_dir(tmp_path / "opaque", 2, name="data-{:05d}")
    assert units(f"{opaque}/documents.parquet") == 2

    # A footer that cannot be read (the schema is given, so Spark plans
    # the scan without reading it) → counted as wide, never fanned out.
    bad = tmp_path / "bad" / "documents.parquet"
    bad.mkdir(parents=True)
    (bad / "part-00000.parquet").write_bytes(b"not parquet")
    bad_df = spark.read.schema("doc_id long").parquet(str(bad))
    assert bio._scan_units(bad_df, par) == par
    assert bio._fanout_width(bad_df) == 0

    sql = "SELECT doc_id FROM documents"
    try:
        bio.load_fixture_tables(spark, wide, tables=("documents",), force=True)
        assert bio.fanout_rewrite(spark, sql, ("documents",)) == sql, (
            "many-part dir wrongly under-split"
        )
        assert not _is_repartition(bio.fanned_table(spark, "documents"))
        bio.load_fixture_tables(spark, narrow, tables=("documents",), force=True)
        assert f"REPARTITION({par})" in bio.fanout_rewrite(
            spark, sql, ("documents",)
        ), "2-part single-row-group dir must be fanned out"
        assert _is_repartition(bio.fanned_table(spark, "documents"), par)
    finally:
        bio.load_fixture_tables(spark, full, force=True)


def test_fanout_reads_the_live_view(spark, sf_dir, tmp_path):
    """The fan-out decision follows the documents view as it is when the
    query builds, not as it was registered: replacing the registered
    single-file view with a many-part directory turns the rewrite off."""
    from bdt_spark.sources import io as bio

    par = spark.sparkContext.defaultParallelism
    sql = "SELECT doc_id FROM documents"
    bio.load_fixture_tables(spark, sf_dir)
    try:
        assert f"REPARTITION({par})" in bio.fanout_rewrite(
            spark, sql, ("documents",)
        )
        many = str(tmp_path / "documents.parquet")
        spark.table("documents").repartition(par + 3).write.parquet(many)
        spark.read.parquet(many).createOrReplaceTempView("documents")
        assert bio.fanout_rewrite(spark, sql, ("documents",)) == sql
        assert bio.fanout_rewrite(spark, sql, ("no_such_view",)) == sql
    finally:
        bio.load_fixture_tables(spark, sf_dir, force=True)


def test_fanout_decision_runs_no_spark_job(spark, sf_dir):
    """The fan-out rule reads plans, file listings and parquet footers on
    the driver: deciding it in fanned_table, fanout_rewrite and the
    multimodal encoder starts no Spark job."""
    from bdt_spark.functions.multimodal import encode_doc_images
    from bdt_spark.sources import io as bio

    bio.load_fixture_tables(spark, sf_dir)
    sc = spark.sparkContext
    sc.setJobGroup("fanout_decision", "fan-out rule")
    try:
        fanned = bio.fanned_table(spark, "documents")
        text = bio.fanout_rewrite(
            spark, "SELECT doc_id FROM documents", ("documents",)
        )
        encoded = encode_doc_images(spark.table("documents"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("fanout_decision")
    par = sc.defaultParallelism
    # the single-file fixture is under-split, so the rule did decide
    assert f"REPARTITION({par})" in text
    assert _is_repartition(fanned, par)
    assert "Repartition" in encoded._jdf.queryExecution().analyzed().toString()


def test_fanned_only_when_input_too_coarse(spark, tmp_path):
    """The codec-stage fan-out (sources/io.fanned, the one fan-out rule)
    must repartition a one-file scan up to cluster parallelism, and be a
    NO-OP (no added shuffle) when the scan already has enough scan units
    — the property that makes it safe at 100 TB where scans come in with
    thousands of splits. The rule inspects the COMPILED plan statically,
    never .rdd (ADVICE r9: .rdd under AQE eagerly materializes upstream
    shuffle stages): a partition-determining node (coalesce/exchange)
    answers first (VERDICT r11 #5 — a coalesce(1)'d input is fanned back
    out even though its plan still lists many files), the scan's row
    groups are the fallback for scan-defined partitioning, and scan-less
    in-memory inputs are left untouched."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bdt_spark.sources.io import fanned

    par = spark.sparkContext.defaultParallelism
    one_path = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(one_path)
    one = spark.read.parquet(one_path)
    assert len(one.inputFiles()) == 1
    assert fanned(one).rdd.getNumPartitions() == par

    many_path = str(tmp_path / "many")
    spark.range(1000).repartition(par + 3).write.parquet(many_path)
    many = spark.read.parquet(many_path)
    assert len(many.inputFiles()) >= par
    assert fanned(many) is many

    # post-shuffle coarse input: many files in the plan, but an upstream
    # coalesce(1) collapsed the partitioning — must STILL fan out
    collapsed = many.coalesce(1).select("id")
    assert fanned(collapsed).rdd.getNumPartitions() == par

    # already-fanned input: a second exchange would be pure waste
    prefanned = one.repartition(par)
    assert fanned(prefanned) is prefanned

    # scan-less in-memory relation: createDataFrame already spreads its
    # slices; leaf -> undeterminable -> zero scan units -> untouched
    inmem = spark.createDataFrame([(i,) for i in range(10)], "id long")
    assert fanned(inmem) is inmem

    # ONE file holding >= par row groups already scans as >= par tasks:
    # counting files (1) would add a redundant corpus shuffle
    grouped_path = str(tmp_path / "grouped.parquet")
    pq.write_table(
        pa.table({"id": list(range(10 * (par + 1)))}), grouped_path,
        row_group_size=10,
    )
    assert pq.read_metadata(grouped_path).num_row_groups >= par
    grouped = spark.read.parquet(grouped_path)
    assert len(grouped.inputFiles()) == 1
    assert fanned(grouped) is grouped


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


# --- single-file parquet opens: the footer schema, no inference job -------


def _assert_spark_parity(spark, path):
    """read_file of one parquet file gives the schema Spark's inference
    gives, and the same rows. (The relation makes every column nullable
    on both paths, so a REQUIRED column compares at the scan, not at the
    raw footer schema.)"""
    from bdt_spark.sources import io as bio

    inferred = spark.read.parquet(path)
    footer = bio._single_parquet_footer(spark, path)
    assert footer is not None
    given = spark.read.schema(bio._footer_schema(spark, footer)).parquet(path)
    assert given.schema == inferred.schema
    df = read_file(spark, path)
    assert df.schema == bio._ntz_to_ltz(inferred).schema
    assert df.collect() == bio._ntz_to_ltz(inferred).collect()


@pytest.mark.parametrize(
    "table",
    ["customer", "documents", "embeddings", "events", "lineitem", "nation",
     "orders", "part", "region", "supplier"],
)
def test_single_parquet_file_schema_and_rows_match_spark(spark, sf_dir, table):
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    assert os.path.isfile(path)
    _assert_spark_parity(spark, path)


def test_single_parquet_file_typed_columns_match_spark(spark, tmp_path):
    """REQUIRED columns, decimal, uint32 and nested struct/list/map, as
    pyarrow writes them: the footer schema is Spark's own."""
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        pa.field("id", pa.int64(), nullable=False),
        pa.field("price", pa.decimal128(12, 2)),
        pa.field("u", pa.uint32(), nullable=False),
        pa.field("s", pa.struct([pa.field("a", pa.int32(), nullable=False),
                                 pa.field("b", pa.string())])),
        pa.field("xs", pa.list_(pa.float64())),
        pa.field("m", pa.map_(pa.string(), pa.int64())),
    ])
    table = pa.table({
        "id": [1, 2],
        "price": [Decimal("12.50"), None],
        "u": [4_000_000_000, 7],
        "s": [{"a": 1, "b": "x"}, {"a": 2, "b": None}],
        "xs": [[1.5, 2.5], []],
        "m": [[("k", 1)], None],
    }, schema=schema)
    path = str(tmp_path / "typed.parquet")
    pq.write_table(table, path)
    _assert_spark_parity(spark, path)


def test_single_parquet_file_spark_written_ntz(spark, tmp_path):
    """A Spark-written TIMESTAMP_NTZ column: Spark's schema metadata in
    the footer makes it TIMESTAMP_NTZ, and read_file then normalizes it
    to TIMESTAMP like any NTZ scan."""
    import glob

    from pyspark.sql.types import TimestampNTZType, TimestampType

    d = str(tmp_path / "ntz")
    spark.sql(
        "SELECT 1 AS k, TIMESTAMP_NTZ'2024-03-01 12:34:56.789' AS t"
    ).coalesce(1).write.parquet(d)
    [path] = glob.glob(d + "/part-*.parquet")
    _assert_spark_parity(spark, path)
    assert isinstance(spark.read.parquet(path).schema["t"].dataType,
                      TimestampNTZType)
    assert isinstance(read_file(spark, path).schema["t"].dataType,
                      TimestampType)


def test_nanos_parquet_reads_in_a_vanilla_session(spark, tmp_path):
    """TIMESTAMP(NANOS) without the nanosAsLong conf (a session not built
    by bdt_spark.session): read_file sets the conf before converting the
    footer, so the file reads as micros-truncated timestamps, from a
    single file and from a directory."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, None]
    table = pa.table({
        "k": [1, 2],
        "ts": pa.array(ns, pa.timestamp("ns")),
    })
    d = tmp_path / "nanos"
    d.mkdir()
    path = str(d / "part-0.parquet")
    pq.write_table(table, path, version="2.6")
    assert "timeUnit=nanoseconds" in str(pq.ParquetFile(path).schema)
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(conf)
    want = [dt.datetime(2023, 11, 14, 22, 13, 20, 123456), None]
    try:
        for p in (path, str(d)):
            spark.conf.unset(conf)
            df = read_file(spark, p, fmt="parquet")
            assert spark.conf.get(conf) == "true"
            assert df.schema["ts"].dataType.typeName() == "timestamp"
            got = [r.ts for r in df.orderBy("k").collect()]
            assert [g and g.replace(tzinfo=None) for g in got] == want
    finally:
        spark.conf.set(conf, old)


def test_int96_parquet_reads_as_timestamp(spark, tmp_path):
    """INT96, Spark's default timestamp encoding in a vanilla session,
    is not TIMESTAMP(NANOS): it reads as a plain timestamp, from a
    single file and from a directory."""
    import glob

    conf = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(conf)
    d = str(tmp_path / "int96")
    try:
        spark.conf.set(conf, "INT96")
        spark.sql(
            "SELECT 1 AS k, TIMESTAMP'2024-03-01 12:34:56' AS ts"
        ).coalesce(1).write.parquet(d)
    finally:
        spark.conf.set(conf, old)
    [path] = glob.glob(d + "/part-*.parquet")
    want = spark.read.parquet(path).collect()
    assert read_file(spark, path).collect() == want
    assert read_file(spark, d, fmt="parquet").collect() == want


def test_single_parquet_open_runs_no_spark_job(spark, sf_dir, tmp_path):
    """One parquet file opens from its footer on the driver, so neither
    read_file nor the fixture registration starts a Spark job; a parquet
    directory still runs Spark's inference job."""
    from bdt_spark.sources.io import load_fixture_tables

    one = f"{sf_dir}/orders.parquet"
    assert not jobs_started(spark, lambda: read_file(spark, one).schema)
    assert not jobs_started(
        spark, lambda: load_fixture_tables(spark, sf_dir, force=True)
    )
    d = str(tmp_path / "orders_dir.parquet")
    spark.read.parquet(one).repartition(3).write.parquet(d)
    assert jobs_started(spark, lambda: read_file(spark, d).schema)


def test_single_parquet_footer_leaves_globs_and_missing_paths_to_spark(
    spark, sf_dir, tmp_path
):
    from pyspark.errors import AnalysisException

    from bdt_spark.sources import io as bio

    assert bio._single_parquet_footer(spark, sf_dir) is None
    assert bio._single_parquet_footer(spark, f"{sf_dir}/region.parq*") is None
    missing = str(tmp_path / "missing.parquet")
    assert bio._single_parquet_footer(spark, missing) is None
    with pytest.raises(AnalysisException):
        read_file(spark, missing)
    assert read_file(spark, f"{sf_dir}/region.parq*", fmt="parquet").count() == 5


def test_json_columns_keep_first_record_key_order(spark, tmp_path, capsys):
    """Json columns keep the key order of the file's first record, not
    Spark's by-name order, in `schema`, in read_file and through a
    convert to parquet; a key that record lacks comes last. The first
    record is read on the driver: reading runs only Spark's inference
    job, as a plain json read does."""
    import pyarrow.parquet as pq

    from bdt_spark.cli import main
    from bdt_spark.operators.convert import convert

    p = str(tmp_path / "x.json")
    with open(p, "w") as f:
        f.write('{"z": 1, "a": "x", "m": 2.5}\n')
        f.write('{"z": 2, "a": "y", "m": 3.5, "b": true}\n')
    want = ["z", "a", "m", "b"]
    df = read_file(spark, p)
    assert df.columns == want
    assert [tuple(r) for r in df.collect()] == [
        (1, "x", 2.5, None), (2, "y", 3.5, True)
    ]
    assert main(["schema", p]) == 0
    out = capsys.readouterr().out.splitlines()
    assert [line.split()[0] for line in out[1:]] == want
    pq_out = str(tmp_path / "x.parquet")
    convert(spark, p, pq_out, single_file=True)
    assert pq.read_schema(pq_out).names == want
    d = str(tmp_path / "x_dir.json")
    convert(spark, p, d)
    assert read_file(spark, d).columns == want
    assert len(jobs_started(spark, lambda: read_file(spark, p))) == len(
        jobs_started(spark, lambda: spark.read.json(p))
    )


def test_json_key_order_reads_a_bounded_head(spark, tmp_path, monkeypatch):
    """The first record's keys come from a bounded head of the file: a
    one-line top-level JSON array, and a first line longer than the
    bound, keep Spark's by-name order."""
    from bdt_spark.sources import io as bio

    arr = str(tmp_path / "arr.json")
    with open(arr, "w") as f:
        f.write('[{"z": 1, "a": 2}, {"z": 3, "a": 4}]')
    assert read_file(spark, arr).columns == spark.read.json(arr).columns
    assert bio._first_json_keys(spark, arr) == []
    p = str(tmp_path / "long.json")
    with open(p, "w") as f:
        f.write('{"z": 1, "a": "%s"}\n{"z": 2, "a": "y"}\n' % ("x" * 100))
    assert read_file(spark, p).columns == ["z", "a"]
    monkeypatch.setattr(bio, "_JSON_HEAD_CHUNK", 16)
    monkeypatch.setattr(bio, "_JSON_HEAD_BYTES", 64)
    assert bio._first_json_keys(spark, p) == []
    assert read_file(spark, p).columns == ["a", "z"]


def test_csv_reads_rfc4180_doubled_quotes(spark, tmp_path):
    """A quote inside a quoted csv value is written doubled (RFC 4180),
    and read_file reads such a value whole."""
    p = str(tmp_path / "q.csv")
    with open(p, "w") as f:
        f.write('a,b\n1,"say ""hi"", ok"\n')
    assert [tuple(r) for r in read_file(spark, p).collect()] == [
        (1, 'say "hi", ok')
    ]


# --- the path rule: a file: URI names the file Hadoop's Path names --------


def test_file_uri_maps_as_hadoop_path(spark):
    """_file_path reads a file: URI as Hadoop's Path does: the empty
    authority goes, the rest is the path, literally."""
    from bdt_spark.sources.io import _file_path

    for uri in ("file:///x/a#b/p%20q?r", "file:/x/a#b/p%20q?r",
                "FILE:///x/a#b/p%20q?r"):
        jp = spark._jvm.org.apache.hadoop.fs.Path(uri)
        assert _file_path(uri) == jp.toUri().getPath() == "/x/a#b/p%20q?r"
    assert _file_path("/x/a#b") == "/x/a#b"
    assert _file_path("rel/a:b.csv") == "rel/a:b.csv"
    assert _file_path("s3a://bucket/t.parquet") is None
    for bad in ("file://host/x", "file://localhost/x", "file://", "file:",
                "file:x/y"):
        with pytest.raises(ValueError, match="malformed file URI"):
            _file_path(bad)


# the wrong local path the earlier percent-decoding, #-splitting parser
# read in each segment: a directory there must be left alone
_MISREAD = {"p%20q": "p q", "a#b": "a"}


@pytest.mark.parametrize("fmt", ["csv", "parquet", "arrow"])
@pytest.mark.parametrize("segment", sorted(_MISREAD))
def test_file_uri_single_file_round_trip(spark, sf_dir, tmp_path, segment, fmt):
    """`convert -s` to a file: URI whose path holds `%20` or `#` writes
    the file at the URI's literal path, and read_file of the same URI
    returns the source rows. The directory the old parser misread the
    URI as (`p q/`, or `a/` for `a#b/`) survives with its file."""
    import os

    src = f"{sf_dir}/nation.parquet"
    want = sorted(tuple(r) for r in spark.read.parquet(src).collect())
    misread = tmp_path / _MISREAD[segment]
    misread.mkdir()
    (misread / "keep.txt").write_text("kept")
    out = tmp_path / segment / f"nation.{fmt}"
    uri = f"file://{out}"

    from bdt_spark.operators.convert import convert

    convert(spark, src, uri, single_file=True)
    assert os.path.isfile(out)
    assert sorted(tuple(r) for r in read_file(spark, uri).collect()) == want
    assert (misread / "keep.txt").read_text() == "kept"
    assert os.listdir(misread) == ["keep.txt"]


def test_scan_units_open_the_files_the_index_lists(spark, sf_dir, tmp_path):
    """The file index lists its files as percent-encoded URIs (a space
    is `%20`, a `#` is `%23`); the fan-out's footer peek opens the file
    each one names, so it counts that file's row groups."""
    import shutil

    import pyarrow.parquet as pq

    from bdt_spark.sources.io import _scan_units

    d = tmp_path / "p q#1"
    d.mkdir()
    shutil.copy(f"{sf_dir}/orders.parquet", d / "orders.parquet")
    df = spark.read.parquet(str(d / "orders.parquet"))
    [uri] = df.inputFiles()
    assert "%20" in uri and "%23" in uri
    want = pq.read_metadata(d / "orders.parquet").num_row_groups
    assert _scan_units(df, want + 1) == want


@pytest.mark.parametrize("bad", ["file://host/x/t.parquet", "file://"])
def test_malformed_file_uri_raises_before_any_job(
    spark, sf_dir, tmp_path, bad
):
    """A file: URI with a host, or with no path, raises ValueError in
    convert (as input and as output), compare_files (both methods),
    merge_upsert and write_versioned before any Spark job runs."""
    from bdt_spark.operators.compare import compare_files
    from bdt_spark.operators.convert import convert
    from bdt_spark.operators.upsert import merge_upsert
    from bdt_spark.operators.versioned import write_versioned

    src = f"{sf_dir}/nation.parquet"
    delta = spark.createDataFrame([(1, "x")], "k int, v string")
    calls = [
        lambda: convert(spark, src, bad),
        lambda: convert(spark, bad, str(tmp_path / "out.parquet")),
        lambda: compare_files(spark, src, bad),
        lambda: compare_files(spark, src, bad, method="hash"),
        lambda: merge_upsert(spark, bad, delta, ["k"]),
        lambda: write_versioned(spark, bad, delta),
    ]

    def run_all():
        for call in calls:
            with pytest.raises(ValueError):
                call()

    assert not jobs_started(spark, run_all)
