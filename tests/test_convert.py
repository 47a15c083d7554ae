"""Convert round-trips validated with the compare engine — the reference's
own test idea (SURVEY §5: convert round-trips checked with compare)."""

import os

import pytest

from bdt_spark.operators.compare import compare_files
from bdt_spark.operators.convert import (
    _TEXT_TIMESTAMP_OPTIONS,
    UnsupportedOutputError,
    convert,
)
from bdt_spark.sources.io import _CSV_OPTIONS, read_file


def test_parquet_to_csv_single_file(spark, sf_dir, tmp_path):
    out = str(tmp_path / "region.csv")
    convert(spark, f"{sf_dir}/region.parquet", out, single_file=True)
    assert os.path.isfile(out)
    df = spark.read.option("header", "true").csv(out)
    assert df.count() == spark.read.parquet(f"{sf_dir}/region.parquet").count()


def test_roundtrip_parquet_csv_parquet(spark, sf_dir, tmp_path):
    csv_out = str(tmp_path / "nation.csv")
    pq_out = str(tmp_path / "nation2.parquet")
    convert(spark, f"{sf_dir}/nation.parquet", csv_out, single_file=True)
    convert(spark, csv_out, pq_out, single_file=True)
    res = compare_files(None, f"{sf_dir}/nation.parquet", pq_out)
    assert res.ok, res.message


def test_parquet_to_json(spark, sf_dir, tmp_path):
    out = str(tmp_path / "region.json")
    convert(spark, f"{sf_dir}/region.parquet", out, single_file=True)
    df = spark.read.json(out)
    assert df.count() == 5


def test_zstd_parquet(spark, sf_dir, tmp_path):
    out = str(tmp_path / "region_z.parquet")
    convert(spark, f"{sf_dir}/region.parquet", out, single_file=True, zstd=True)
    import pyarrow.parquet as pq

    md = pq.ParquetFile(out).metadata
    assert md.row_group(0).column(0).compression == "ZSTD"


def test_avro_output_rejected(spark, sf_dir, tmp_path):
    # parity with convert.rs:37-39
    with pytest.raises(UnsupportedOutputError):
        convert(spark, f"{sf_dir}/region.parquet", str(tmp_path / "x.avro"))


def test_partitioned_parquet_write(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_part.parquet")
    convert(spark, f"{sf_dir}/orders.parquet", out,
            partition_by=["o_orderstatus"])
    import os

    subdirs = [d for d in os.listdir(out) if d.startswith("o_orderstatus=")]
    assert len(subdirs) >= 2
    # partition pruning: reading one status scans only its directory
    df = spark.read.parquet(out).filter("o_orderstatus = 'F'")
    total = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        "o_orderstatus = 'F'"
    )
    assert df.count() == total.count()


def test_partition_by_single_file_conflict(spark, sf_dir, tmp_path):
    with pytest.raises(ValueError):
        convert(spark, f"{sf_dir}/orders.parquet",
                str(tmp_path / "x.parquet"),
                single_file=True, partition_by=["o_orderstatus"])


@pytest.mark.slow
def test_nested_struct_roundtrip(spark, tmp_path):
    # nested struct/array columns must survive parquet round-trips (the
    # reference's compare todo!()s on nested; we support them end-to-end)
    from pyspark.sql import functions as F

    from bdt_spark.operators.compare import compare_files

    df = spark.createDataFrame(
        [(1, {"a": 1, "b": "x"}, [1, 2]), (2, {"a": 2, "b": "y"}, [3])],
        "id int, s struct<a:int,b:string>, arr array<int>",
    )
    p1 = str(tmp_path / "n1.parquet")
    p2 = str(tmp_path / "n2.parquet")
    df.coalesce(1).orderBy("id").write.parquet(p1)
    spark.read.parquet(p1).coalesce(1).orderBy("id").write.parquet(p2)
    got = spark.read.parquet(p2).orderBy("id").collect()
    assert got[0].s.b == "x" and got[1].arr == [3]
    # distributed hash compare handles nested columns
    assert compare_files(spark, p1, p2, method="hash").ok


def test_convert_avro_to_parquet(spark, tmp_path):
    """The reference's avro flow is read-avro -> query/write other formats
    (utils.rs:62-64; avro OUT is rejected, convert.rs:37-39). Prove the
    same: an .avro input converts to parquet losslessly."""
    from bdt_spark.operators.convert import convert
    from bdt_spark.sources.avro import write_avro
    from harness import spark_schema_to_avro

    src = spark.range(10).selectExpr(
        "id", "CAST(id * 1.5 AS DOUBLE) AS x", "CAST(id AS STRING) AS s"
    )
    avro_path = tmp_path / "in.avro"
    avro_path.write_bytes(
        write_avro(
            [r.asDict() for r in src.collect()],
            spark_schema_to_avro(src.schema),
        )
    )
    out = str(tmp_path / "out.parquet")
    convert(spark, str(avro_path), out)
    back = spark.read.parquet(out)
    assert back.count() == 10
    assert {r.id: (r.x, r.s) for r in back.collect()} == {
        r.id: (r.x, r.s) for r in src.collect()
    }


def test_arrow_write_roundtrip_under_compare(spark, sf_dir, tmp_path):
    """Round 7: Arrow IPC as a WRITE target (the reference panics on
    Arrow both directions). parquet -> arrow -> parquet, the end result
    verified identical to the source by the compare operator."""
    from bdt_spark.operators.compare import compare_files
    from bdt_spark.operators.convert import convert

    src = f"{sf_dir}/orders.parquet"
    arrow_dir = str(tmp_path / "orders.arrow")
    back = str(tmp_path / "orders_back.parquet")
    convert(spark, src, arrow_dir)
    import glob as _glob

    parts = _glob.glob(arrow_dir + "/part-*.arrow")
    assert parts, "expected per-partition .arrow files"
    convert(spark, arrow_dir, back)
    res = compare_files(spark, src, back)
    assert res.ok, res


def test_arrow_write_single_file_and_zstd(spark, sf_dir, tmp_path):
    """single_file produces ONE .arrow file at the exact path; zstd
    compresses IPC buffers (file stays readable and smaller than the
    uncompressed single file on this column-repetitive table)."""
    import os as _os

    from bdt_spark.operators.convert import convert
    from bdt_spark.sources.io import read_file

    plain = str(tmp_path / "nation_plain.arrow")
    comp = str(tmp_path / "nation_zstd.arrow")
    convert(spark, f"{sf_dir}/orders.parquet", plain, single_file=True)
    convert(spark, f"{sf_dir}/orders.parquet", comp, single_file=True, zstd=True)
    assert _os.path.isfile(plain) and _os.path.isfile(comp)
    n_src = read_file(spark, f"{sf_dir}/orders.parquet").count()
    assert read_file(spark, plain).count() == n_src
    assert read_file(spark, comp).count() == n_src
    assert _os.path.getsize(comp) < _os.path.getsize(plain)


def test_arrow_write_empty_input_schema_only(spark, tmp_path):
    """Empty source -> schema-only IPC file, still readable with the
    right schema and zero rows."""
    from bdt_spark.operators.convert import convert
    from bdt_spark.sources.io import read_file

    src = str(tmp_path / "empty.parquet")
    spark.range(0).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(src)
    out = str(tmp_path / "empty.arrow")
    convert(spark, src, out, single_file=True)
    back = read_file(spark, out)
    assert back.count() == 0
    assert [f.name for f in back.schema.fields] == ["id", "s"]


def test_arrow_dir_write_commits_with_success_marker(spark, sf_dir, tmp_path):
    """Directory Arrow output carries a _SUCCESS marker and no attempt
    temp files — the commit contract Spark's built-in sinks give."""
    import glob as _glob
    import os

    from bdt_spark.operators.convert import convert

    out = str(tmp_path / "nation_dir.arrow")
    convert(spark, f"{sf_dir}/nation.parquet", out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert _glob.glob(os.path.join(out, "*.tmp")) == []
    assert _glob.glob(os.path.join(out, "part-*.arrow"))


def test_arrow_write_failed_job_leaves_no_marker_or_partials(spark, tmp_path):
    """A task that dies mid-stream must not commit its part file, and the
    failed job must leave NO _SUCCESS marker — partial output stays
    distinguishable from complete output. (Each attempt streams into its
    own .tmp and only a clean close renames it into place.)"""
    import glob as _glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from bdt_spark.operators.convert import _write_arrow

    # one partition poisoned: assert_true raises mid-batch executor-side
    df = (
        spark.range(0, 100, 1, 4)
        .withColumn("ok", F.expr("assert_true(id != 57, 'boom')"))
    )
    out = str(tmp_path / "poisoned.arrow")
    with pytest.raises(Exception, match="boom"):
        _write_arrow(df, out, single_file=False, zstd=False)
    assert not os.path.exists(os.path.join(out, "_SUCCESS"))
    # the poisoned partition committed nothing (its temp was discarded);
    # at most the healthy partitions' complete files exist
    assert _glob.glob(os.path.join(out, "*.tmp")) == []
    assert len(_glob.glob(os.path.join(out, "part-*.arrow"))) < 4


def test_arrow_zstd_unavailable_fails_driver_side(spark, sf_dir, tmp_path, monkeypatch):
    """zstd support is validated on the driver BEFORE any job launches:
    simulate a pyarrow build without zstd and expect one clear error,
    not per-task executor stack traces."""
    import pyarrow as pa
    import pytest

    from bdt_spark.operators.convert import convert

    real = pa.Codec

    class FakeCodec:
        @staticmethod
        def is_available(name):
            return False if name == "zstd" else real.is_available(name)

    # pyarrow.lib.Codec is an immutable C type: swap the module attribute
    # instead (the writer resolves it via `pa.Codec` at call time)
    monkeypatch.setattr(pa, "Codec", FakeCodec)
    with pytest.raises(RuntimeError, match="zstd"):
        convert(
            spark,
            f"{sf_dir}/nation.parquet",
            str(tmp_path / "z.arrow"),
            zstd=True,
        )


def test_orc_write_roundtrip_under_compare(spark, sf_dir, tmp_path):
    # ORC out (EXTENSION — the reference's FileFormat enum has no ORC arm,
    # utils.rs:12-23): parquet -> orc -> compare equal to the source, and
    # the .orc extension dispatches through register/read like any format
    out = str(tmp_path / "nation.orc")
    convert(spark, f"{sf_dir}/nation.parquet", out)
    res = compare_files(None, f"{sf_dir}/nation.parquet", out)
    assert res.ok, res.message
    from bdt_spark.sources.io import file_format, read_file

    assert file_format(out) == "orc"
    df = read_file(spark, out)
    assert df.count() == spark.read.parquet(f"{sf_dir}/nation.parquet").count()


def test_orc_zstd_single_file(spark, sf_dir, tmp_path):
    out = str(tmp_path / "region_z.orc")
    convert(spark, f"{sf_dir}/region.parquet", out, single_file=True, zstd=True)
    assert os.path.isfile(out)
    import pyarrow.orc as po

    f = po.ORCFile(out)
    assert f.compression.upper() == "ZSTD"
    assert f.nrows == 5


@pytest.mark.parametrize("as_uri", [False, True], ids=["path", "file_uri"])
def test_arrow_convert_roundtrip_plain_path_and_file_uri(
    spark, sf_dir, tmp_path, as_uri
):
    """A `file:` URI names the same local file as its plain path: convert
    to .arrow (directory and single file) writes at that path, the
    output reads back, and a session-less positional compare of the
    output and of its round trip against the source passes. Any other scheme is refused
    on these driver-local paths before a job runs."""
    from bdt_spark.sources.io import read_file

    def p(path):
        return f"file://{path}" if as_uri else path

    src = os.path.abspath(f"{sf_dir}/supplier.parquet")
    src_rows = sorted(spark.read.parquet(src).collect())
    for single in (False, True):
        out = str(tmp_path / f"supplier_{single}.arrow")
        back = str(tmp_path / f"supplier_{single}_back.parquet")
        convert(spark, p(src), p(out), single_file=single)
        assert (os.path.isfile if single else os.path.isdir)(out)
        assert sorted(read_file(spark, p(out)).collect()) == src_rows
        convert(spark, p(out), p(back), single_file=True)
        for copy in (out, back):
            res = compare_files(None, p(src), p(copy))
            assert res.ok and res.method == "positional", res

    with pytest.raises(ValueError, match="file: URI"):
        convert(spark, p(src), "s3a://bucket/supplier.arrow")
    with pytest.raises(ValueError, match="file: URI"):
        compare_files(None, p(src), "s3a://bucket/supplier.parquet")


# --- single-file writes: parallel csv/json parts, concatenated ------------


def _coalesced_bytes(df, fmt: str, out: str) -> bytes:
    """The one part a coalesce(1) write of `df` gives: the bytes a
    single-file csv/json output must equal."""
    import glob

    w = df.coalesce(1).write.mode("overwrite").options(**_TEXT_TIMESTAMP_OPTIONS)
    if fmt == "csv":
        w.option("header", "true").options(**_CSV_OPTIONS).csv(out)
    else:
        w.json(out)
    [part] = glob.glob(os.path.join(out, "part-*"))
    with open(part, "rb") as f:
        return f.read()


@pytest.fixture()
def parts_seen(monkeypatch):
    """Part counts each single-file commit found, in call order, and how
    many of those commits concatenated parts."""
    from bdt_spark.operators import convert as conv

    seen = {"parts": [], "concats": 0}
    real_parts, real_concat = conv._part_files, conv._concat_parts

    def part_files(d):
        out = real_parts(d)
        seen["parts"].append(len(out))
        return out

    def concat_parts(parts, dst, *, header):
        seen["concats"] += 1
        return real_concat(parts, dst, header=header)

    monkeypatch.setattr(conv, "_part_files", part_files)
    monkeypatch.setattr(conv, "_concat_parts", concat_parts)
    return seen


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_single_file_line_formats_match_coalesce_bytes(
    spark, sf_dir, tmp_path, fmt, parts_seen
):
    """A 3-part input writes 3 parts in parallel; concatenated in
    partition order (later csv headers dropped) they are byte-identical
    to a coalesce(1) write of the same input."""
    src = str(tmp_path / "orders3.parquet")
    spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(3).write.parquet(src)
    out = str(tmp_path / f"orders.{fmt}")
    # one read partition per file at any core count: an open cost above
    # the largest split keeps each file in a partition of its own
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(1 << 30))
    try:
        convert(spark, src, out, single_file=True)
    finally:
        spark.conf.set(key, old)
    assert parts_seen == {"parts": [3], "concats": 1}
    want = _coalesced_bytes(read_file(spark, src), fmt, str(tmp_path / "ref"))
    with open(out, "rb") as f:
        assert f.read() == want
    assert not os.path.exists(out + "._spark_tmp")


def test_single_file_csv_empty_input_is_header_only(spark, tmp_path):
    src = str(tmp_path / "empty.parquet")
    spark.range(0).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(src)
    out = str(tmp_path / "empty.csv")
    convert(spark, src, out, single_file=True)
    with open(out, "rb") as f:
        got = f.read()
    assert got == b"id,s\n"
    assert got == _coalesced_bytes(
        read_file(spark, src), "csv", str(tmp_path / "ref")
    )


def test_single_file_csv_quoted_column_names(spark, tmp_path, parts_seen):
    """Column names holding a comma and a quote are quoted in every
    part's header; the header is kept once and the file reads back."""
    src = str(tmp_path / "names.parquet")
    spark.range(30).selectExpr(
        "id AS `a,b`", "CAST(id * 2 AS STRING) AS `c\"d`"
    ).repartition(3).write.parquet(src)
    out = str(tmp_path / "names.csv")
    convert(spark, src, out, single_file=True)
    assert parts_seen["concats"] == 1
    with open(out, "rb") as f:
        got = f.read()
    assert got == _coalesced_bytes(
        read_file(spark, src), "csv", str(tmp_path / "ref")
    )
    back = read_file(spark, out)
    assert back.columns == ["a,b", 'c"d']
    assert back.count() == 30


def test_single_file_csv_header_mismatch_raises(tmp_path):
    from bdt_spark.sources.io import _concat_parts

    a, b = tmp_path / "part-00000.csv", tmp_path / "part-00001.csv"
    a.write_bytes(b"x,y\n1,2\n")
    b.write_bytes(b"x,z\n3,4\n")
    with open(tmp_path / "out.csv", "wb") as dst, pytest.raises(
        ValueError, match="header"
    ):
        _concat_parts([str(a), str(b)], dst, header=True)


@pytest.mark.parametrize(
    "name,zstd",
    [("out.csv", True), ("out.parquet", False), ("out.orc", False),
     ("out.arrow", False), ("line_break.csv", False)],
)
def test_single_file_other_outputs_stay_one_part(
    spark, tmp_path, name, zstd, parts_seen, monkeypatch
):
    """Footer formats and csv whose header would span lines cannot be
    concatenated: they still coalesce(1) to one part. Text is written
    uncompressed under zstd, so zstd csv concatenates its parts into the
    bytes of the plain write."""
    src = str(tmp_path / "src.parquet")
    col = "`a\nb`" if name == "line_break.csv" else "a"
    spark.range(30).selectExpr(f"id AS {col}").repartition(3).write.parquet(src)
    coalesced = []
    frame = type(spark.range(1))
    real_coalesce = frame.coalesce
    monkeypatch.setattr(
        frame, "coalesce",
        lambda self, n: coalesced.append(n) or real_coalesce(self, n),
    )
    out = str(tmp_path / name)
    convert(spark, src, out, single_file=True, zstd=zstd)
    if zstd:
        plain = str(tmp_path / f"plain_{name}")
        convert(spark, src, plain, single_file=True)
        assert coalesced == [] and parts_seen["concats"] == 2
        with open(out, "rb") as f, open(plain, "rb") as g:
            assert f.read() == g.read()
        return
    assert coalesced == [1]
    assert parts_seen == {"parts": [1], "concats": 0}
    assert os.path.isfile(out)
    if name == "line_break.csv":
        back = spark.read.option("header", "true").option(
            "multiLine", "true"
        ).csv(out)
        assert back.columns == ["a\nb"] and back.count() == 30
    else:
        assert read_file(spark, out).count() == 30


@pytest.mark.parametrize("fmt", ["csv", "json"])
@pytest.mark.parametrize("single_file", [True, False])
def test_zstd_text_output_is_written_plain(
    spark, sf_dir, tmp_path, fmt, single_file
):
    """zstd compresses no text format, as in the reference, which sets it
    through parquet writer properties (convert.rs:23-34): a csv or json
    write under zstd succeeds, single file or directory, with the bytes
    of the plain write."""
    from bdt_spark.sources.io import _part_files

    def write(name, zstd):
        out = str(tmp_path / f"{name}.{fmt}")
        convert(spark, f"{sf_dir}/nation.parquet", out,
                single_file=single_file, zstd=zstd)
        paths = [out] if single_file else _part_files(out)
        contents = []
        for p in paths:
            with open(p, "rb") as f:
                contents.append(f.read())
        return contents

    assert write("z", True) == write("plain", False)


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_text_copies_keep_microseconds(spark, sf_dir, tmp_path, fmt):
    """Single-file csv and json copies of sf0.01 events hold ts with all
    six fraction digits (07.179575, not 07.179), and csv doubles the
    quotes inside props' json text (RFC 4180, not a backslash escape),
    so a positional compare against the source says they match."""
    src = os.path.join(
        os.path.dirname(sf_dir.rstrip("/")), "sf0.01", "events.parquet"
    )
    if not os.path.exists(src):
        pytest.skip("needs the sf0.01 fixtures")
    out = str(tmp_path / f"events.{fmt}")
    convert(spark, src, out, single_file=True)
    with open(out) as f:
        text = f.read()
    assert "00:00:07.179575" in text
    if fmt == "csv":
        assert '"{""k"": 69}"' in text
    res = compare_files(None, src, out, method="positional")
    assert res.ok, res.message


def test_json_hop_keeps_column_order(spark, sf_dir, tmp_path):
    """parquet -> json -> parquet gives back the source's column order
    (json columns follow the first record's keys), so the copy compares
    positionally as sf0.01 nation."""
    src = os.path.join(
        os.path.dirname(sf_dir.rstrip("/")), "sf0.01", "nation.parquet"
    )
    if not os.path.exists(src):
        pytest.skip("needs the sf0.01 fixtures")
    js, back = str(tmp_path / "nation.json"), str(tmp_path / "nation.parquet")
    convert(spark, src, js, single_file=True)
    convert(spark, js, back, single_file=True)
    res = compare_files(None, src, back, method="positional")
    assert res.message == "Files match"
