"""Avro container-file support: pure-Python spec decoder (sources/avro.py)
distributed via binaryFile + mapInPandas. The reference reads avro
natively (utils.rs:62-64, feature flag Cargo.toml:22); this environment
has no spark-avro jar, so the decoder is implemented from the public Avro
spec and these tests pin it with writer->reader round-trips."""

import datetime
import io
from decimal import Decimal

import pytest

from bdt_spark.sources.avro import (
    AvroError,
    avro_schema_to_spark,
    decode_range,
    write_avro,
)
from bdt_spark.sources.io import read_file
from harness import spark_schema_to_avro


def _decode_whole(raw: bytes):
    """A whole container file held in memory, decoded as one range."""
    return decode_range(io.BytesIO(raw), 0, len(raw))


def _write(tmp_path, name, rows, avro_schema, codec="deflate"):
    p = tmp_path / name
    p.write_bytes(write_avro(rows, avro_schema, codec=codec))
    return str(p)


BASIC_SCHEMA = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "score", "type": "double"},
        {"name": "ok", "type": "boolean"},
    ],
}
BASIC_ROWS = [
    {"id": 1, "name": "alpha", "score": 1.5, "ok": True},
    {"id": 2, "name": None, "score": -2.25, "ok": False},
    {"id": 3, "name": "γδ", "score": 0.0, "ok": True},
]


def test_decode_roundtrip_both_codecs():
    for codec in ("null", "deflate"):
        raw = write_avro(BASIC_ROWS, BASIC_SCHEMA, codec=codec)
        schema, rows = _decode_whole(raw)
        assert schema["name"] == "t"
        assert rows == BASIC_ROWS


def test_spark_reads_avro_file(spark, tmp_path):
    p = _write(tmp_path, "basic.avro", BASIC_ROWS, BASIC_SCHEMA)
    df = read_file(spark, p)
    assert df.columns == ["id", "name", "score", "ok"]
    got = {r.id: (r.name, r.score, r.ok) for r in df.collect()}
    assert got == {
        1: ("alpha", 1.5, True),
        2: (None, -2.25, False),
        3: ("γδ", 0.0, True),
    }


def test_spark_reads_avro_directory(spark, tmp_path):
    _write(tmp_path, "p1.avro", BASIC_ROWS[:2], BASIC_SCHEMA)
    _write(tmp_path, "p2.avro", BASIC_ROWS[2:], BASIC_SCHEMA)
    df = read_file(spark, str(tmp_path), fmt="avro")
    assert df.count() == 3
    assert {r.id for r in df.collect()} == {1, 2, 3}


def test_block_split_single_file_many_tasks(spark, tmp_path, monkeypatch):
    """One multi-block container file must fan out to >1 task (block-range
    input splits), and adjacent ranges must neither skip nor double-read
    blocks — total rows and values stay exact."""
    import bdt_spark.sources.io as io_mod
    rows = [
        {"id": i, "name": f"name-{i}", "score": i * 0.5, "ok": i % 2 == 0}
        for i in range(5000)
    ]
    # small blocks -> many sync points; small split size -> many ranges
    p = tmp_path / "big.avro"
    p.write_bytes(write_avro(rows, BASIC_SCHEMA, codec="null", block_bytes=2048))
    monkeypatch.setattr(io_mod, "AVRO_SPLIT_BYTES", 16 << 10)

    df = read_file(spark, str(p))
    assert df.rdd.getNumPartitions() > 1
    got = df.collect()
    assert len(got) == 5000
    assert {r.id for r in got} == set(range(5000))
    assert {r.name for r in got if r.id == 4321} == {"name-4321"}

    # the same file decoded as one full range gives identical rows
    with open(p, "rb") as f:
        _, whole = decode_range(f, 0, p.stat().st_size)
    assert len(whole) == 5000


def _write_mixed_schemas(tmp_path):
    other = {
        "type": "record",
        "name": "t2",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "extra", "type": "double"},
        ],
    }
    _write(tmp_path, "a1.avro", BASIC_ROWS[:1], BASIC_SCHEMA)
    _write(tmp_path, "a2.avro", [{"id": 9, "extra": 1.0}], other)


def test_avro_schema_mismatch_across_files_raises(spark, tmp_path):
    """A directory whose files carry different writer schemas must error,
    not silently null/drop columns (ADVICE r4), and the error names the
    odd file."""
    _write_mixed_schemas(tmp_path)
    df = read_file(spark, str(tmp_path), fmt="avro")
    with pytest.raises(Exception, match=r"schema mismatch in '[^']*a2\.avro'"):
        df.collect()


def test_avro_whole_file_schema_mismatch_names_the_file(spark, tmp_path, monkeypatch):
    """The path a non-`file:` URI takes (each file read whole through
    Spark's binaryFile source, decoded from memory) names the odd file
    in its schema-mismatch error too."""
    import bdt_spark.sources.io as io_mod

    monkeypatch.setattr(io_mod, "_file_path", lambda p: None)
    _write_mixed_schemas(tmp_path)
    df = read_file(spark, str(tmp_path), fmt="avro")
    with pytest.raises(Exception, match=r"schema mismatch in '[^']*a2\.avro'"):
        df.collect()


def test_far_future_timestamp_micros_exact(spark, tmp_path):
    """enc_ts uses exact integer micros: float total_seconds() rounds
    ~0.5us off near year 2100 (ADVICE r4)."""
    schema = {
        "type": "record",
        "name": "ts",
        "fields": [
            {
                "name": "t",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            }
        ],
    }
    v = datetime.datetime(2099, 12, 31, 23, 59, 59, 999999)
    raw = write_avro([{"t": v}], schema, codec="null")
    _, rows = _decode_whole(raw)
    got = rows[0]["t"]
    assert (got.replace(tzinfo=None) if got.tzinfo else got) == v


def test_complex_types_roundtrip(spark, tmp_path):
    schema = {
        "type": "record",
        "name": "c",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "attrs", "type": {"type": "map", "values": "long"}},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [
                        {"name": "x", "type": "double"},
                        {"name": "y", "type": ["null", "string"]},
                    ],
                },
            },
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
            {
                "name": "price",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 10,
                    "scale": 2,
                },
            },
        ],
    }
    rows = [
        {
            "id": 1,
            "tags": ["a", "b"],
            "attrs": {"k1": 10, "k2": -3},
            "nested": {"x": 1.25, "y": "yes"},
            "d": datetime.date(2024, 2, 29),
            "ts": datetime.datetime(2024, 2, 29, 12, 30, 45, 123456),
            "price": Decimal("12345.67"),
        },
        {
            "id": 2,
            "tags": [],
            "attrs": {},
            "nested": {"x": -0.5, "y": None},
            "d": datetime.date(1969, 12, 31),
            "ts": datetime.datetime(1969, 12, 31, 23, 59, 59),
            "price": Decimal("-0.01"),
        },
    ]
    p = _write(tmp_path, "complex.avro", rows, schema)
    df = read_file(spark, p)
    got = {r.id: r for r in df.collect()}
    assert got[1].tags == ["a", "b"]
    assert got[1].attrs == {"k1": 10, "k2": -3}
    assert got[1].nested.x == 1.25 and got[1].nested.y == "yes"
    assert got[1].d == datetime.date(2024, 2, 29)
    assert got[1].ts == datetime.datetime(2024, 2, 29, 12, 30, 45, 123456)
    assert got[1].price == Decimal("12345.67")
    assert got[2].tags == [] and got[2].attrs == {}
    assert got[2].nested.y is None
    assert got[2].d == datetime.date(1969, 12, 31)
    assert got[2].price == Decimal("-0.01")


def test_schema_conversion_matches_spark_read(spark, tmp_path):
    st = avro_schema_to_spark(BASIC_SCHEMA)
    p = _write(tmp_path, "s.avro", BASIC_ROWS, BASIC_SCHEMA)
    assert read_file(spark, p).schema == st


def test_spark_schema_to_avro_roundtrip(spark, tmp_path):
    df = spark.range(3).selectExpr(
        "id", "CAST(id AS DOUBLE) AS x", "CAST(id AS STRING) AS s"
    )
    avs = spark_schema_to_avro(df.schema)
    rows = [r.asDict() for r in df.collect()]
    p = _write(tmp_path, "rt.avro", rows, avs)
    back = read_file(spark, p)
    assert sorted(r.id for r in back.collect()) == [0, 1, 2]
    assert [f.name for f in back.schema.fields] == ["id", "x", "s"]


def test_bad_magic_and_codec_errors(tmp_path):
    with pytest.raises(AvroError, match="magic"):
        _decode_whole(b"NOPE" + b"\x00" * 32)
    raw = bytearray(write_avro(BASIC_ROWS, BASIC_SCHEMA, codec="null"))
    # corrupt the sync marker of the data block
    raw[-1] ^= 0xFF
    with pytest.raises(AvroError, match="sync"):
        _decode_whole(bytes(raw))


def test_union_null_first_or_last_roundtrips():
    """[null, X] and [X, null] must both write the VALUE branch for
    non-null values. Regression: branch selection assumed null-at-0 and
    otherwise wrote branch 0 — for ['null','long','string'] (or any
    general union) a non-null value was encoded on the NULL branch and
    read back as None (silent corruption); general unions now refuse to
    encode, loudly."""
    for union in (["null", "long"], ["long", "null"]):
        schema = {
            "type": "record",
            "name": "U",
            "fields": [{"name": "f", "type": union}],
        }
        raw = write_avro([{"f": 42}, {"f": None}], schema)
        _, rows = _decode_whole(raw)
        assert [r["f"] for r in rows] == [42, None]
    multi = {
        "type": "record",
        "name": "M",
        "fields": [{"name": "f", "type": ["null", "long", "string"]}],
    }
    with pytest.raises(AvroError, match="non-null branches"):
        write_avro([{"f": 42}], multi)


def test_timestamp_millis_write_roundtrips():
    """The decoder supports timestamp-millis; the encoder fell through to
    the bare long encoder and crashed on datetime values."""
    from datetime import datetime, timezone

    schema = {
        "type": "record",
        "name": "T",
        "fields": [
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-millis"},
            }
        ],
    }
    v = datetime(2024, 3, 1, 12, 30, 45, 123000, tzinfo=timezone.utc)
    _, rows = _decode_whole(write_avro([{"ts": v}], schema))
    # decoder yields naive UTC (session pinned to UTC)
    assert rows[0]["ts"] == v.replace(tzinfo=None)


def test_recursive_schema_clear_error():
    """A self-referential record must raise AvroError (the documented
    contract), not die in RecursionError ~1000 frames deep."""
    schema = {
        "type": "record",
        "name": "Node",
        "fields": [
            {"name": "v", "type": "long"},
            {"name": "next", "type": ["null", "Node"]},
        ],
    }
    with pytest.raises(AvroError, match="recursive"):
        write_avro([{"v": 1, "next": None}], schema)


# ---------------------------------------------------------------------------
# property-based round-trip fuzzing (hypothesis)
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings, strategies as st

    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False

if HAVE_HYP:
    scalars = st.one_of(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.floats(allow_nan=False, width=64),
        st.text(max_size=40),
        st.booleans(),
        st.binary(max_size=40),
        st.none(),
    )

    def _schema_for(value):
        if value is None:
            return ["null", "long"]
        if isinstance(value, bool):
            return ["null", "boolean"]
        if isinstance(value, int):
            return ["null", "long"]
        if isinstance(value, float):
            return ["null", "double"]
        if isinstance(value, bytes):
            return ["null", "bytes"]
        return ["null", "string"]

    @pytest.mark.slow
    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(scalars, scalars, st.lists(st.text(max_size=8), max_size=4)),
            max_size=20,
        ),
        st.sampled_from(["null", "deflate"]),
    )
    def test_fuzz_roundtrip(rows_data, codec):
        """Any (scalar, scalar, array<string>) rows survive write->decode
        bit-exactly under both codecs."""
        # per-column schema must be consistent: derive from first non-null
        col_a = next((v for v, _, _ in rows_data if v is not None), None)
        col_b = next((v for _, v, _ in rows_data if v is not None), None)
        schema = {
            "type": "record",
            "name": "fz",
            "fields": [
                {"name": "a", "type": _schema_for(col_a)},
                {"name": "b", "type": _schema_for(col_b)},
                {"name": "tags", "type": {"type": "array", "items": "string"}},
            ],
        }
        rows = [
            {
                "a": v if type(v) is type(col_a) or v is None else None,
                "b": w if type(w) is type(col_b) or w is None else None,
                "tags": t,
            }
            for v, w, t in rows_data
        ]
        raw = write_avro(rows, schema, codec=codec)
        _, back = _decode_whole(raw)
        assert back == rows


if HAVE_HYP:

    @settings(max_examples=40, deadline=None)
    @given(
        n_rows=st.integers(min_value=0, max_value=400),
        block_bytes=st.integers(min_value=64, max_value=4096),
        split_bytes=st.integers(min_value=128, max_value=8192),
        codec=st.sampled_from(["null", "deflate"]),
    )
    def test_range_splits_reconstruct_file_exactly(
        tmp_path_factory, n_rows, block_bytes, split_bytes, codec
    ):
        """Input-split contract: for ANY block size and ANY split size,
        the union of decode_range over adjacent [k*split, (k+1)*split)
        ranges equals the whole-file decode — no block skipped, none
        double-read."""
        import os

        from bdt_spark.sources.avro import decode_range, write_avro

        rows = [
            {"id": i, "name": f"n{i}" * (i % 7), "score": i * 0.25, "ok": i % 3 == 0}
            for i in range(n_rows)
        ]
        raw = write_avro(rows, BASIC_SCHEMA, codec=codec, block_bytes=block_bytes)
        d = tmp_path_factory.mktemp("avro_prop")
        p = str(d / "f.avro")
        with open(p, "wb") as f:
            f.write(raw)
        size = os.path.getsize(p)
        got = []
        with open(p, "rb") as f:
            for start in range(0, max(size, 1), split_bytes):
                _, part = decode_range(f, start, min(start + split_bytes, size))
                got.extend(part)
        _, whole = _decode_whole(raw)
        assert got == whole == rows
