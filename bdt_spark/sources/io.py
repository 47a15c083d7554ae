"""File registration and table-name inference.

Reimplements the reference's native pieces (reference citations for parity):
- format dispatch by extension      -> utils.rs:12-23 (FileFormat enum)
- sanitize_table_name               -> utils.rs:41-51
- register_table                    -> utils.rs:53-87
- directory registration (--tables) -> main.rs:154-166

Differences (documented improvements, not regressions):
- The reference leaves Arrow `unimplemented!()` (utils.rs:59-61); we read
  .arrow/.feather distributed, one task per file, over `binaryFile` +
  mapInPandas (the schema from the first file's footer on the driver).
- ORC added (native Spark reader; not in the reference).
- Avro reads natively via the spark-avro jar when present; without it
  (this environment) a self-contained pure-Python container-file decoder
  (sources/avro.py, written from the public Avro spec) runs distributed
  over `binaryFile` + Arrow-batched mapInPandas — per-file parallelism.

Scale notes: `spark.read.parquet(dir)` accepts a directory of files natively
(the DataFusion listing-table equivalent). Schema inference for CSV/JSON is
Spark's: two jobs, a header read and a pass over the WHOLE input (sf1
orders, a 107 MB csv: 1.2-1.5 s warm on 4 cores, 1.1 s of a 2.5 s
csv->parquet convert). The reference's eager inference at registration
(utils.rs:66-72) reads far less: DataFusion's `CsvReadOptions` infers from
at most `schema_infer_max_records` rows (documented default 1000). A
bounded-head variant is a measured ROADMAP candidate, not built: it makes
a type that drifts after the head raise instead of widen. A single
parquet file needs no scan: its
schema is in its footer, which read_file reads on the driver, so opening it
runs no Spark job.

One path rule: a path names the same file to Spark (Hadoop's `Path`) and
to driver-local os/pyarrow code. `_file_path`, the one `file:` URI parser,
reads a URI as `Path` does: the optional empty `//` authority goes, the
rest is the path, literally (`file:///x/a#b/p%20q` is `/x/a#b/p%20q`);
a host or a missing path raises ValueError before any job. Driver-side
Hadoop access goes through one handle, `hadoop_fs`, under the session's
Hadoop conf, the one Spark's readers and writers use.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Mapping
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

# Extension -> Spark reader format. Mirrors utils.rs:12-23 plus extensions.
EXTENSION_FORMATS = {
    "parquet": "parquet",
    "parq": "parquet",  # utils.rs:17
    "csv": "csv",
    "tsv": "csv",
    "json": "json",  # newline-delimited, utils.rs:70-72
    "ndjson": "json",
    "avro": "avro",
    "orc": "orc",
    "arrow": "arrow",  # reference: unimplemented!(); here: pyarrow bridge
    "feather": "arrow",
}

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class UnsupportedFormatError(ValueError):
    """Mirrors the reference's error for unknown extensions (utils.rs:18-21)."""


def file_format(path: str) -> str:
    """Extension dispatch (utils.rs:12-23). Raises on unknown extension."""
    ext = Path(path).suffix.lstrip(".").lower()
    if ext not in EXTENSION_FORMATS:
        raise UnsupportedFormatError(f"unsupported file extension in path: {path!r}")
    return EXTENSION_FORMATS[ext]


def sanitize_table_name(name: str) -> str:
    """Replace every non [A-Za-z0-9_] char with '_' (utils.rs:41-51)."""
    return re.sub(r"[^A-Za-z0-9_]", "_", name)


def table_name_from_path(path: str) -> str:
    """File stem -> sanitized table name (main.rs:167-176 + utils.rs:41)."""
    return sanitize_table_name(Path(path).stem)


def _file_path(path: str) -> str | None:
    """The path rule: the local path Hadoop's `Path` reads in `path`.

    A plain path is returned as given. A `file:` URI (scheme in any
    case) loses its scheme and an optional empty `//` authority; the
    rest is the path, literally: no percent-decoding, and `?` and `#`
    are path characters. A host (`file://host/x`, a wrong FS to Hadoop)
    or a missing or relative path (`file://`, `file:x`) raises
    ValueError. None for a URI of another scheme."""
    scheme, colon, rest = path.partition(":")
    if not colon or scheme.lower() != "file":
        return None if "://" in path else path
    if rest.startswith("//"):
        host, slash, tail = rest[2:].partition("/")
        if host:
            raise ValueError(
                f"malformed file URI (host {host!r}; a file: URI names "
                f"this machine's filesystem): {path!r}"
            )
        rest = slash + tail
    if not rest.startswith("/"):
        raise ValueError(f"malformed file URI (empty or relative path): {path!r}")
    return rest


def _local_path(path: str) -> str:
    """The local path behind `path` for callers that open it with
    os/pyarrow, by the path rule (`_file_path`): a plain path as given,
    a `file:` URI as the literal path Hadoop's `Path` reads in it. A URI
    of another scheme raises ValueError before a Spark job runs."""
    local = _file_path(path)
    if local is None:
        raise ValueError(
            f"{path!r}: this path is opened with local filesystem APIs; "
            "pass a local path or a file: URI"
        )
    return local


def _arrow_table_from_bytes(content: bytes):
    """Decode one Arrow IPC payload: random-access (feather v2) file
    format first, stream format as fallback — same order the readers
    probe magic bytes."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    buf = pa.BufferReader(content)
    try:
        return ipc.open_file(buf).read_all()
    except pa.ArrowInvalid:
        buf.seek(0)
        return ipc.open_stream(buf).read_all()


def _read_arrow(spark: SparkSession, path: str) -> DataFrame:
    """Arrow IPC/feather read, distributed: one task per file via
    binaryFile + mapInPandas (schema resolved from the first file's
    footer on the driver — a lazy pyarrow open, not a full read; other
    files are schema-checked in their tasks). Arrow IPC files at scale
    come as many per-shard files, so per-file is the natural split.

    The reference declares the Arrow variant but panics on it
    (utils.rs:59-61) — this is a strict improvement.
    """
    import glob as _glob

    import pyarrow as pa
    import pyarrow.feather as feather
    import pyarrow.ipc as ipc

    first = local = _local_path(path)
    if os.path.isdir(local):
        cand = sorted(
            _glob.glob(os.path.join(local, "*.arrow"))
            + _glob.glob(os.path.join(local, "*.feather"))
        )
        if not cand:
            raise ValueError(f"no .arrow/.feather files under {path!r}")
        first = cand[0]
    try:
        with pa.memory_map(first, "rb") as f:
            arrow_schema = ipc.open_file(f).schema
    except pa.ArrowInvalid:
        try:
            # IPC *stream* format: the schema is the stream's first
            # message, so this reads only the header, no data
            with pa.memory_map(first, "rb") as f:
                arrow_schema = ipc.open_stream(f).schema
        except pa.ArrowInvalid:
            arrow_schema = feather.read_table(first).schema  # feather v1
    from pyspark.sql.pandas.types import from_arrow_schema

    spark_schema = from_arrow_schema(arrow_schema)
    cols = [f.name for f in spark_schema.fields]

    def _decode(batches):
        for pdf in batches:
            for content in pdf["content"]:
                tbl = _arrow_table_from_bytes(bytes(content))
                if tbl.schema.names != list(cols):
                    raise ValueError(
                        f"arrow schema mismatch across files under {path!r}"
                    )
                yield tbl.to_pandas()

    bin_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{arrow,feather}" if os.path.isdir(local) else "*")
        .load(path)
    )
    return bin_df.select("content").mapInPandas(_decode, schema=spark_schema)


AVRO_SPLIT_BYTES = 32 << 20  # fallback-path input-split size


def _read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Read .avro: native spark-avro jar if installed, else the built-in
    pure-Python container decoder distributed over mapInPandas.

    The python fallback parallelizes per BLOCK RANGE, not per file: the
    driver reads only each file's header, byte-slices every file into
    ~AVRO_SPLIT_BYTES ranges, and each task scans to the first 16-byte sync
    marker in its range and decodes the blocks that start there (the
    standard Avro input-split contract — adjacent ranges never skip or
    double-read a block). One giant container file therefore fans out to
    many tasks instead of one straggler. Executors read the file with
    plain POSIX IO, so the split path requires locally-reachable storage
    (local/NFS/fuse mounts); for remote URIs we fall back to whole-file
    decode via binaryFile, which routes bytes through the Hadoop
    filesystem (and at real scale the spark-avro jar's native source is
    the right tool anyway).

    Every file's embedded writer schema is checked against the first
    file's; a mismatch raises AvroError instead of silently nulling
    missing fields / dropping extra ones (`r.get` would otherwise reshape
    evolved files without a sound).
    """
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.format("avro").load(path)
        df.schema  # forces source resolution; raises without the jar
        return df
    except AnalysisException:
        pass  # jar absent (FAILED_TO_FIND_DATA_SOURCE) -> spec decoder

    import glob as _glob
    import io

    from bdt_spark.sources import avro as A

    fs_path = _file_path(path)
    if fs_path is None:
        # remote URI: whole-file decode via the Hadoop-IO binaryFile source
        bin_df = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.avro")
            .load(path)
        )
        first_content = bin_df.select("content").first()["content"]
        header_schema, _, _, _ = A.read_header(io.BytesIO(first_content))
        spark_schema = A.avro_schema_to_spark(header_schema)
        cols = [f.name for f in spark_schema.fields]

        def _decode_whole(batches):
            import pandas as pd

            for pdf in batches:
                for fp, content in zip(pdf["path"], pdf["content"]):
                    whole = io.BytesIO(content)
                    whole.name = fp  # a schema mismatch names the file
                    _, rows = A.decode_range(
                        whole, 0, len(content), expected_schema=header_schema
                    )
                    yield pd.DataFrame(
                        {c: [r.get(c) for r in rows] for c in cols},
                        columns=cols,
                    )

        return bin_df.select("path", "content").mapInPandas(
            _decode_whole, schema=spark_schema
        )

    files = [fs_path]
    if os.path.isdir(fs_path):
        files = sorted(_glob.glob(os.path.join(fs_path, "*.avro")))
        if not files:
            raise A.AvroError(f"no .avro files under {path!r}")
    with open(files[0], "rb") as f:
        header_schema, _, _, _ = A.read_header(f)
    spark_schema = A.avro_schema_to_spark(header_schema)
    cols = [f.name for f in spark_schema.fields]

    splits = []
    for fp in files:
        size = os.path.getsize(fp)
        for off in range(0, max(size, 1), AVRO_SPLIT_BYTES):
            splits.append((fp, off, min(off + AVRO_SPLIT_BYTES, size)))

    def _decode_ranges(batches):
        import pandas as pd

        for pdf in batches:
            for fp, start, stop in zip(pdf["path"], pdf["start"], pdf["stop"]):
                with open(fp, "rb") as f:
                    _, rows = A.decode_range(
                        f, int(start), int(stop), expected_schema=header_schema
                    )
                yield pd.DataFrame(
                    {c: [r.get(c) for r in rows] for c in cols},
                    columns=cols,
                )

    from bdt_spark.operators.localrel import local_relation

    # LocalRelation (no pickled-RDD scan): the decode itself is Python
    # (mapInPandas), but the split list should not cost an extra
    # Python-worker round before the repartition (guide §4.1).
    splits_df = local_relation(
        spark, splits, "path string, start long, stop long"
    ).repartition(len(splits))
    return splits_df.mapInPandas(_decode_ranges, schema=spark_schema)


def _nano_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (driver-side footer peek).

    Spark 4 cannot read nanosecond timestamps natively; with
    `spark.sql.legacy.parquet.nanosAsLong` they surface as LongType and we
    convert to micros-truncated timestamps — the same truncation DuckDB and
    the SURVEY §1.2 mapping prescribe.
    """
    import pyarrow.dataset as ds
    import pyarrow as pa

    # INT96 (Spark's default timestamp encoding) would also surface as ns
    fmt = ds.ParquetFileFormat(
        read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
    )
    try:
        schema = ds.dataset(path, format=fmt).schema
    except Exception:
        return []
    return [
        f.name
        for f in schema
        if isinstance(f.type, pa.TimestampType) and f.type.unit == "ns"
    ]


# The csv dialect bdt reads and writes: RFC 4180, where a quote inside a
# value is doubled, not backslash-escaped (Spark's default).
_CSV_OPTIONS = {"escape": '"'}
# Characters that make Spark expand a path as a glob (SparkHadoopUtil.isGlobPath)
_GLOB_CHARS = frozenset("{}[]*?\\")
# A top-level INT64 TIMESTAMP(NANOS) field in parquet-mr's text form of a
# file schema (MessageType.toString indents each nesting level by two)
_NANOS_FIELD = re.compile(
    r"^  (?:optional|required) int64 (.+) "
    r"\(TIMESTAMP\(NANOS,(?:true|false)\)\)(?: = \d+)?;$",
    re.M,
)


def _hadoop_conf(spark: SparkSession):
    """The session's Hadoop conf: the one Spark's readers and writers
    use (the SparkContext's, plus the session's `spark.conf` settings)."""
    return spark._jsparkSession.sessionState().newHadoopConf()


def _hadoop_handle(spark: SparkSession, path: str):
    """`(conf, fs, jpath)`: the session's Hadoop conf and the Hadoop
    FileSystem and Path `path` names under it. A malformed `file:` URI
    raises ValueError (`_file_path`), where Hadoop would read `file://`
    as `/`."""
    _file_path(path)
    conf = _hadoop_conf(spark)
    jp = spark._jvm.org.apache.hadoop.fs.Path(path)
    return conf, jp.getFileSystem(conf), jp


def hadoop_fs(spark: SparkSession, path: str):
    """`(fs, jpath)` of `_hadoop_handle`: the one driver-side Hadoop
    handle."""
    return _hadoop_handle(spark, path)[1:]


def hadoop_exists(spark: SparkSession, path: str) -> bool:
    """Driver-side existence check through the Hadoop FS abstraction —
    works on any filesystem the session can reach, unlike
    os.path.isdir; used by fixture registration and the incremental
    state/index guards."""
    fs, jp = hadoop_fs(spark, path)
    return fs.exists(jp)


def _driver_status(spark: SparkSession, path: str):
    """`(conf, fs, status)` of the Hadoop path `path` names
    (`_hadoop_handle`), for a driver-side read that spares Spark a job.
    None for a glob, whose file choice stays Spark's, and for a path the
    JVM cannot stat (missing, an unknown scheme): Spark's own read then
    reports it exactly as it would have."""
    from py4j.protocol import Py4JJavaError

    if any(c in _GLOB_CHARS for c in path):
        return None
    try:
        conf, fs, jp = _hadoop_handle(spark, path)
        return conf, fs, fs.getFileStatus(jp)
    except Py4JJavaError:
        return None


def _single_parquet_footer(spark: SparkSession, path: str):
    """The footer of the one parquet file `path` names, read on the
    driver with the calls Spark's schema-inference task makes for it
    (ParquetFileFormat.readParquetFootersInParallel), as a JVM `Footer`.

    None for a directory, whose partition discovery stays Spark's, for
    a path _driver_status rejects, and for a file the JVM cannot read as
    parquet (corrupt): Spark's own inference then reports it."""
    from py4j.protocol import Py4JJavaError

    found = _driver_status(spark, path)
    if found is None or not found[2].isFile():
        return None
    conf, _, status = found
    jvm = spark._jvm
    reader = jvm.org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
    skip_row_groups = (
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    )
    try:
        md = reader.readFooter(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf),
            skip_row_groups,
        )
    except Py4JJavaError:
        return None
    return jvm.org.apache.parquet.hadoop.Footer(status.getPath(), md)


def _footer_schema(spark: SparkSession, footer):
    """Spark's schema for one parquet footer: the StructType its
    inference job would return, converted under the session's SQL conf
    by Spark's own converter (so its Spark-schema metadata, TIMESTAMP_NTZ
    and nanos-as-long rules are Spark's, not a Python re-mapping)."""
    from pyspark.sql.types import _parse_datatype_json_string

    pkg = spark._jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = pkg.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf()
    )
    return _parse_datatype_json_string(
        pkg.ParquetFileFormat.readSchemaFromFooter(footer, converter).json()
    )


# Bytes of a json file's head searched for its first line, read in
# chunks: a file that is one long line (a top-level array) is never
# pulled onto the driver.
_JSON_HEAD_BYTES = 1 << 20
_JSON_HEAD_CHUNK = 1 << 16


def _first_json_keys(spark: SparkSession, path: str) -> list[str]:
    """The top-level keys, in file order, of the first record of the json
    file `path` (of a directory, its first `part-*` file in partition
    order), read on the driver through the Hadoop FS, as the parquet
    footer is. Empty for a path _driver_status rejects, a first line
    longer than _JSON_HEAD_BYTES, or one that is not a JSON object."""
    import json

    from py4j.protocol import Py4JJavaError

    found = _driver_status(spark, path)
    if found is None:
        return []
    _, fs, status = found
    jp = status.getPath()
    try:
        if status.isDirectory():
            parts = [st.getPath() for st in fs.listStatus(jp)
                     if st.getPath().getName().startswith("part-")]
            if not parts:
                return []
            jp = min(parts, key=lambda q: _part_order(q.getName()))
        stream = fs.open(jp)
        head = b""
        try:
            while b"\n" not in head and len(head) < _JSON_HEAD_BYTES:
                chunk = bytes(stream.readNBytes(_JSON_HEAD_CHUNK))
                if not chunk:
                    break
                head += chunk
        finally:
            stream.close()
    except Py4JJavaError:
        return []
    line, newline, _ = head.partition(b"\n")
    if not newline and len(head) >= _JSON_HEAD_BYTES:
        return []
    try:
        record = json.loads(line)
    except ValueError:
        return []
    return list(record) if isinstance(record, dict) else []


def read_file(
    spark: SparkSession,
    path: str,
    *,
    header: bool = True,
    infer_schema: bool = True,
    fmt: str | None = None,
) -> DataFrame:
    """Read one file/directory into a DataFrame by extension dispatch.

    CSV defaults to header=True + inferSchema, matching the reference's
    default CsvReadOptions (utils.rs:66-68); `header=False` mirrors
    `--no-header-row` (main.rs:95-97).

    A path naming exactly one parquet file opens with no Spark job: its
    footer is read once on the driver and Spark's own converter turns it
    into the schema the reader is given, the schema Spark's inference
    job would have returned. A parquet directory or glob keeps Spark's
    inference (one job), as do the text formats. Json columns keep the
    key order of the file's first record (Spark's inference sorts them
    by name); keys that record lacks follow in Spark's order.
    """
    fmt = fmt or file_format(path)
    _file_path(path)  # a malformed file: URI raises before any job
    if fmt == "arrow":
        return _read_arrow(spark, path)
    if fmt == "avro":
        return _read_avro(spark, path)
    reader = spark.read
    if fmt == "csv":
        reader = reader.options(
            header=str(header).lower(),
            inferSchema=str(infer_schema).lower(),
            **_CSV_OPTIONS,
        )
        if path.lower().endswith(".tsv"):
            reader = reader.option("sep", "\t")
    if fmt == "parquet":
        footer = _single_parquet_footer(spark, path)
        if footer is None:
            nano_cols = _nano_timestamp_columns(path)
        else:
            nano_cols = _NANOS_FIELD.findall(
                footer.getParquetMetadata().getFileMetaData().getSchema().toString()
            )
        if nano_cols:
            # Runtime-set so sessions not built by bdt_spark.session (e.g.
            # the driver's own) still read nanos parquet. Spark 4 errors on
            # TIMESTAMP(NANOS) without this.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        if footer is not None:
            # converted after the conf above: Spark refuses nanos otherwise
            reader = reader.schema(_footer_schema(spark, footer))
        df = reader.format(fmt).load(path)
        for col in nano_cols:
            df = df.withColumn(col, F.expr(f"timestamp_micros(`{col}` div 1000)"))
        return _ntz_to_ltz(df)
    df = reader.format(fmt).load(path)
    if fmt == "json":
        from pyspark.sql.types import StructType

        rank = {k: i for i, k in enumerate(_first_json_keys(spark, path))}
        # stable: keys the first record lacks keep Spark's order, last
        ordered = sorted(
            df.schema.fields, key=lambda f: rank.get(f.name, len(rank))
        )
        if [f.name for f in ordered] != df.columns:
            # the inferred schema, reordered: the same scan, no new job
            df = reader.schema(StructType(ordered)).format(fmt).load(path)
    return _ntz_to_ltz(df)


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to session-zone TIMESTAMP.

    Parquet written without isAdjustedToUTC surfaces as TIMESTAMP_NTZ,
    which strict-LTZ functions (unix_micros, to_utc_timestamp, ...)
    reject. The session is pinned to UTC (SURVEY §1.2: naive timestamps
    mean UTC wall time), so the cast preserves the wall-clock value while
    restoring the TIMESTAMP type every query expects."""
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields
           if isinstance(f.dataType, TimestampNTZType)]
    for col in ntz:
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_table(
    spark: SparkSession,
    name: str,
    path: str,
    *,
    header: bool = True,
) -> DataFrame:
    """Register a file as a temp view and return its DataFrame (utils.rs:53-87)."""
    df = read_file(spark, path, header=header)
    df.createOrReplaceTempView(name)
    return df


def register_dir(
    spark: SparkSession,
    directory: str,
    *,
    skip_unsupported: bool = False,
    announce=None,
) -> dict[str, DataFrame]:
    """Register every file in a directory (main.rs:154-166).

    `announce(name, path)`, if given, is called per registered table —
    the CLI uses it for the reference's "Registering table '<name>' for
    <path>" lines (main.rs:163,174) without the library printing.

    Like the reference, an unsupported extension is an ERROR, not a silent
    skip — main.rs registers every entry and fails on unknown extensions.
    Subdirectories and hidden files are ignored (they are not files the
    reference's loop would register). Pass `skip_unsupported=True` for the
    lenient mode.
    """
    out: dict[str, DataFrame] = {}
    for entry in sorted(os.listdir(directory)):
        full = os.path.join(directory, entry)
        if entry.startswith(".") or entry.startswith("_"):
            continue  # hidden/metadata entries (e.g. _SUCCESS markers)
        try:
            file_format(full)
        except UnsupportedFormatError:
            # a directory without a data extension (e.g. a nested output
            # dir) is not a registerable entry either way; only FILES with
            # unknown extensions are the reference's error case
            if skip_unsupported or os.path.isdir(full):
                continue
            raise UnsupportedFormatError(
                f"unsupported file in --tables directory: {full!r} "
                "(pass only recognized extensions: "
                f"{', '.join(sorted(EXTENSION_FORMATS))})"
            ) from None
        name = table_name_from_path(full)
        if announce is not None:
            announce(name, full)
        out[name] = register_table(spark, name, full)
    return out


# Memo of which sf_dir is currently registered per live session, so a batch
# of queries over the same fixture dir pays registration once.
_FIXTURES_LOADED: dict[int, str] = {}


class _Views(Mapping):
    """Temp views by name, each looked up only when read: the memoized
    path of load_fixture_tables, where a query that reads one table (or
    none) should not pay ten catalog round trips."""

    def __init__(self, spark: SparkSession, names: tuple[str, ...]):
        self._spark, self._names = spark, names

    def __getitem__(self, name: str) -> DataFrame:
        from pyspark.errors import AnalysisException

        if name not in self._names:
            raise KeyError(name)
        try:
            return self._spark.table(name)
        except AnalysisException:
            raise KeyError(name) from None

    def __iter__(self):
        return (
            n for n in self._names if self._spark.catalog.tableExists(n)
        )

    def __len__(self) -> int:
        return sum(1 for _ in self)


def _path_bytes(path: str) -> int:
    """On-disk bytes of a data file or a directory of part files."""
    path = _local_path(path)
    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.startswith((".", "_")):
                    total += os.path.getsize(os.path.join(root, f))
        return total
    return os.path.getsize(path)


def _part_files(directory: str) -> list[str]:
    """The `part-*` data files of a Spark output directory in partition
    order, the row order a coalesce(1) write of the same plan has (its
    `.crc` and `_SUCCESS` files are not parts)."""
    names = [n for n in os.listdir(directory) if n.startswith("part-")]
    names.sort(key=_part_order)
    return [os.path.join(directory, n) for n in names]


def _part_order(name: str):
    """Sort key of a `part-*` file name: its partition number."""
    return int(re.match(r"part-(\d+)", name).group(1)), name


def _concat_parts(parts: list[str], dst, *, header: bool) -> None:
    """Append line-format part files to the binary file object `dst`.

    With `header`, every part opens with the same csv header line: the
    first part's is kept, and each later part's is checked and dropped.
    A part whose first line differs raises ValueError, since its rows
    would land under the wrong columns. An empty part adds nothing."""
    first = None
    for p in parts:
        with open(p, "rb") as src:
            if header:
                line = src.readline()
                if not line:
                    continue
                if first is None:
                    first = line
                    dst.write(line)
                elif line != first:
                    raise ValueError(
                        f"{p}: header {line!r} differs from the first "
                        f"part's {first!r}"
                    )
            shutil.copyfileobj(src, dst, 1 << 20)


# Logical operators that never emit more rows than they read (a Union
# emits the sum of its inputs), so the scanned bytes bound the rows the
# plan produces. Anything else (Join, Generate, Expand, a sample with
# replacement, Python map/flatMap nodes, ...) makes the plan unbounded.
_ROW_BOUNDED = frozenset((
    "Aggregate", "CTERelationDef", "Deduplicate", "Distinct", "Except",
    "Filter", "GlobalLimit", "Intersect", "LocalLimit", "Offset",
    "Project", "RebalancePartitions", "Repartition",
    "RepartitionByExpression", "ResolvedHint", "Sort", "SubqueryAlias",
    "Tail", "Union", "View", "Window", "WithCTE",
))
# Leaves whose size is known exactly without a job: driver-local rows
# and spark.range.
_SIZED_LEAVES = frozenset(("LocalRelation", "OneRowRelation", "Range"))
_UNBOUNDED = 1 << 60


def plan_scan_bytes(df: DataFrame) -> int:
    """On-disk bytes of the files `df` scans: the one input size every
    small-vs-large plan gate reads.

    Exact input statistics choose the plan, not Catalyst's estimates
    (which size an explode's output from the scan's column ratio; see
    text_tfidf_topk_similar's sf100 finding). Fan-out exchanges and
    persist+count actions cost FIXED overhead but save work PROPORTIONAL
    to the input, so below a gate's byte threshold the bare plan wins.

    Walks the analyzed plan. File scans report their file index's
    `sizeInBytes` (the listing Spark already holds, local or object
    store); local relations and ranges report their exact stats size.
    Any other leaf (an RDD, JDBC, ...), or any operator outside
    _ROW_BOUNDED, returns the _UNBOUNDED sentinel (1 << 60), so every
    gate fails toward its scale-safe heavy arm and the widest exchange."""
    total = 0
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        children = node.children()
        n = children.size()
        name = node.nodeName()
        if n:
            if name not in _ROW_BOUNDED:
                return _UNBOUNDED
            stack.extend(children.apply(i) for i in range(n))
        elif name == "LogicalRelation":
            rel = node.relation()
            if rel.getClass().getSimpleName() != "HadoopFsRelation":
                return _UNBOUNDED
            total += rel.location().sizeInBytes()
        elif name in _SIZED_LEAVES:
            total += node.stats().sizeInBytes()
        elif name != "CTERelationRef":  # its definition is walked once
            return _UNBOUNDED
    return total


# Compressed scan bytes per shuffle partition for GATED HEAVY ARMS.
# Measured doctrine (SCALE.md r13, encoded r14 per VERDICT r13 #1): the
# sf100 q21 rewrite (6.4 GB lineitem) can transiently die with task-level
# UNABLE_TO_ACQUIRE_MEMORY at 256 shuffle partitions on an 8 GB heap /
# 32 concurrent tasks, and rides through with 0-2 retried tasks at 512.
# 16 MiB/partition reproduces exactly that: 6.4 GB -> 512, and scales the
# same per-task memory envelope to any fact size the gate can see.
_HEAVY_BYTES_PER_SHUFFLE_PARTITION = 16 << 20


def exchange_width_for_bytes(b: int, floor: int = 32) -> int:
    """Partition width for an EXPLICIT exchange hint (`REPARTITION(n)`),
    derived from the exact scan bytes feeding it.

    An explicit-width repartition is exempt from AQE coalescing AND
    splitting, so a literal width is a coded-in bottleneck at 100x
    scale (VERDICT r14 #1: the exchange-reuse hints on the incremental
    dedup signature streams were pinned at 32 — hundreds of GB through
    32 tasks at the design point). Same doctrine as
    ensure_heavy_arm_geometry: one partition per
    _HEAVY_BYTES_PER_SHUFFLE_PARTITION (16 MiB) of scan bytes,
    power-of-two steps, raised from `floor` (the local session
    default), clamped at 4096. The exchanged stream (signatures,
    bucketed projections) is strictly smaller than its input scan, so
    the width errs WIDE — err-wide costs scheduling overhead on small
    data, err-narrow costs a straggler/spill stage at scale. The
    unbounded-plan sentinel (1<<60) clamps to 4096, failing wide like
    the heavy-arm hook."""
    w = floor
    while w < 4096 and w * _HEAVY_BYTES_PER_SHUFFLE_PARTITION < b:
        w *= 2
    return w


def ensure_heavy_arm_geometry(spark: SparkSession, b: int) -> int:
    """Execution geometry for a size-gated heavy plan arm: derive shuffle
    partitions from `b`, the exact scan bytes the gate already read
    (plan_scan_bytes), and raise the session's
    `spark.sql.shuffle.partitions` if it is below that.

    Why this exists: the big-fact gate (_BIG_FACT_MIN_BYTES in
    plans/tpch.py) picks the plan SHAPE from scan bytes, but a correct
    shape at a product-default partition count can still exceed the
    per-task memory envelope (the r13 sf100 finding above). The safe
    partition count is a function of the same scan bytes the gate
    already trusts, so the arm that needs it sets it — doctrine in code,
    not in SCALE.md.

    Only ever RAISES the setting (power-of-two steps, clamped to
    [64, 4096]); AQE partition coalescing (on by default,
    session.py) merges small shuffle reads back down, so a later small
    query in the same session pays scheduling overhead at worst, never a
    plan regression. An unbounded plan's sentinel clamps to 4096 —
    failing wide, the same direction as the gate itself. Returns the
    partition count in effect after the call."""
    needed = exchange_width_for_bytes(b, floor=64)
    current = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if needed > current:
        spark.conf.set("spark.sql.shuffle.partitions", str(needed))
        return needed
    return current


def load_fixture_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = FIXTURE_TABLES,
    force: bool = False,
) -> Mapping[str, DataFrame]:
    """Register the driver's fixture tables (TESTDATA.md) as temp views
    and return them by name. Each view is the plain scan; CPU-heavy
    queries fan it out at build time (fanout_rewrite, fanned_table)."""
    # Runtime conf insurance for sessions not built by bdt_spark.session
    # (e.g. the driver's): UTC makes epoch math match DuckDB's UTC-naive
    # timestamps (SURVEY §7 conformance shims).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = id(spark._jsparkSession) if hasattr(spark, "_jsparkSession") else id(spark)
    if not force and _FIXTURES_LOADED.get(key) == sf_dir:
        return _Views(spark, tables)
    present = [
        t
        for t in tables
        if hadoop_exists(spark, os.path.join(sf_dir, f"{t}.parquet"))
    ]
    # Registration is driver-side metadata work (footer peek + DataFrame
    # creation + temp-view registration) — ~0.2 s per table serially, all
    # py4j round-trips. The session is thread-safe for reads, so do the
    # 10 tables on a small thread pool.
    from concurrent.futures import ThreadPoolExecutor

    def _reg(t: str):
        return t, register_table(spark, t, os.path.join(sf_dir, f"{t}.parquet"))

    with ThreadPoolExecutor(max_workers=min(8, max(1, len(present)))) as ex:
        out = dict(ex.map(_reg, present))
    # Requested fixture tables with no file in THIS sf_dir: drop any
    # stale temp view left by a previous registration — otherwise a
    # query against the new dir silently reads the OLD dir's data for
    # that table (bit the r12 embeddings-only sf100 probe, whose stats
    # read the previous shard's documents view). Views outside the
    # requested set are caller-managed and untouched.
    for t in tables:
        if t not in out and spark.catalog.tableExists(t):
            spark.catalog.dropTempView(t)
    _FIXTURES_LOADED[key] = sf_dir
    return out


# Scan fan-out for CPU-HEAVY consumers (char-gram md5, shingling, token
# scoring, Python codecs right above the scan): an under-split scan
# serializes that work, and the rows are narrow enough that one extra
# exchange is noise next to it. Measured at sf10, documents fan-out:
# winnowing 166 s -> 46 s, TF-IDF 91 s -> 19 s, NB langid 144 s -> 98 s,
# prefix-Jaccard 20 s -> 12 s. Only documents consumers opt in. The
# relational tables' first stage is a cheap partial aggregate where an
# added corpus shuffle costs more than the scan skew (measured: tpch_q1
# at sf0.1 went 0.40 s -> 0.97 s with lineitem fanned out). The
# `embeddings` queries run operator pipelines with their own
# persist/bucket/window structure, and fanning their input measured NET
# NEGATIVE (dedup_embedding_cosine at sf10: 12.6 s -> 41 s) — the
# per-vector fold is JVM-cheap enough that the extra exchange and the
# disrupted operator partitioning dominate.
#
# Queries opt in (registry.FANOUT_DOCS_QUERIES via fanout_rewrite,
# @query callables via fanned_table, the multimodal encoders via fanned)
# instead of paying it at view registration, which taxed 13 cheap
# single-aggregate sf0.1 queries 1.2-2.6x (VERDICT r11 item 1). Every
# opt-in asks one rule, _fanout_width, about the live plan it is given,
# so the answer follows the view as it is now: at production scale
# (thousands of row groups) the rule is a no-op.


def _scan_units(df: DataFrame, stop: int) -> int:
    """Working scan tasks of `df`'s file leaves, counted up to `stop`.

    Spark carves files into byte-range splits, but a split that holds no
    row-group start reads nothing, so a 10 MB single-row-group parquet
    file yields ONE working scan task however many ranges the planner
    emits. Each parquet file therefore counts its footer's row groups (a
    driver-side footer peek, no Spark job) and each file of any other
    format counts 1. The files are the list the scan's file index
    already holds, so hive-partitioned and extension-less parts count.
    A plan with no file leaf (an in-memory relation, which
    createDataFrame already spreads) counts 0. A footer that cannot be
    read, or is not in a `file:` URI, counts `stop`: an unknown layout
    never gets a fan-out."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    units = 0
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for j in range(leaves.size()):
        if units >= stop:
            break
        leaf = leaves.apply(j)
        if leaf.nodeName() != "LogicalRelation":
            continue
        rel = leaf.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            continue
        files = rel.location().inputFiles()
        if rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat":
            units += len(files)
            continue
        for i in range(len(files)):
            if units >= stop:
                break
            uri = files[i]  # percent-encoded (Path.toUri): pyarrow decodes it
            if not uri.startswith("file:"):
                return stop
            try:
                meta = pq.read_metadata(uri)
            except (OSError, ValueError, pa.ArrowException):
                return stop
            units += meta.num_row_groups
    return units


def _fanout_width(df: DataFrame, partitions: int | None = None) -> int:
    """The one scan fan-out rule: defaultParallelism when `df` reads
    fewer input partitions than that (and more than none), else 0.
    `partitions` is the count a plan node already fixed (see fanned);
    without one, the count is the plan's scan units."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if partitions is None:
        partitions = _scan_units(df, target)
    return target if 0 < partitions < target else 0


def fanned(df: DataFrame) -> DataFrame:
    """`df` repartitioned to defaultParallelism iff it is under-split,
    for a CPU-bound stage right above it (the multimodal codecs: on one
    input split the codec stage measured 6.6 s against a sub-second
    spread at sf0.1).

    `df` may be post-shuffle, so a plan node that fixes the partition
    count (coalesce, exchange) answers first: planaudit's
    effective_partitions reads the compiled physical plan statically.
    A coalesce(1)'d input is fanned back out even though it lists many
    files, and an input already repartitioned to the target is left
    alone. Only a scan-defined count falls through to the scan units.
    Nothing here reads `.rdd`, which under AQE materializes upstream
    shuffle stages as an eager job (ADVICE r9)."""
    from bdt_spark.planaudit import effective_partitions

    n = _fanout_width(df, effective_partitions(df))
    return df.repartition(n) if n else df


def fanout_rewrite(
    spark: SparkSession, sql: str, tables: tuple[str, ...]
) -> str:
    """Opt-in scan fan-out for CPU-heavy SPARK query texts.

    For each named view that the fan-out rule finds under-split right
    now, rewrite `FROM <table>` into
    `FROM (SELECT /*+ REPARTITION(n) */ * FROM <table>)`, paid only by
    queries whose dominant stage is per-row CPU right above the scan.
    Trailing aliases/WHERE/GROUP BY survive (a parenthesized subquery
    is relation-position compatible), Catalyst still pushes filters and
    column pruning through the repartition, and the ORACLE text is
    never rewritten — DuckDB would lex the hint away anyway, but the
    dialects stay textually honest. A bare view fixes no partition
    count, so the rule reads its scan units directly. A view that is
    already wide, or not registered (spark.sql then raises its usual
    error), leaves the text untouched."""
    from pyspark.errors import AnalysisException

    for t in tables:
        try:
            df = spark.table(t)
        except AnalysisException:
            continue
        n = _fanout_width(df)
        if n:
            sql = re.sub(
                rf"\bFROM\s+{t}\b(?!\.)",
                f"FROM (SELECT /*+ REPARTITION({n}) */ * FROM {t})",
                sql,
                flags=re.IGNORECASE,
            )
    return sql


def fanned_table(spark: SparkSession, table: str) -> DataFrame:
    """DataFrame-API twin of fanout_rewrite for @query-style callables:
    the registered view, repartitioned up to defaultParallelism iff the
    fan-out rule finds its scan under-split now."""
    df = spark.table(table)
    n = _fanout_width(df)
    return df.repartition(n) if n else df
