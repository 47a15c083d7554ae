"""Format conversion — `bdt convert` (reference src/convert.rs:14-54).

Reads any supported input format (extension dispatch, utils.rs:12-23) and
writes csv/json/parquet. Mirrors the reference's writer surface:
- `single_file`: one output file at exactly the requested path
  (convert.rs:22 single_file_output). Spark writes a part-file directory.
  Uncompressed csv and json parts are written in parallel from the plan's
  own partitions and concatenated in partition order (each later csv
  part's header line checked and dropped), which gives the bytes a
  coalesce(1) write gives. Csv whose column names hold a line break and
  the footer formats (parquet, orc, arrow) cannot be concatenated: those
  coalesce(1) and move the one part file.
- `zstd`: parquet compression zstd + dictionary off, approximating the
  reference's zstd-level-8 + PLAIN encoding WriterProperties
  (convert.rs:23-34; Spark exposes no codec level or per-column encoding —
  documented divergence; created_by is not settable in Spark, cosmetic).
  As in the reference, which sets zstd only through those parquet
  properties, csv and json are written uncompressed; orc and arrow
  (extensions) compress with zstd too.
- Avro output rejected, matching convert.rs:37-39.
- ORC output (EXTENSION): native Spark sink; the reference's FileFormat
  enum has no ORC arm (utils.rs:12-23).
- Arrow IPC output (EXTENSION): the reference panics on Arrow both ways
  (utils.rs:59-61, convert.rs:52); the repo reads it (sources/io.py) and
  writes it here — per-partition IPC files serialized executor-side.

Scale: convert is a pure scan->sink plan with no shuffle. A coalesce(1)
single-file write funnels the scan and encode through one task; the csv
and json ones only funnel the final byte copy through the driver. At
100 TB you convert WITHOUT single_file and let each task write its own
part file.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from bdt_spark.sources.io import (
    _CSV_OPTIONS,
    _concat_parts,
    _file_path,
    _local_path,
    _part_files,
    file_format,
    read_file,
)


# Text timestamps keep all six fraction digits: Spark's default csv/json
# formats write milliseconds, which drops a timestamp's microseconds.
_TEXT_TIMESTAMP_OPTIONS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


class UnsupportedOutputError(ValueError):
    """Mirrors the reference's unsupported-output error (convert.rs:37-39)."""


def _write_arrow(df, output_path: str, *, single_file: bool, zstd: bool) -> None:
    """Distributed Arrow IPC (feather-v2-compatible random-access format)
    writer: one `part-<pid>.arrow` file per partition, serialized
    executor-side inside mapInPandas — the mirror of sources/io.py's
    per-file distributed reader. Batches stream through the IPC writer as
    they arrive, so a partition never has to fit in one Arrow table.
    `zstd` rides IPC buffer compression (pyarrow IpcWriteOptions).

    Commit protocol: each task ATTEMPT streams into its own
    `part-<pid>.arrow.<taskAttemptId>.tmp` and atomically renames it to
    the final name only after a clean close — a retried or speculative
    attempt can never interleave bytes with another attempt, and the
    last completed rename wins with a whole file. Directory outputs get
    a `_SUCCESS` marker only after the job (and the rename sweep)
    completed, so a mid-job failure leaves `.tmp` partials and NO
    marker — never partial output indistinguishable from complete.

    DEPLOYMENT ASSUMPTION (ADVICE r9): tasks write with local `os` file
    APIs, while the post-job `.tmp` sweep and `_SUCCESS` marker run on the
    DRIVER — so this writer requires `output_path` to be a POSIX path on a
    filesystem shared by driver and executors (local mode, NFS, a FUSE
    mount). A `file:` URI becomes that path by sources/io's path rule
    (`_local_path`): the literal path Hadoop's `Path` reads in it, so
    read_file of the same URI opens the files written here. That is
    weaker than a FileOutputCommitter, which commits through the Hadoop
    FS on any URI: on an object store (`s3://...`) this writer does not
    work at all (convert refuses any scheme but `file:` with a
    ValueError before a job runs), and even on a shared POSIX FS the
    driver-side sweep could in principle race one zombie speculative
    attempt still holding its `.tmp` (harmless to committed output — the
    sweep only ever deletes `.tmp` files — but the zombie's late rename
    could resurrect a duplicate part after the sweep).
    Spark kills speculative twins at job end, so the window is theoretical;
    for cluster object-store deployments, route Arrow output through a
    Hadoop-committer-backed format instead."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if zstd:
        # validate on the DRIVER, before any job runs: an executor-side
        # pyarrow without zstd would otherwise fail the job task-by-task
        # with a stack trace instead of one clear error. (Compat caveat:
        # IPC buffer compression needs an Arrow >= 1.0 reader built with
        # zstd — older/minimal readers see UNSUPPORTED_COMPRESSION.)
        import pyarrow as pa

        if not pa.Codec.is_available("zstd"):
            raise RuntimeError(
                "zstd requested for Arrow IPC output but this pyarrow "
                "build has no zstd codec"
            )
    arrow_schema = to_arrow_schema(df.schema)
    target_dir = output_path if not single_file else output_path + "._spark_tmp"
    if os.path.exists(target_dir):
        shutil.rmtree(target_dir) if os.path.isdir(target_dir) else os.remove(
            target_dir
        )
    os.makedirs(target_dir)
    compression = "zstd" if zstd else None

    def write_partition(batches):
        import pyarrow as pa
        import pyarrow.ipc as ipc
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        final = os.path.join(target_dir, f"part-{pid:05d}.arrow")
        # taskAttemptId is unique across ALL attempts of all tasks in the
        # SparkContext, so concurrent attempts of one partition write
        # disjoint temp files
        tmp = f"{final}.{ctx.taskAttemptId()}.tmp"
        writer = None
        n = 0
        ok = False
        try:
            for pdf in batches:
                table = pa.Table.from_pandas(
                    pdf, schema=arrow_schema, preserve_index=False
                )
                if writer is None:
                    opts = ipc.IpcWriteOptions(compression=compression)
                    writer = ipc.new_file(tmp, arrow_schema, options=opts)
                writer.write_table(table)
                n += len(pdf)
            ok = True
        finally:
            if writer is not None:
                writer.close()
                if ok:
                    # atomic commit: complete file or nothing
                    os.replace(tmp, final)
                else:
                    os.remove(tmp)
        import pandas as pd

        yield pd.DataFrame({"pid": [pid], "rows": [n]})

    # the count() action drives the side-effecting writer exactly once
    df.mapInPandas(write_partition, "pid int, rows long").count()

    # a killed attempt can skip its finally block (e.g. SIGKILL on the
    # python worker): sweep stragglers so only committed files remain
    for stray in glob.glob(os.path.join(target_dir, "part-*.tmp")):
        os.remove(stray)

    if not glob.glob(os.path.join(target_dir, "part-*.arrow")):
        # empty input: no task produced a file — write one schema-only
        # IPC file (driver-side, zero rows) so the output stays readable
        import pyarrow.ipc as ipc

        with ipc.new_file(
            os.path.join(target_dir, "part-00000.arrow"), arrow_schema
        ):
            pass

    if single_file:
        _commit_single_file(target_dir, output_path, concat=False, header=False)
    else:
        # job + rename sweep complete: mark the directory committed (same
        # contract as Spark's parquet/csv sinks; single-file output is one
        # bare file, so there is no directory to mark)
        with open(os.path.join(target_dir, "_SUCCESS"), "w"):
            pass


def _commit_single_file(
    target_dir: str, output_path: str, *, concat: bool, header: bool
) -> None:
    """Replace `output_path` with the one file the part files in
    `target_dir` make, then remove `target_dir`. Without `concat` the
    write was coalesce(1)'d and must hold exactly one part. With it, the
    parts are concatenated in partition order into a temp file inside
    `target_dir` (beside the target, so on its filesystem), which then
    replaces the target; `header` drops each later csv part's header."""
    parts = _part_files(target_dir)
    if not concat and len(parts) != 1:
        raise RuntimeError(f"expected 1 part file, found {len(parts)}")
    if len(parts) == 1:
        src = parts[0]
    else:
        src = os.path.join(target_dir, "_concat")
        with open(src, "wb") as dst:
            _concat_parts(parts, dst, header=header)
    if os.path.isdir(output_path):
        # a directory at the target (interrupted run, prior non-single
        # write) is replaced, not written into
        shutil.rmtree(output_path)
    os.replace(src, output_path)
    shutil.rmtree(target_dir, ignore_errors=True)


def _output_format(
    output_path: str, *, single_file: bool, partition_by: list[str] | None
) -> str:
    out_fmt = file_format(output_path)
    if out_fmt not in ("csv", "json", "parquet", "arrow", "orc"):
        raise UnsupportedOutputError(
            f"unsupported output format for path: {output_path!r}"
        )
    if partition_by and single_file:
        raise ValueError("partition_by and single_file are mutually exclusive")
    return out_fmt


def convert(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    *,
    single_file: bool = False,
    zstd: bool = False,
    header: bool = True,
    partition_by: list[str] | None = None,
) -> None:
    """Convert `input_path` to the format implied by `output_path`.

    `partition_by` (extension over the reference) hive-partitions the output
    directory by the given columns — the layout that enables partition
    pruning on the next read, i.e. how a 100 TB table should be written.
    Incompatible with `single_file`.
    """
    # checked before the read, which may run a csv inference job
    _output_format(output_path, single_file=single_file, partition_by=partition_by)
    write_file(
        read_file(spark, input_path, header=header),
        output_path,
        single_file=single_file,
        zstd=zstd,
        partition_by=partition_by,
    )


def write_file(
    df: DataFrame,
    output_path: str,
    *,
    single_file: bool = False,
    zstd: bool = False,
    partition_by: list[str] | None = None,
) -> None:
    """Write `df` in the format implied by `output_path`: convert's
    writer, and the one single-file writer (`bdt query --output` uses
    it too). See the module docstring for the single-file paths."""
    out_fmt = _output_format(
        output_path, single_file=single_file, partition_by=partition_by
    )
    if out_fmt == "arrow" or single_file:
        # written (arrow) or moved (single_file) with driver-local file APIs
        output_path = _local_path(output_path)
    else:
        _file_path(output_path)  # a malformed file: URI raises before any job

    if out_fmt == "arrow":
        # Arrow IPC write — an EXTENSION: the reference panics on Arrow in
        # both directions (utils.rs:59-61, convert.rs:52); the repo already
        # reads it, this adds the write side (round-trip pinned via
        # `compare` in tests). No Spark datasource exists for IPC, so each
        # task serializes its own partition through pyarrow executor-side.
        if partition_by:
            raise ValueError("partition_by is not supported for arrow output")
        if single_file:
            df = df.coalesce(1)
        _write_arrow(df, output_path, single_file=single_file, zstd=zstd)
        return

    # Line formats concatenate; a csv header holding a line break would
    # span lines (json escapes line breaks in its keys).
    concat = (
        single_file
        and out_fmt in ("csv", "json")
        and not (
            out_fmt == "csv" and any("\r" in c or "\n" in c for c in df.columns)
        )
    )
    if single_file and not concat:
        df = df.coalesce(1)
    target_dir = output_path if not single_file else output_path + "._spark_tmp"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if out_fmt in ("csv", "json"):
        writer = writer.options(**_TEXT_TIMESTAMP_OPTIONS)
    if out_fmt == "csv":
        writer.option("header", "true").options(**_CSV_OPTIONS).csv(target_dir)
    elif out_fmt == "json":
        writer.json(target_dir)
    elif out_fmt == "orc":
        # ORC out — an EXTENSION (the reference's FileFormat enum has no
        # ORC arm at all, utils.rs:12-23); Spark's native ORC sink, zstd
        # rides the orc.compress table property.
        writer = writer.option("compression", "zstd" if zstd else "snappy")
        writer.orc(target_dir)
    else:
        writer = writer.option("compression", "zstd" if zstd else "snappy")
        if zstd:
            # Approximate the reference's PLAIN encoding (convert.rs:30)
            # and its zstd level 8 (convert.rs:27) — the level rides the
            # hadoop parquet codec conf.
            writer = writer.option("parquet.enable.dictionary", "false")
            writer = writer.option(
                "parquet.compression.codec.zstd.level", "8"
            )
        writer.parquet(target_dir)

    if single_file:
        _commit_single_file(
            target_dir, output_path, concat=concat, header=out_fmt == "csv"
        )
