"""Keyed merge (upsert) into a parquet table — incremental-pipeline
writeback without a table format.

The reference has no DML at all; production pipelines need at least
"apply this delta of new/updated rows to the keyed table". Without a
transactional table format the portable pattern is rewrite-and-swap:

    result = delta  UNION  (base ANTI JOIN delta ON keys)

written to a staging directory and swapped in (two renames with a kept
backup — see merge_upsert for the exact crash-recovery contract; directory
rename is not a single atomic step). The anti join
broadcasts when the delta is small (the common case: daily increment
vs full history); with co-partitioned/bucketed layouts it is
exchange-free on the base side. At real scale the same merge routes
through partition overwrite (`spark.sql.sources.partitionOverwriteMode=
dynamic`) so only partitions containing delta keys rewrite.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from bdt_spark.sources.io import _local_path


def _as_nullable(dt: T.DataType) -> T.DataType:
    """Recursively rewrite a DataType with every nested nullability flag
    set True, so type comparison ignores containsNull/valueContainsNull/
    struct-field nullability (parquet round-trips erase them anyway)."""
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True) for f in dt.fields]
        )
    return dt


def validate_merge_inputs(
    base: DataFrame, delta: DataFrame, key_cols: list[str]
) -> None:
    """Shared pre-merge checks for the swap and manifest upsert paths.

    1. Same column NAME set. 2. Same column TYPES — same names with
    different types would pass a name check, and unionByName would widen
    the merged column, permanently rewriting the table's schema (e.g. a
    CSV-inferred string id over a bigint). 3. No duplicate keys within
    the delta — the anti-join removes the base row and then BOTH delta
    rows would append, silently breaking the one-row-per-key invariant
    with no defined winner."""
    if set(base.columns) != set(delta.columns):
        raise ValueError(
            f"schema mismatch: base {sorted(base.columns)} "
            f"vs delta {sorted(delta.columns)}"
        )
    # Compare fully-nullable forms: DataType equality is strict about
    # nested containsNull/valueContainsNull/struct-field nullability, and a
    # base read back from parquet (everything nullable) vs an in-memory
    # delta with non-nullable array elements or struct fields is the SAME
    # logical type — only genuine type drift should be rejected.
    base_types = {f.name: _as_nullable(f.dataType) for f in base.schema.fields}
    drift = [
        f"{f.name}: base {base_types[f.name].simpleString()} vs delta "
        f"{f.dataType.simpleString()}"
        for f in delta.schema.fields
        if _as_nullable(f.dataType) != base_types[f.name]
    ]
    if drift:
        raise ValueError(f"schema type mismatch: {'; '.join(drift)}")
    validate_unique_keys(delta, key_cols)


def validate_unique_keys(delta: DataFrame, key_cols: list[str]) -> None:
    """Reject a frame with more than one row per key. Runs on every merge
    AND on table initialization (CLI/streaming init paths write the first
    delta verbatim — an init with duplicate keys would create the table
    already violating the one-row-per-key invariant, and later merges only
    validate their own delta, so the corruption would persist)."""
    # count_distinct over a STRUCT of the keys: unlike COUNT(DISTINCT a,b)
    # it does not skip rows with NULL key components, so a NULL-keyed
    # delta reports as duplicates of the NULL key rather than passing
    [kdup] = (
        delta.agg(
            F.count("*").alias("n"),
            F.count_distinct(
                F.struct(*[F.col(c) for c in key_cols])
            ).alias("d"),
        ).collect()
    )
    if kdup.n != kdup.d:
        raise ValueError(
            f"delta has duplicate keys on {key_cols}: {kdup.n} rows, "
            f"{kdup.d} distinct keys — reduce to one row per key first "
            f"(e.g. latest-by-timestamp)"
        )


def merge_upsert(
    spark: SparkSession,
    base_path: str,
    delta: DataFrame,
    key_cols: list[str],
    broadcast_delta: bool = True,
) -> int:
    """Upsert `delta` into the parquet table at `base_path` by `key_cols`.

    Returns the resulting row count. Delta rows replace base rows with
    the same key; new keys are appended.

    Swap contract: the staged result is fully written and counted before
    the base moves. The swap itself is two renames (base -> `._old`,
    staged -> base), NOT one atomic step; if the second rename fails the
    backup is restored, and if the process dies between the renames the
    previous table survives intact at `<base_path>._old` (recover by
    renaming it back). The `._old` backup is only deleted after the new
    table is in place.

    Limitation: this swap uses local-filesystem os.rename/shutil.rmtree,
    so `base_path` must be a local path — hdfs://, s3://, or other URI
    schemes are rejected here (on such stores, route the same merge
    through operators/versioned.py's manifest commit or dynamic
    partition overwrite instead). A `file:` URI is accepted and mapped
    to its local path by sources/io's path rule (`_local_path`), so the
    os-level swap operates on the directory Spark reads.
    """
    base_path = _local_path(base_path)
    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    base = spark.read.parquet(base_path)
    validate_merge_inputs(base, delta, key_cols)
    keys = delta.select(*key_cols).distinct()
    if broadcast_delta:
        keys = F.broadcast(keys)
    survivors = base.join(keys, key_cols, "left_anti")
    merged = survivors.unionByName(delta)

    staged = base_path.rstrip("/") + "._staged"
    merged.write.mode("overwrite").parquet(staged)
    n = spark.read.parquet(staged).count()
    # swap: staged result is complete before the base moves; the backup
    # stays on disk until the new table is confirmed in place
    backup = base_path.rstrip("/") + "._old"
    shutil.rmtree(backup, ignore_errors=True)
    os.rename(base_path, backup)
    try:
        os.rename(staged, base_path)
    except BaseException:
        os.rename(backup, base_path)  # restore: base is whole again
        raise
    shutil.rmtree(backup, ignore_errors=True)
    return n
