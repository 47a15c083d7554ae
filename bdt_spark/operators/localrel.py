"""Driver-local rows as a JVM LocalRelation — no Python at execution.

`spark.createDataFrame(list)` builds a **pickled Python RDD**: its physical
plan is `Scan ExistingRDD`, and every job that scans it launches a Python
worker per task just to unpickle a handful of driver-side rows. In this
engine those tiny frames (globalorder offsets, mergeable-sketch summaries,
k-means centroids, property-query outputs) are scanned by MANY jobs — the
stats/broadcast jobs of every globalorder pass, every Lloyd iteration, every
CTE branch — so the boundary is paid over and over: measured ~1.3 s of
blocked executor time per 32-task scan at sf0.1 (tasks sit in
`BasePythonRunner$ReaderInputStream.read`, ~8 ms CPU), and a trivial
broadcast join against such a frame times at 1.64 s vs 0.55 s against a
`LocalTableScan` (optimization guide §4.1: eliminate the JVM-Python
boundary; §4 menu: built-ins/SQL expressions always preferred).

`local_relation` renders the rows as a SQL `VALUES` table instead: the
result is an analyzer-time `LocalRelation` (`LocalTableScan` in the plan),
lives entirely in the JVM, broadcasts for free, and is scanned with zero
Python workers. Intended ONLY for frames that are driver-size by
construction — the same contract as the `collect()` call that produced the
rows. Falls back to `createDataFrame` (bit-identical semantics, just
slower) for types the renderer does not cover or if the rendered SQL would
be unreasonably large.

Literal fidelity notes:
- doubles/floats render via `repr()` (shortest round-trip form); Java's
  `Double.parseDouble` is correctly rounded, so the bits survive exactly.
  NaN/±Infinity use the string-cast forms Spark defines for them.
- decimals render as exact strings cast to the declared precision/scale.
- naive datetimes render as `TIMESTAMP '...'` literals, which Spark
  interprets in the session time zone — the same convention
  `createDataFrame` applies to naive datetimes (sessions here pin UTC).
"""

from __future__ import annotations

import datetime as _dt
import math
from decimal import Decimal

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)

# Past this rendered-SQL size the parse itself would start to cost more
# than the Python-boundary round it avoids; fall back.
_MAX_SQL_BYTES = 4_000_000


class _Unsupported(Exception):
    pass


def _escape_str(s: str) -> str:
    return s.replace("\\", "\\\\").replace("'", "\\'")


def _render(v, dt: DataType) -> str:
    ddl = dt.simpleString()
    if v is None:
        return f"CAST(NULL AS {ddl})"
    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        return f"CAST({int(v)} AS {ddl})"
    if isinstance(dt, BooleanType):
        return "true" if v else "false"
    if isinstance(dt, (DoubleType, FloatType)):
        f = float(v)
        if math.isnan(f):
            return f"CAST('NaN' AS {ddl})"
        if math.isinf(f):
            return f"CAST('{'Infinity' if f > 0 else '-Infinity'}' AS {ddl})"
        return f"CAST('{f!r}' AS {ddl})"
    if isinstance(dt, DecimalType):
        return f"CAST('{Decimal(v)}' AS {ddl})"
    if isinstance(dt, StringType):
        return f"'{_escape_str(str(v))}'"
    if isinstance(dt, BinaryType):
        return f"X'{bytes(v).hex()}'"
    if isinstance(dt, DateType):
        return f"DATE '{v.isoformat()}'"
    if isinstance(dt, TimestampType):
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            raise _Unsupported("tz-aware datetime")
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(dt, ArrayType):
        et = dt.elementType
        if not v:
            return f"CAST(array() AS {ddl})"
        return "array(" + ", ".join(_render(e, et) for e in v) + ")"
    raise _Unsupported(ddl)


def local_relation(spark: SparkSession, rows, schema) -> DataFrame:
    """Create a DataFrame of driver-local `rows` whose plan is a JVM
    `LocalTableScan` (no Python workers at execution).

    rows: list of tuples/Rows in schema field order.
    schema: StructType or DDL string (exact result types, like
    createDataFrame).  Falls back to `spark.createDataFrame(rows, schema)`
    on unsupported types or oversized renderings — same data either way.
    """
    if isinstance(schema, str):
        struct = StructType.fromDDL(schema)
    else:
        struct = schema
    # One normalization shared by the render AND fallback paths (ADVICE
    # r15): a scalar row is (r,) in both, and a dict row fails loudly in
    # both instead of silently becoming its key tuple in one of them.
    norm = [
        tuple(r) if isinstance(r, (Row, tuple, list)) else (r,) for r in rows
    ]
    try:
        # The VALUES renderer escapes strings for the DEFAULT parser
        # mode; under escapedStringLiterals backslash escapes are
        # literal and `\'` no longer escapes a quote (ADVICE r15) —
        # take the createDataFrame path instead of corrupting literals.
        if (
            spark.conf.get(
                "spark.sql.parser.escapedStringLiterals", "false"
            ).lower()
            == "true"
        ):
            raise _Unsupported("escapedStringLiterals session")
        if not norm:
            if any(not f.nullable for f in struct.fields):
                # a WHERE 1=0 projection of CAST(NULL ...) columns is
                # all-nullable and cannot express a non-nullable field;
                # an empty createDataFrame schedules zero tasks, so the
                # Python-boundary cost this module exists to avoid is
                # nil here anyway
                raise _Unsupported("empty rows with non-nullable field")
            null_row = ", ".join(
                f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
                for f in struct.fields
            )
            return spark.sql(f"SELECT {null_row} WHERE 1=0")
        rendered = []
        for vals in norm:
            if len(vals) != len(struct.fields):
                raise _Unsupported("row arity mismatch")
            for v, f in zip(vals, struct.fields):
                # declared non-nullable enforcement (ADVICE r15), the
                # check createDataFrame's verifier applies — loud
                # ValueError, not a silent nullable column
                if v is None and not f.nullable:
                    raise ValueError(
                        f"field {f.name}: This field is not nullable, "
                        "but got None"
                    )
            rendered.append(
                "("
                + ", ".join(
                    _render(v, f.dataType)
                    for v, f in zip(vals, struct.fields)
                )
                + ")"
            )
        body = ", ".join(rendered)
        # Nullability parity with createDataFrame (ADVICE r15): VALUES
        # derives nullability from the literals, so a nullable-DECLARED
        # column with no NULL rows came back nullable=False. Wrapping
        # declared-nullable fields in `if(true, c, NULL)` widens them at
        # analysis time; the optimizer still collapses the projection
        # into the LocalRelation (plan stays LocalTableScan — asserted
        # in tests). Remaining divergence, documented: nested element
        # nullability (array containsNull) and non-nullable FRACTIONAL
        # columns may come back nullable, because the renderer's
        # string->double CASTs are nullable expressions.
        proj = ", ".join(
            f"if(true, `{f.name}`, NULL) AS `{f.name}`"
            if f.nullable
            else f"`{f.name}`"
            for f in struct.fields
        )
        cols = ", ".join(f"`{f.name}`" for f in struct.fields)
        sql = f"SELECT {proj} FROM (VALUES {body}) AS __lr({cols})"
        if len(sql) > _MAX_SQL_BYTES:
            raise _Unsupported("rendered SQL too large")
        return spark.sql(sql)
    except _Unsupported:
        return spark.createDataFrame(norm, struct)
