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
boundary).

`local_relation` hands Spark an Arrow table built from the declared schema
instead (`createDataFrame(pa.Table)`): the JVM decodes the Arrow batches
into a `LocalRelation` (`LocalTableScan` in the plan) that lives entirely in
the JVM and is scanned with zero Python workers. Every Spark type Arrow can
hold takes this one path, at any size: above Spark's own
`spark.sql.execution.arrow.localRelationThreshold` the JVM keeps the rows
as Arrow batches and scans them as a JVM RDD (`Scan ExistingRDD arrow`),
still with no Python worker. Intended ONLY for frames that are driver-size
by construction — the same contract as the `collect()` call that produced
the rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType


def local_relation(spark: SparkSession, rows, schema) -> DataFrame:
    """Create a DataFrame of driver-local `rows` whose plan is a JVM
    `LocalTableScan` (no Python workers at execution).

    rows: list of tuples/Rows in schema field order; a scalar row is a
    one-field row. schema: StructType or DDL string (exact result types,
    like createDataFrame). A row of the wrong width, or a None in a
    non-nullable field, raises ValueError."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    fields = struct.fields
    norm = [
        tuple(r) if isinstance(r, (Row, tuple, list)) else (r,) for r in rows
    ]
    for vals in norm:
        if len(vals) != len(fields):
            raise ValueError(
                f"row {vals!r} has {len(vals)} values, the schema "
                f"{len(fields)} fields"
            )
        for v, f in zip(vals, fields):
            if v is None and not f.nullable:
                raise ValueError(
                    f"field {f.name}: This field is not nullable, "
                    "but got None"
                )
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*norm)) or [()] * len(fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
