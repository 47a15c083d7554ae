"""Global-order primitives: row numbers, running totals, grand totals and
NTILE over a TOTAL ordering, with the plan chosen from the input's size.

`fn() OVER (ORDER BY ...)` with an empty PARTITION BY is a
single-partition window in Spark: `Exchange SinglePartition`, then one
task sorts and scans everything. Over a bounded input that is the
cheapest plan there is (one lazy plan, no extra job); over a corpus-sized
input (every order, every customer, every distinct price at 100 TB) it is
a cliff. Several analytics need exactly that shape (equi-depth binning,
Pareto cumulative share, KS cumulative distributions, rank sums, the
canonical row index of `compare --epsilon`), so `with_global_order` has
two arms and picks one with a single gate:

- **Window arm** (input below WINDOW_MAX_BYTES): `row_number()` and
  `SUM(x) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`, with
  `COUNT(*) OVER ()` and `SUM(x) OVER ()` for the grand totals. One lazy
  plan: no persist and no Spark job before the caller's action.
- **Heavy arm** (at or above the gate, or an input the gate cannot
  bound): the distributed prefix.
  1. `repartitionByRange` on the total order: ordered partitions and a
     parallel sort (how Spark's own global `orderBy` starts);
  2. a per-partition local prefix (window PARTITIONed BY the range
     partition id, so no single-partition exchange anywhere);
  3. one small count/sum job per partition id over the persisted sorted
     layout, whose per-partition totals become broadcast offsets added
     to the local prefixes, and whose Python-side accumulation yields
     the grand totals as literals.
  The persisted layout is released by the caller through the cacheutil
  contract. Catalyst cannot prove the range layout already clusters rows
  by `spark_partition_id()`, so the pid-partitioned window adds one more
  narrow hash shuffle. Both shuffles are parallel and balanced by the
  range boundaries.

The gate reads the on-disk bytes of the files the input plan scans
(`sources.io.plan_scan_bytes`, the input size every plan gate reads) from
the scan leaves' Spark file index, so it works on object-store paths as
well as local ones. Exact input bytes choose the plan, not optimizer
estimates (the Dremel argument, PAPERS.md). A plan it cannot bound takes
the heavy arm whatever its size: a leaf that is not a file scan, local
relation or range (an RDD, say), or any operator that can multiply rows
(a join or a generator such as `explode`).

WINDOW_MAX_BYTES is set from a warm A/B of both arms (4 cores, medians of
5-7 alternating runs of plan build plus a noop write; rows identical in
every case). "MB" is the scanned files' bytes; sfK is the sf0.1 fixtures
scaled by tools/gen_scale.py:

| caller | scale (scanned MB) | heavy arm | window arm | speedup |
|---|---|---|---|---|
| AUC | sf0.1 (0.6) | 2.20 s | 0.63 s | 3.5x |
| AUC | sf1 (2.3) | 1.30 s | 0.52 s | 2.5x |
| `compare --epsilon`, supplier | sf0.1 / sf1 (<0.1) | 1.72 / 1.46 s | 0.46 / 0.47 s | 3.8x / 3.1x |
| binning | sf0.1 (2.7) | 2.24 s | 1.01 s | 2.2x |
| KS | sf0.1 (2.7) | 3.26 s | 1.51 s | 2.2x |
| RFM | sf0.1 (2.7) | 4.42 s | 1.39 s | 3.2x |
| binning | sf0.3 (4.3) | 2.58 s | 1.84 s | 1.4x |
| KS | sf0.3 (4.3) | 2.39 s | 1.58 s | 1.5x |
| RFM | sf0.3 (4.3) | 4.78 s | 1.82 s | 2.6x |
| binning | sf0.5 (6.8) | 2.07 s | 2.37 s | 0.9x |
| binning | sf1 (12.6) | 2.79 s | 3.51 s | 0.8x |
| pareto | sf0.1 (10.8) | 2.71 s | 1.60 s | 1.7x |

The window arm saves a fixed second or more (range sampling, persist,
stats job) but sorts its whole input in one task, so its lead shrinks as
the ordered rows grow. Binning orders every raw row and is the first
caller to lose, between 4.3 and 6.8 MB; the threshold sits between the
two. Callers that aggregate before ordering (pareto, KS, RFM) would win
above it too, but the gate sees scanned bytes, not ordered rows, so they
take the heavy arm there: the same plan and speed as before the gate.

Exactness: the caller's order must be TOTAL (tie-broken to the row, as
every registry query guarantees). Decimal and long running sums are
associative, so the heavy arm's per-partition partials plus exclusive
offsets reproduce the window arm's sequential prefix exactly; the two
arms return the same rows and the same result types (both round a
DECIMAL(38, s) running sum to scale s - 1; see `_add_prefix`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bdt_spark.operators.cacheutil import transfer_ownership
from bdt_spark.sources.io import plan_scan_bytes

_PID = "__go_pid"

# Scanned input bytes below which the single-window arm runs (see the
# module docstring for the A/B that sets it).
WINDOW_MAX_BYTES = 5 << 20


def with_global_order(
    df: DataFrame,
    order: list[Column],
    running: dict[str, str] | None = None,
    index_col: str | None = None,
) -> tuple[DataFrame, dict[str, Column], Column]:
    """Attach global-order columns to `df`.

    order: sort expressions forming a TOTAL order (tie-broken to the row).
    running: {out_col: in_col} inclusive running SUMs along the order.
    index_col: name for the 1-based global row number, if wanted.

    Returns (result, grand_totals, n_rows). `grand_totals[out_col]` is the
    full-table sum of each running column and `n_rows` the total row
    count, both as Columns to use in projections of `result`: literals in
    the heavy arm, `SUM(x) OVER ()` / `COUNT(*) OVER ()` in the window
    arm. The heavy arm's result carries the persisted sorted layout under
    the cacheutil ownership contract; `release(result)` once consumed (a
    no-op for the window arm).
    """
    running = running or {}
    if plan_scan_bytes(df) < WINDOW_MAX_BYTES:
        return _window_arm(df, order, running, index_col)
    return _heavy_arm(df, order, running, index_col)


def _window_arm(df, order, running, index_col):
    w = Window.orderBy(*order)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols = {}
    if index_col:
        cols[index_col] = F.row_number().over(w).cast("long")
    types = dict(df.dtypes)
    for out, src in running.items():
        local = F.sum(src).over(wsum)
        if types.get(src, "decimal").startswith("decimal"):
            # adding the heavy arm's offset widens a decimal sum's type (and
            # at precision 38 drops a scale digit): combine with a NULL
            # offset typed like the sum, so the types agree by construction.
            # A name outside the top-level columns takes this path too; it
            # is right for every type, just a few calls dearer.
            local = _add_prefix(local, F.when(F.lit(False), local))
        cols[out] = local
    whole = Window.partitionBy()
    totals = {out: F.sum(src).over(whole) for out, src in running.items()}
    result = df.withColumns(cols) if cols else df
    return result, totals, F.count(F.lit(1)).over(whole)


def _heavy_arm(df, order, running, index_col):
    sdf = (
        df.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn(_PID, F.spark_partition_id())
        .persist()
    )
    aggs = [F.count(F.lit(1)).alias("__go_cnt")] + [
        F.sum(src).alias(f"__go_sum_{out}") for out, src in running.items()
    ]
    stats_df = sdf.groupBy(_PID).agg(*aggs)
    stats_schema = stats_df.schema
    part_rows = sorted(stats_df.collect(), key=lambda r: r[_PID])
    # exclusive prefixes per partition; python accumulation = grand totals
    n_rows = 0
    totals: dict[str, object] = {out: None for out in running}
    offsets = []
    for r in part_rows:
        off = {"__go_off_cnt": n_rows}
        n_rows += r["__go_cnt"]
        for out in running:
            s = r[f"__go_sum_{out}"]
            off[f"__go_off_{out}"] = totals[out]
            if s is not None:
                totals[out] = s if totals[out] is None else totals[out] + s
        offsets.append((r[_PID], off))

    sum_types = {out: stats_schema[f"__go_sum_{out}"].dataType
                 for out in running}
    total_cols = {out: F.lit(totals[out]).cast(sum_types[out])
                  for out in running}
    n_col = F.lit(n_rows).cast("long")
    # offsets table typed from the stats row schema (keeps decimals exact);
    # empty input gives an empty table, and so a typed, empty result
    from pyspark.sql.types import LongType, StructField, StructType

    fields = [StructField(_PID, stats_schema[_PID].dataType, False),
              StructField("__go_off_cnt", LongType(), False)]
    for out in running:
        fields.append(StructField(f"__go_off_{out}", sum_types[out], True))
    # A JVM LocalRelation, not a pickled Python RDD: the offsets frame is
    # scanned by every downstream job (broadcast build per pass, chained
    # passes embed earlier passes' joins), and a pickled-RDD scan pays a
    # Python-worker round each time — measured ~1.3 s of blocked executor
    # time per 32-task scan at sf0.1 (operators/localrel.py; guide §4.1).
    from bdt_spark.operators.localrel import local_relation

    off_df = local_relation(
        df.sparkSession,
        [
            tuple([pid, off["__go_off_cnt"]]
                  + [off[f"__go_off_{out}"] for out in running])
            for pid, off in offsets
        ],
        StructType(fields),
    )
    result = sdf.join(F.broadcast(off_df), _PID)
    w = Window.partitionBy(_PID).orderBy(*order)
    if index_col:
        result = result.withColumn(
            index_col,
            (F.row_number().over(w) + F.col("__go_off_cnt")).cast("long"),
        )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for out, src in running.items():
        result = result.withColumn(
            out,
            _add_prefix(F.sum(src).over(wsum), F.col(f"__go_off_{out}")),
        )
    drop = [_PID, "__go_off_cnt"] + [f"__go_off_{out}" for out in running]
    return transfer_ownership(result.drop(*drop), sdf), total_cols, n_col


def _add_prefix(local: Column, off: Column) -> Column:
    """A local running sum plus the exclusive offset of the rows before it.

    SUM ignores NULLs: a NULL local prefix (all values so far in this range
    partition are NULL) must not null out a non-NULL offset, and vice
    versa; only both-NULL yields NULL, matching SUM(x) OVER (). For a
    DECIMAL(38, s) sum, Spark's decimal addition rounds the result to
    scale s - 1 (precision-loss rule), so the prefix is typed
    DECIMAL(38, s - 1) in both arms."""
    return (
        F.when(off.isNull(), local)
        .when(local.isNull(), off)
        .otherwise(local + off)
    )


def ntile_from_index(index_col: str, n_rows: Column, k: int) -> Column:
    """Exact NTILE(k) from a 1-based global row number over n_rows rows
    (the row-count Column `with_global_order` returns).

    Standard SQL semantics (Spark and DuckDB agree): with q = n div k and
    r = n mod k, the first r tiles hold q+1 rows, the rest q. With fewer
    rows than tiles (q = 0) every row is in the first branch, tile i
    holding row i. Pure arithmetic on the global index, no window."""
    n = n_rows.cast("long")
    r = n % k
    q = ((n - r) / k).cast("long")
    idx = F.col(index_col)
    boundary = r * (q + 1)
    in_big = F.floor((idx - 1) / (q + 1)) + 1
    in_small = r + F.floor((idx - 1 - boundary) / q) + 1
    return F.when(idx <= boundary, in_big).otherwise(in_small).cast("int")
