"""The benchmark's workloads: which ops each runs, how one op is timed, and
how its output is checked.

Every op calls the `bdt_spark` public API. Query ops (`pipeline_sf01`)
build a DataFrame with the registered plan and end in a write to Spark's
`noop` sink, which evaluates every output column; `count()` would let
Spark prune the projection and under-measure the query.
File ops (`fileops_sf1`) call the bdt verbs the CLI exposes.

Two workloads, chosen to stress different layers: in `pipeline_sf01` the
plan build in Python (with its eager Spark jobs) and the Python workers
dominate; `fileops_sf1` builds no plan through `bdt_spark.plans` and runs
no Python UDF, so it is the workload on which plan-layer changes should
show no effect.

Checks run outside the timed loop: query outputs are hashed
order-insensitively with `tools/check_oracle.canonicalize` and compared to
the query's DuckDB oracle; the timed converts' outputs must round-trip to
the same rows and the timed reads must match the parquet footer; a compare
must say ok on identical files (in every timed run) and not ok on a copy
with one cell perturbed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

from perfbench.tracing import Tracer, pyworker_cpu_s

# --- op mixes ---------------------------------------------------------------

# the globalorder analytic builds its plan with eager range-sampling and
# stats jobs; packing runs Python workers (applyInPandas); chunking is a
# map-only SQL step where fixed per-job cost dominates. Warm, they take
# about 1.6, 0.9 and 0.6 s on 4 cores. Slower ops (quality_split_drift_ks,
# pipeline_curation_end_to_end: 2-4.5 s warm, 7-10 s for their first run)
# left too few timed passes in a run.
GLOBALORDER_OPS = (
    "text_feature_auc_mann_whitney",
)
PIPELINE_OPS = GLOBALORDER_OPS + (
    "tokens_sequence_packing",
    "tokens_doc_chunking",
)
# reads and converts run on the sf1 fact table orders (1.5 M rows, 13 MB),
# where each convert takes 2-10 s of scan and write work on 4 cores; compares
# run on supplier (10 k rows), where the hash+epsilon compare already takes
# 3-8 s
FILE_TABLE = "orders"
COMPARE_TABLE = "supplier"
CONVERTS = (
    "convert.parquet_to_csv",
    "convert.parquet_to_zstd",
    "convert.csv_to_parquet",
    "convert.parquet_to_json",
)
FILE_OPS = (
    "schema",
    "count",
    "view_parquet_meta",
    "compare.positional",
    "compare.hash",
    "compare.hash_eps",
) + CONVERTS
COMPARE_EPSILON = 1e-6


@dataclass(frozen=True)
class Workload:
    name: str
    data: str  # "base" (the sf0.1 fixtures) or "scaled" (their 10x copy)
    ops: tuple[str, ...]
    cold_op: str
    kind: str  # "query" (registers the fixture tables) or "file" (reads paths)
    # seconds one warm pass takes on 4 cores: a run times a fixed number of
    # passes, round(--seconds / pass_s), so every run does the same work
    pass_s: float


WORKLOADS = {
    "pipeline_sf01": Workload("pipeline_sf01", "base", PIPELINE_OPS,
                              "tokens_sequence_packing", "query", 3.2),
    "fileops_sf1": Workload("fileops_sf1", "scaled", FILE_OPS, "count", "file", 30.0),
}


@dataclass
class Ctx:
    """What ops need: the session, the data, and where to write."""

    spark: object
    data_dir: str
    work_dir: str
    tracer: Tracer
    status: object = None  # tracing.SparkStatus when tracing
    phases: object = None  # tracing.WritePhases when tracing
    oracle: object = None  # run.Oracle, set once the timed region is over
    file_src: str = ""  # parquet input of the file ops
    file_csv: str = ""  # the same rows as csv
    compare_src: str = ""  # parquet input of the compares
    compare_copy: str = ""  # identical rows, written by another writer
    compare_perturbed: str = ""  # one cell changed, chosen by the seed
    results: dict = field(default_factory=dict)  # op -> result of its last timed run


# --- query ops ---------------------------------------------------------------


def run_query(ctx: Ctx, name: str, op_id: str):
    """Build the registered plan and write it to the noop sink. Returns the
    root span; its duration is the op's latency."""
    import bdt_spark.plans as plans
    from bdt_spark.operators.cacheutil import release

    tr = ctx.tracer
    with tr.span("op", op_id) as root:
        with tr.span("plans.build", op_id):
            df = plans.get_query(name).fn(ctx.spark, ctx.data_dir)
        if tr.enabled:
            since = ctx.phases.mark()
            cpu0 = pyworker_cpu_s(os.getpid())
        with tr.span("exec.action", op_id) as act:
            df.write.format("noop").mode("overwrite").save()
        if tr.enabled:
            act.attrs["pyworker_cpu_s"] = pyworker_cpu_s(os.getpid()) - cpu0
    if tr.enabled:
        # after the op: the write's own QueryExecution, as Spark ran it
        act.attrs["phases"] = ctx.phases.wait_for("overwrite", since)
        root.attrs["persisted_b"] = ctx.status.persisted_bytes()
    release(df)
    return root


def check_query(ctx: Ctx, name: str):
    """Collect the op's rows now; return a function that compares them with
    the DuckDB oracle later, after the timed region, so DuckDB's memory
    stays out of the measured RSS."""
    import bdt_spark.plans as plans
    from bdt_spark.operators.cacheutil import release
    from check_oracle import canonicalize

    spec = plans.get_query(name)
    df = spec.fn(ctx.spark, ctx.data_dir)
    got = canonicalize(df.toPandas())
    release(df)
    if spec.oracle is None:
        return None if got[1] else "no rows"

    def finish() -> str | None:
        wcols, wrows = ctx.oracle.rows(spec.oracle)
        gcols, grows = got
        if gcols != wcols:
            return f"columns {gcols} != {wcols}"
        if len(grows) != len(wrows):
            return f"row count {len(grows)} != {len(wrows)}"
        return None if grows == wrows else "row values differ from the oracle"

    return finish


# --- file ops ----------------------------------------------------------------


def _out(ctx: Ctx, name: str) -> str:
    return os.path.join(ctx.work_dir, {
        "convert.parquet_to_csv": "out.csv",
        "convert.parquet_to_zstd": "out_zstd.parquet",
        "convert.csv_to_parquet": "from_csv.parquet",
        "convert.parquet_to_json": "out.json",
    }[name])


def _bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


def _compare(ctx: Ctx, method: str, left: str, right: str):
    from bdt_spark.operators.compare import compare_files

    eps = COMPARE_EPSILON if method == "hash_eps" else None
    return compare_files(ctx.spark, left, right, epsilon=eps,
                         method="positional" if method == "positional" else "hash")


def run_file_op(ctx: Ctx, name: str, op_id: str):
    from bdt_spark.operators.convert import convert
    from bdt_spark.operators.meta import format_parquet_meta, read_parquet_meta
    from bdt_spark.sources.io import read_file

    tr, spark, src = ctx.tracer, ctx.spark, ctx.file_src
    with tr.span("op", op_id) as root:
        if name in ("schema", "count"):
            with tr.span("sources.io.read_file", op_id):
                df = read_file(spark, src)
                cols = df.schema.names
            if name == "count":
                with tr.span("exec.action", op_id):
                    root.attrs["result"] = df.count()
            else:
                root.attrs["result"] = cols
        elif name == "view_parquet_meta":
            with tr.span("operators.meta.read_parquet_meta", op_id):
                meta = read_parquet_meta(src)
                format_parquet_meta(meta)
            root.attrs["result"] = meta.num_rows
        elif name.startswith("convert."):
            inp = ctx.file_csv if name == "convert.csv_to_parquet" else src
            with tr.span("operators.convert.convert", op_id):
                convert(spark, inp, _out(ctx, name),
                        single_file=name == "convert.parquet_to_csv",
                        zstd=name == "convert.parquet_to_zstd")
        else:
            method = name.split(".", 1)[1]
            with tr.span(f"operators.compare.compare_files.{method}", op_id):
                root.attrs["result"] = _compare(ctx, method, ctx.compare_src,
                                                ctx.compare_copy).ok
    if tr.enabled and name.startswith("convert."):
        root.attrs["in_b"] = _bytes(inp)
        root.attrs["out_b"] = _bytes(_out(ctx, name))
    return root


def _multiset(con, sql: str, cols: list[str]) -> tuple:
    """Row count and order-insensitive sum of row hashes."""
    row = ", ".join(f'"{c}"' for c in cols)
    return con.sql(f"SELECT count(*), sum(hash({row})::HUGEINT) FROM ({sql})").fetchone()


def _round_trip(ctx: Ctx, name: str) -> str | None:
    """DuckDB reads the convert's output back; its rows, cast to the
    source's types, must equal the source's rows as a multiset."""
    con = ctx.oracle.con()
    out = _out(ctx, name)
    reader = {".csv": "read_csv", ".json": "read_json", ".parquet": "read_parquet"}[
        os.path.splitext(out)[1]]
    path = out if os.path.isfile(out) else os.path.join(out, "part-*")
    src = f"SELECT * FROM read_parquet('{ctx.file_src}')"
    cols = con.sql(f"DESCRIBE {src}").fetchall()
    cast = ", ".join(f'CAST("{c}" AS {t}) AS "{c}"' for c, t, *_ in cols)
    names = [c for c, *_ in cols]
    want = _multiset(con, src, names)
    got = _multiset(con, f"SELECT {cast} FROM {reader}('{path}')", names)
    return None if got == want else f"round trip: (rows, hash) {got} != {want}"


def check_file_op(ctx: Ctx, name: str):
    """Return the op's check, made after the timed region (the timed pass
    is the file ops' first run, so they need no warm-up of their own):
    converts round-trip, reads match the parquet footer, and each compare
    says not ok on the seed's perturbed copy (the epsilon method is
    skipped: its mismatch path alone takes longer than a pass). Every timed
    compare must say ok on the identical copy (checked as it runs)."""
    if name.startswith("compare."):
        method = name.split(".", 1)[1]
        if method == "hash_eps":
            return None

        def perturbed() -> str | None:
            if _compare(ctx, method, ctx.compare_src, ctx.compare_perturbed).ok:
                return "perturbed copy compared equal"
            return None

        return perturbed
    if name.startswith("convert."):
        return lambda: _round_trip(ctx, name)

    def finish() -> str | None:
        meta = pq.read_metadata(ctx.file_src)
        want = {"schema": meta.schema.to_arrow_schema().names,
                "count": meta.num_rows,
                "view_parquet_meta": meta.num_rows}[name]
        got = ctx.results.get(name)
        return None if got == want else f"{got!r} != {want!r}"

    return finish


def perturb(src: str, dst: str, seed: int) -> tuple[int, str]:
    """Copy `src` with one cell changed: the row and column come from the
    seed. Numbers move by 1 (far above the compare epsilon), strings gain a
    character."""
    import pyarrow as pa

    table = pq.read_table(src)
    rng = np.random.default_rng(seed)
    row = int(rng.integers(table.num_rows))
    col = table.column_names[int(rng.integers(table.num_columns))]
    values = table.column(col).to_pylist()
    v = values[row]
    values[row] = v + "~" if isinstance(v, str) else v + 1
    idx = table.column_names.index(col)
    table = table.set_column(idx, col, pa.array(values, table.schema.field(col).type))
    pq.write_table(table, dst)
    return row, col


def op_runner(kind: str) -> tuple[Callable, Callable]:
    return (run_query, check_query) if kind == "query" else (run_file_op, check_file_op)
