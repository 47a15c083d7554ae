"""The repository benchmark: one command, two workloads over bdt_spark.

    python3 perfbench/run.py --workload pipeline_sf01 --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One process drives Spark as a closed loop
with one client on local[nproc]; the only extra thread samples RSS from
/proc. The inputs are the repo's read-only fixture tables (TESTDATA.md):
sf0.1, and its 10x copy made by tools/gen_scale.py. A run:

1. builds the 10x copy once into perfbench/.cache, keyed on the hash of
   the source fixtures (not timed);
2. sets up once from a fresh JVM, as every bdt CLI call does: the
   session and, for query workloads, fixture registration and Python-worker
   start (`setup_s`; one sample per run, since three fresh JVMs would take
   most of a run);
3. with `--trace 1`, times one fixed op straight after set-up
   (`cold_op_s`, a per-layer metric: one sample per run, it moves +-20%
   with the host's speed);
4. runs every query op once and collects its output (this is also the
   warm-up);
5. times round(--seconds / pass_s) whole passes over the workload's ops,
   each in an order drawn from `--seed`: a fixed amount of work that
   takes about `--seconds` on a 4-core host;
6. checks the outputs after the timed region, so the checks' memory stays
   out of `peak_rss_mb`: query outputs from step 4 against the DuckDB
   oracle; the last timed pass's converts by round trip and its reads
   against the parquet footer; each compare on the seed's perturbed copy.

With `--trace 1` every timed pass is followed by a traced one, and the run
reports the per-layer metrics instead, plus the tracing overhead (traced
over untraced op time, minus 1). Spans and the per-layer table go
to the sidecar perfbench/out/<workload>-s<seed>-t<trace>.json.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. Lines before it print each metric by name with its unit, and
failed_frac.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
OUT = os.path.join(HERE, "out")
SCALE_K = 10
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "op/s",
    "peak_rss_mb": "MB",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _pin_env() -> None:
    """Executors import bdt_spark too: without the checkout on PYTHONPATH
    every mapInPandas task fails with ModuleNotFoundError. Scratch space
    stays inside the checkout."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    sys.path[:0] = [p for p in (ROOT, os.path.join(ROOT, "tools"))
                    if p not in sys.path]


def _spark_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(CACHE, 'tmp')} -XX:-UsePerfData -Xms{DRIVER_MEM}",
    }


# --- data ---------------------------------------------------------------------


def _sha(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _build(dst: str, make) -> str:
    """Build a data dir once: into a temporary name, then rename."""
    if os.path.isdir(dst):
        return dst
    tmp = f"{dst}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    os.rename(tmp, dst)
    return dst


def repo_fixtures(sf: str) -> str:
    """The repo's fixture tables at scale `sf` (TESTDATA.md): they sit next
    to the sf0.001 tables the repo's tests read (tests/conftest.py)."""
    spec = importlib.util.spec_from_file_location(
        "_repo_conftest", os.path.join(ROOT, "tests", "conftest.py"))
    conftest = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(conftest)
    return os.path.join(os.path.dirname(conftest.SF_DIR.rstrip("/")), f"sf{sf}")


def scaled_copy(base: str) -> str:
    """The 10x copy of `base` (tools/gen_scale.py), built once and keyed on
    the hash of the source fixtures and of the generator."""
    import gen_scale

    files = [os.path.join(base, f) for f in os.listdir(base) if f.endswith(".parquet")]

    def scale(d: str) -> None:
        with contextlib.redirect_stdout(sys.stderr):
            gen_scale.gen(base, d, SCALE_K)

    data = os.path.join(CACHE, "data")
    os.makedirs(data, exist_ok=True)
    key = _sha(files + [gen_scale.__file__])
    return _build(os.path.join(data, f"scaled{SCALE_K}x-{key}"), scale)


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 1e6


class Oracle:
    """DuckDB over the fixture tables. Canonical oracle answers are cached
    on disk by data dir and oracle text: the data never changes under a
    key, so neither do they."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.dir = os.path.join(CACHE, "oracle")
        self._duck = None

    def rows(self, sql: str) -> tuple[list, list]:
        key = hashlib.sha256(f"{self.data_dir}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self.dir, f"{key}.json")
        if os.path.isfile(path):
            with open(path) as f:
                cols, rows = json.load(f)
            return cols, rows
        from check_oracle import canonicalize

        cols, rows = canonicalize(self.con().sql(sql).df())
        os.makedirs(self.dir, exist_ok=True)
        with open(f"{path}.tmp", "w") as f:
            json.dump([cols, rows], f)
        os.replace(f"{path}.tmp", path)
        return cols, rows

    def con(self):
        if self._duck is None:
            import duckdb
            from bdt_spark.sources.io import FIXTURE_TABLES

            self._duck = duckdb.connect()
            for t in FIXTURE_TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                self._duck.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self._duck

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


# --- spark lifetime -----------------------------------------------------------


def setup(data_dir: str | None) -> tuple[object, dict[str, float]]:
    """Session, then for query workloads (`data_dir` set) what `bdt query
    --tables-dir` adds: fixture registration and one Python worker per
    core. The file verbs take paths and run no Python UDF."""
    from bdt_spark.session import get_spark
    from bdt_spark.sources.io import load_fixture_tables

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=_spark_conf())
    t1 = time.perf_counter()
    if data_dir:
        load_fixture_tables(spark, data_dir, force=True)
    t2 = time.perf_counter()
    if data_dir:
        n = _cores()
        spark.sparkContext.parallelize(range(n), n).map(abs).collect()
    t3 = time.perf_counter()
    return spark, {"setup_s": t3 - t0, "session.get_spark_s": t1 - t0,
                   "sources.io.load_fixture_tables_s": t2 - t1,
                   "pyworker.warm_s": t3 - t2}


def stop_jvm() -> None:
    """Stop Spark, then the JVM, and wait for both (and the Python workers
    the JVM started) to exit."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) != [os.getpid()] and time.time() < deadline:
        time.sleep(0.1)


# --- the run ------------------------------------------------------------------


class Run:
    """One benchmark run of one workload: counts, failures, sidecar data."""

    def __init__(self, workload: str, seed: int, data_dir: str, work_dir: str):
        import numpy as np

        from perfbench import tracing, workloads

        self.wl = workloads.WORKLOADS[workload]
        self.run_op, self.check_op = workloads.op_runner(self.wl.kind)
        self.ctx = workloads.Ctx(spark=None, data_dir=data_dir, work_dir=work_dir,
                                 tracer=tracing.Tracer(False))
        self.rng = np.random.default_rng(seed)
        self.attempted = self.failed = 0
        self.failures: list[dict] = []
        self.out: dict = {"workload": workload, "seed": seed,
                          "data_dir": os.path.relpath(data_dir, ROOT)}

    def fail(self, op: str, phase: str, err: str) -> None:
        self.failed += 1
        self.failures.append({"op": op, "phase": phase, "error": err[:500]})

    def check_all(self) -> dict:
        """Run each op's checks that come before the timed region. Returns
        the checks that come after it (oracle comparisons, round trips,
        perturbed compares, results of the timed runs)."""
        pending, check_s = {}, {}
        for name in sorted(set(self.wl.ops)):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                err = self.check_op(self.ctx, name)
            except Exception as e:  # a failed op is counted, not fatal
                traceback.print_exc()
                err = f"{type(e).__name__}: {e}"
            if callable(err):
                pending[name] = err
            elif err:
                self.fail(name, "check", err)
            check_s[name] = time.perf_counter() - t0
        self.out["check_s"] = check_s
        return pending

    def finish_checks(self, pending: dict) -> None:
        self.ctx.oracle = Oracle(self.ctx.data_dir)
        try:
            for name, finish in pending.items():
                self.attempted += 1
                try:
                    err = finish()
                except Exception as e:
                    traceback.print_exc()
                    err = f"{type(e).__name__}: {e}"
                if err:
                    self.fail(name, "after", err)
        finally:
            self.ctx.oracle.close()

    def passes(self, n: int):
        """`n` whole passes, each in seed order. Returns [(op, latency)] and
        the wall time."""
        timed: list[tuple[str, float]] = []
        t0 = time.perf_counter()
        for _ in range(n):
            for name in self.rng.permutation(self.wl.ops):
                self.attempted += 1
                op_id = self.ctx.tracer.new_op_id(name)
                try:
                    root = self.run_op(self.ctx, name, op_id)
                    if root.attrs.get("result") is False:
                        raise RuntimeError("identical files compared unequal")
                except Exception as e:
                    traceback.print_exc()
                    self.fail(name, "timed", f"{type(e).__name__}: {e}")
                    continue
                timed.append((name, root.dur))
                self.ctx.results[name] = root.attrs.get("result")
                if self.ctx.tracer.enabled:
                    self.ctx.tracer.records.append(self._op_record(name, op_id, root))
        return timed, time.perf_counter() - t0

    def _op_record(self, name: str, op_id: str, root) -> dict:
        """What the status store knows about one traced op, read after the
        op has finished (outside its latency)."""
        spans = [s for s in self.ctx.tracer.spans if s.op == op_id]
        return {"op": name, "op_id": op_id, "latency_s": root.dur,
                "spans": {s.id: {"name": s.name, "dur": s.dur, **s.attrs,
                                 "work": self.ctx.status.group_work(s.group)}
                          for s in spans}}


def _prepare_file_inputs(ctx, seed: int, out: dict) -> None:
    """The csv input of csv->parquet (built once per data dir), the
    compares' identical copy (another writer) and the seed's perturbed
    copy."""
    import pyarrow.csv as pacsv
    import pyarrow.parquet as pq

    from perfbench.workloads import COMPARE_TABLE, FILE_TABLE, perturb

    ctx.file_src = os.path.join(ctx.data_dir, f"{FILE_TABLE}.parquet")
    ctx.file_csv = f"{ctx.data_dir}.{FILE_TABLE}.csv"  # same key as the data
    if not os.path.isfile(ctx.file_csv):
        pacsv.write_csv(pq.read_table(ctx.file_src), f"{ctx.file_csv}.tmp")
        os.replace(f"{ctx.file_csv}.tmp", ctx.file_csv)
    ctx.compare_src = os.path.join(ctx.data_dir, f"{COMPARE_TABLE}.parquet")
    ctx.compare_copy = os.path.join(ctx.work_dir, "copy.parquet")
    pq.write_table(pq.read_table(ctx.compare_src), ctx.compare_copy,
                   compression="snappy")
    ctx.compare_perturbed = os.path.join(ctx.work_dir, "perturbed.parquet")
    row, col = perturb(ctx.compare_src, ctx.compare_perturbed, seed)
    out.update(input_mb=(os.path.getsize(ctx.file_src)
                         + os.path.getsize(ctx.compare_src)) / 1e6,
               perturbed_cell={"table": COMPARE_TABLE, "row": row, "column": col})


def run(workload: str, seed: int, seconds: float, trace: bool, base: str) -> dict:
    from perfbench import tracing
    from perfbench.layers import PER_LAYER, layer_metrics
    from perfbench.workloads import WORKLOADS

    data_dir = scaled_copy(base) if WORKLOADS[workload].data == "scaled" else base
    work = os.path.join(CACHE, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    r = Run(workload, seed, data_dir, work)
    ctx, out = r.ctx, r.out
    marks = [("start", time.perf_counter())]
    try:
        with tracing.RssSampler() as rss:
            ctx.spark, setup_t = setup(data_dir if r.wl.kind == "query" else None)
            if r.wl.kind == "file":
                _prepare_file_inputs(ctx, seed, out)
            else:
                out["input_mb"] = _dir_mb(data_dir)
            marks.append(("setup", time.perf_counter()))

            cold = None
            if trace:  # straight after set-up, before any warm-up
                r.attempted += 1
                cold = r.run_op(ctx, r.wl.cold_op, "cold").dur
                marks.append(("cold", time.perf_counter()))
            pending = r.check_all()
            marks.append(("checked", time.perf_counter()))

            n_passes = max(1, round(seconds / r.wl.pass_s))
            rss.peak = 0  # peak over the warm timed region only
            if trace:
                # after one untimed pass (a workload's first pass is still
                # getting faster), untraced and traced passes alternate, so
                # both are equally warm and their difference is the tracing
                # overhead
                r.passes(1)
                rss.peak = 0
                plain = ctx.tracer
                traced_tr = tracing.Tracer(True, ctx.spark.sparkContext)
                ctx.status = tracing.SparkStatus(ctx.spark.sparkContext)
                ctx.phases = tracing.WritePhases(ctx.spark)
                timed, traced, wall = [], [], 0.0
                for _ in range(n_passes):
                    ctx.tracer = plain
                    t, w = r.passes(1)
                    timed, wall = timed + t, wall + w
                    ctx.tracer = traced_tr
                    traced += r.passes(1)[0]
            else:
                timed, wall = r.passes(n_passes)
            lat = [t for _, t in timed]
            metrics = {
                "setup_s": setup_t["setup_s"],
                "ops_per_s": len(lat) / wall,
                "peak_rss_mb": rss.peak / 1e6,
            }
            p50 = statistics.median(lat) if lat else float("nan")
            out.update(cold_op=r.wl.cold_op, cold_op_s=cold, passes=n_passes,
                       latency_p50_s=p50, samples=len(lat), region_s=wall,
                       timed_ops=timed)
            if trace:
                tlat = [t for _, t in traced]
                overhead = sum(tlat) / sum(lat) - 1 if lat and tlat else float("nan")
                layers, table = layer_metrics(traced_tr, setup_t, cold, p50,
                                              overhead, _cores())
                out.update(per_layer_table=table, traced_ops=traced,
                           op_records=traced_tr.records,
                           spans=[vars(s) for s in traced_tr.spans])
            marks.append(("timed", time.perf_counter()))
        r.finish_checks(pending)
        marks.append(("oracle", time.perf_counter()))
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    marks.append(("stop", time.perf_counter()))
    reported = layers if trace else metrics
    units = PER_LAYER if trace else END_TO_END
    out.update(setup=setup_t, end_to_end=metrics, metrics=reported,
               failures=r.failures,
               phase_s={b: tb - ta for (_, ta), (b, tb) in zip(marks, marks[1:])})
    _write_sidecar(out, trace)
    return {"correct": r.failed == 0, "attempted": r.attempted, "failed": r.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in reported.items()}}


def _write_sidecar(out: dict, trace: bool) -> None:
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"{out['workload']}-s{out['seed']}-t{int(trace)}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, default=str)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixtures", default=None,
                    help="directory of the base fixture tables (default: the "
                         "repo's sf0.1 fixtures; the smoke test uses sf0.001)")
    args = ap.parse_args(argv)
    needed = [os.path.join(ROOT, "bdt_spark", "__init__.py"),
              os.path.join(ROOT, "tests", "conftest.py"),
              os.path.join(ROOT, "tools", "check_oracle.py"),
              os.path.join(ROOT, "tools", "gen_scale.py")]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: not a bdt_spark checkout, missing {missing}",
              file=sys.stderr)
        return 2
    base = args.fixtures or repo_fixtures("0.1")
    if not os.path.isfile(os.path.join(base, "lineitem.parquet")):
        print(f"perfbench: no fixture tables in {base}", file=sys.stderr)
        return 2
    _pin_env()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 os.path.abspath(base))
    for k, m in result["metrics"].items():
        print(f"# {args.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"# {args.workload} failed_frac = "
          f"{result['failed'] / result['attempted']:.6g} ratio")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
