"""Per-layer metrics of a traced run, named after the bdt_spark modules.

Each value is a per-op mean over the traced ops unless its name says
otherwise (`*_share`, `*_per_in`, `cpu_util` are ratios of sums; setup
layers are the run's one set-up; `cold_op_s` is the latency of
the workload's first op after set-up; `latency_p50_s` is the median op
latency of the run's untraced passes). A layer the workload never calls
reads 0.

`catalyst.*` are the phases of the noop write's own QueryExecution, the
one Spark executed, as a QueryExecutionListener reports them; its analysis
phase is near 0 because the write reuses the op's analyzed plan.
"""

from __future__ import annotations

from perfbench.tracing import Tracer, self_times, union_length
from perfbench.workloads import GLOBALORDER_OPS

PER_LAYER = {
    "cold_op_s": "s",
    "latency_p50_s": "s",
    "session.get_spark_s": "s",
    "sources.io.load_fixture_tables_s": "s",
    "pyworker.warm_s": "s",
    "sources.io.read_file_s": "s",
    "plans.build_s": "s",
    "plans.build_share": "ratio",
    "plans.build_share_globalorder": "ratio",
    "plans.eager_jobs": "count",
    "plans.eager_stages": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.driver_gap_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.cpu_util": "ratio",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "pyworker.cpu_s": "s",
    "operators.cacheutil.persisted_mb": "MB",
    "operators.convert.convert_s": "s",
    "operators.convert.bytes_out_per_in": "ratio",
    "operators.compare.compare_files_s.positional": "s",
    "operators.compare.compare_files_s.hash": "s",
    "operators.compare.compare_files_s.hash_eps": "s",
    "operators.meta.read_parquet_meta_s": "s",
    "trace.overhead_frac": "ratio",
}

# spans whose Spark jobs are the op's execution (everything but the root
# and the plan build)
_NOT_EXEC = ("op", "plans.build")
_SPAN_MEANS = {
    "sources.io.read_file_s": "sources.io.read_file",
    "plans.build_s": "plans.build",
    "operators.convert.convert_s": "operators.convert.convert",
    "operators.compare.compare_files_s.positional":
        "operators.compare.compare_files.positional",
    "operators.compare.compare_files_s.hash": "operators.compare.compare_files.hash",
    "operators.compare.compare_files_s.hash_eps":
        "operators.compare.compare_files.hash_eps",
    "operators.meta.read_parquet_meta_s": "operators.meta.read_parquet_meta",
}
_WORK = {  # exec.* metric -> (status-store field, scale)
    "exec.jobs": ("jobs", 1),
    "exec.stages": ("stages", 1),
    "exec.tasks": ("tasks", 1),
    "exec.failed_tasks": ("failed_tasks", 1),
    "exec.task_run_s": ("run_s", 1),
    "exec.task_cpu_s": ("cpu_s", 1),
    "exec.input_mb": ("input_b", 1e-6),
    "exec.shuffle_read_mb": ("shuffle_read_b", 1e-6),
    "exec.shuffle_write_mb": ("shuffle_write_b", 1e-6),
    "exec.spill_mb": ("spill_b", 1e-6),
}


def span_table(tr: Tracer) -> dict[str, dict]:
    """Per span name: how many, total seconds, and self seconds."""
    selfs = self_times(tr.spans)
    table: dict[str, dict] = {}
    for sp in tr.spans:
        row = table.setdefault(sp.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += sp.dur
        row["self_s"] += selfs[sp.id]
    return table


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tr: Tracer, setup: dict[str, float], cold_op_s: float,
                  latency_p50_s: float, overhead: float,
                  cores: int) -> tuple[dict[str, float], dict[str, dict]]:
    m = {k: 0.0 for k in PER_LAYER}
    m["cold_op_s"] = cold_op_s
    m["latency_p50_s"] = latency_p50_s
    for k in ("session.get_spark_s", "sources.io.load_fixture_tables_s",
              "pyworker.warm_s"):
        m[k] = setup[k]
    m["trace.overhead_frac"] = overhead
    recs = tr.records
    n = len(recs) or 1
    durs: dict[str, list[float]] = {}
    build = {"all": [0.0, 0.0], "globalorder": [0.0, 0.0]}  # build, latency
    eager_jobs, eager_stages, phases, pyw = [], [], {}, []
    exec_s = gap = persisted = b_in = b_out = 0.0
    for r in recs:
        for sp in r["spans"].values():
            name, w = sp["name"], sp["work"]
            durs.setdefault(name, []).append(sp["dur"])
            if name == "plans.build":
                eager_jobs.append(w["jobs"])
                eager_stages.append(w["stages"])
                for key in ("all", "globalorder") if r["op"] in GLOBALORDER_OPS else ("all",):
                    build[key][0] += sp["dur"]
                    build[key][1] += r["latency_s"]
            elif name == "op":
                persisted += sp.get("persisted_b", 0)
                b_in += sp.get("in_b", 0)
                b_out += sp.get("out_b", 0)
            if name in _NOT_EXEC:
                continue
            exec_s += sp["dur"]
            gap += max(0.0, sp["dur"] - union_length(w["job_intervals"]))
            for k, (field, scale) in _WORK.items():
                m[k] += w[field] * scale / n
            if "pyworker_cpu_s" in sp:
                pyw.append(sp["pyworker_cpu_s"])
            for ph, secs in sp.get("phases", {}).items():
                phases.setdefault(ph, []).append(secs)
    for k, name in _SPAN_MEANS.items():
        m[k] = _mean(durs.get(name, []))
    for key, metric in (("all", "plans.build_share"),
                        ("globalorder", "plans.build_share_globalorder")):
        b, lat = build[key]
        m[metric] = b / lat if lat else 0.0
    m["plans.eager_jobs"] = _mean(eager_jobs)
    m["plans.eager_stages"] = _mean(eager_stages)
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = _mean(phases.get(ph, []))
    m["exec.action_s"] = exec_s / n
    m["exec.driver_gap_s"] = gap / n
    m["exec.cpu_util"] = m["exec.task_cpu_s"] * n / (exec_s * cores) if exec_s else 0.0
    m["pyworker.cpu_s"] = _mean(pyw)
    m["operators.cacheutil.persisted_mb"] = persisted / 1e6 / n
    m["operators.convert.bytes_out_per_in"] = b_out / b_in if b_in else 0.0
    return m, span_table(tr)
